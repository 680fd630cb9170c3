package graft.contract

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal plumbing over a fixed 500-blob synthetic input (stubbed
  * codecs). The oracles are frozen fixtures under `golden/frozen/common/`:
  * the input does not depend on the scale, and DuckDB never decodes a
  * PNG/WAV/AVI — it only compares the frozen table. */
object MmContracts extends Family {

  val contracts: Seq[Contract] = Seq(

    // the mm_* codec queries run on a fixed 500-blob synthetic input
    // (sf-independent), so their frozen fixtures live under common/; DuckDB
    // never decodes a PNG/WAV/AVI — it only compares the frozen table
    Contract("mm_decode_meta", { implicit in =>
      Multimodal.decodeMeta(Multimodal.syntheticMedia(spark, 500))
    }, frozenSql("common", "mm_decode_meta")),

    Contract("mm_frame_sample", { implicit in =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(spark, 500))
        .groupBy("media_id").agg(count(lit(1)).as("n_frames_sampled"))
    }, frozenSql("common", "mm_frame_sample")),

    Contract("mm_resize", { implicit in =>
      // resize plumbing: re-decode after resize must yield the target dims
      Multimodal.decodeMeta(Multimodal.resize(Multimodal.syntheticMedia(spark, 500), 32, 32))
        .groupBy("kind").agg(count(lit(1)).as("n_media"),
          sum(when(col("width") === 32 && col("height") === 32, 1L).otherwise(0L)).as("n_at_target"))
    }, frozenSql("common", "mm_resize")),

    Contract("mm_features", { implicit in =>
      // feature extraction over the real image codec (pixel luminance) and
      // the stub containers (byte histogram); per-kind vector stats
      val media = Multimodal.syntheticMedia(spark, 500)
      Multimodal.features(media)
        .join(media.select("media_id", "kind"), "media_id")
        .select(col("kind"), element_at(col("feature"), 16).as("top_bucket"))
        .groupBy("kind").agg(count(lit(1)).as("n_media"),
          round(avg(col("top_bucket")), 4).as("avg_top_bucket_mass"))
    }, frozenSql("common", "mm_features"))
  )
}
