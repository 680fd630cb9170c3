package graft

import org.apache.spark.sql.functions._

/** Invariants of the doc_pack_shards sequence-packing query beyond the
  * DuckDB oracle: the shard stream is gapless and offsets respect capacity. */
class PackShardsSpec extends SparkTestBase {

  test("packing invariants: offsets under capacity, gapless shards, conserved tokens") {
    val df = SparkEntry.queries("doc_pack_shards")(spark, "/root/testdata/sf0.001")
      .cache()
    val cap = 4096L
    assert(df.filter(col("shard_offset") >= cap || col("shard_offset") < 0).count() == 0)
    // shard_id * cap + shard_offset must equal the running token total before
    // each doc (prefix-sum consistency)
    val bad = df
      .withColumn("cum_before", col("shard_id") * cap + col("shard_offset"))
      .groupBy("lang")
      .agg(sum("n_tokens").as("total"), max(col("cum_before") + col("n_tokens")).as("stream_end"))
      .filter(col("total") =!= col("stream_end"))
    assert(bad.count() == 0, "concatenated stream length must equal the token total per lang")
    // shard ids are contiguous from 0 per lang — valid only while no single
    // doc spans a whole shard (a >cap doc legitimately skips start-shards),
    // so pin that precondition first
    assert(df.filter(col("n_tokens") > cap).count() == 0,
      "corpus precondition: no document longer than one shard")
    val gaps = df.groupBy("lang").agg(max("shard_id").as("mx"),
        countDistinct("shard_id").as("n"))
      .filter(col("n") =!= col("mx") + 1)
    assert(gaps.count() == 0, "shard ids must be gapless 0..max per lang")
    df.unpersist()
  }

  test("two-phase prefix sum is bit-identical across block sizes (incl. the flat single-block case)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(blockSize: Long) =
      graft.contract.DocContracts.packShards(docs, cap = 4096L, blockSize = blockSize)
        .collect().map(_.toString).sorted.toSeq
    // blockSize >= corpus: one block per lang == the flat formulation;
    // tiny blocks force many offset-joined ranges through the same math
    val flat = canon(1L << 40)
    assert(canon(7) == flat, "blockSize=7 diverged")
    assert(canon(64) == flat, "blockSize=64 diverged")
  }
}
