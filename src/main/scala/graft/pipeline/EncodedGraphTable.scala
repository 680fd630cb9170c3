package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Triple
import graft.pipeline.KgPipeline.EncTriple

/** The dictionary-encoded graph TABLE — the 100 TB storage shape the
  * encoded stream implies: triples land as FIXED-WIDTH numeric rows
  * (≈40 B vs ≈117 B Tungsten, and far less on disk after parquet's
  * delta/dictionary encodings on integer columns), with the string
  * dictionaries written as sidecar TABLES:
  *
  *   target/triples/        (page_id, pred_id, ent_id, lit) parquet
  *   target/dict_pages/     (page_id, url)  — the page dictionary, WRITTEN
  *                          FROM DATA (a web-scale corpus has 10^12 rows
  *                          here; it is a real table, never a broadcast map)
  *   target/dict_entities/  (ent_id, iri)   — likewise data, 10^7-10^9 rows
  *                          at a web-scale KG
  *   target/dict_preds/     (pred_id, iri)  — closed vocabulary, tiny
  *   target/dict_langs/     (lang_id, lang) — closed vocabulary, tiny
  *
  * `read` decodes at the consumer edge FROM THE STORED SIDECARS by JOINING
  * the fact table to the page and entity dictionaries (AQE picks broadcast
  * vs shuffle by actual dictionary size — at this corpus's scale both
  * broadcast; at web scale they become shuffle joins, which is the only
  * shape that survives an unbounded vocabulary). Only the CLOSED pred/lang
  * vocabularies decode via in-plan literal maps. Nothing here knows how the
  * corpus was synthesized — the storage layer reads what the writer stored
  * (the reference analog: instance names come from the document, not a
  * formula — CityModel.cpp:361).
  *
  * Scans that filter on predicate or entity push integer comparisons down
  * to parquet (min/max + dictionary pages) — the cheap-scan shape string
  * tables cannot match at scale.
  */
object EncodedGraphTable {

  /** Write the encoded fact table plus its dictionary sidecars. `pageDict`
    * (page_id, url) and `entityDict` (ent_id, iri) arrive as DATA — the
    * writer owns their provenance; the open-vocabulary dictionaries keep
    * their own partitioning (they scale with the corpus), the closed
    * pred/lang vocabularies coalesce to single tiny files. */
  def write(enc: Dataset[EncTriple], pageDict: DataFrame, entityDict: DataFrame,
            target: String, parts: Int = 32): Unit = {
    enc.repartition(parts, col("page_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$target/triples")
    writeSidecars(enc.sparkSession, pageDict, entityDict, target, parts)
  }

  /** Z-order clustered variant of the fact-table write: rows are
    * range-partitioned AND sorted within files by the Morton interleave of
    * (page_id, ent_id) ([[graft.functions.ZorderExpr]]), so every parquet
    * row group covers a small min/max RECTANGLE in (page, entity) space and
    * a filter on EITHER dimension skips most row groups on footer stats —
    * one layout serving both the by-subject and the by-object access path,
    * where the plain `write` layout (hash on page_id) serves only the
    * first. The z column is a write-time ordering key only; the stored
    * schema is identical to `write`'s, so every reader works unchanged.
    * Dictionary sidecars ride along exactly as in `write`.
    * Row-group pruning is measured, not assumed — `ClusteredLayoutSpec`
    * counts overlapping row groups from the parquet footers of both
    * layouts. */
  def writeClustered(enc: Dataset[EncTriple], pageDict: DataFrame, entityDict: DataFrame,
            target: String, parts: Int = 32): Unit = {
    val spark = enc.sparkSession
    graft.functions.ZorderExpr.register(spark)
    // page_id stays a long into the interleave: ZorderExpr narrows it with a
    // LOUD 32-bit check (a silent cast would fold far-apart pages together
    // and quietly destroy the locality this layout exists for)
    val z = graft.functions.ZorderExpr.graft_zorder(col("page_id"), col("ent_id"))
    enc.toDF().withColumn("_z", z)
      .repartitionByRange(parts, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(s"$target/triples")
    writeSidecars(spark, pageDict, entityDict, target, parts)
  }

  /** Dictionary sidecars, shared by both fact-table layouts. */
  private def writeSidecars(spark: SparkSession, pageDict: DataFrame,
      entityDict: DataFrame, target: String, parts: Int): Unit = {
    import spark.implicits._
    pageDict.select(col("page_id").cast("long"), col("url"))
      .repartition(math.max(1, parts / 4), col("page_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$target/dict_pages")
    entityDict.select(col("ent_id").cast("int"), col("iri"))
      .repartition(math.max(1, parts / 8), col("ent_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$target/dict_entities")
    KgPipeline.PredVocab.zipWithIndex.map { case (iri, id) => (id, iri) }
      .toDF("pred_id", "iri").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$target/dict_preds")
    KgPipeline.Langs.zipWithIndex.map { case (l, id) => (id, l) }
      .toDF("lang_id", "lang").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$target/dict_langs")
  }

  /** The raw encoded relation (for consumers that stay in id space —
    * aggregations, degree counts, joins — and never pay string decode). */
  def readEncoded(spark: SparkSession, target: String): Dataset[EncTriple] = {
    import spark.implicits._
    spark.read.parquet(s"$target/triples").as[EncTriple]
  }

  /** The stored page dictionary table (page_id, url). */
  def readPageDict(spark: SparkSession, target: String): DataFrame =
    spark.read.parquet(s"$target/dict_pages")

  /** The stored entity dictionary table (ent_id, iri). */
  def readEntityDict(spark: SparkSession, target: String): DataFrame =
    spark.read.parquet(s"$target/dict_entities")

  /** Decoded read: strings materialize HERE, by joining the fact table to
    * the stored page and entity dictionary tables (the scale-safe decode —
    * no dictionary ever touches the driver), then decoding the closed
    * pred/lang vocabularies in-plan. Multiset-identical to the string
    * pipeline's page triples. */
  def read(spark: SparkSession, target: String): Dataset[Triple] = {
    val preds = spark.read.parquet(s"$target/dict_preds")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap // closed vocab: 5 rows
    val langs = spark.read.parquet(s"$target/dict_langs")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap // closed vocab: 5 rows
    val fact = spark.read.parquet(s"$target/triples")
    // LEFT join + raise_error, mirroring the ent_iri path: an inner join
    // would silently DROP fact rows whose page_id is missing from a
    // corrupt/stale page sidecar — both dictionary misses must fail loudly
    val withUrl = fact
      .join(readPageDict(spark, target), Seq("page_id"), "left")
      .withColumn("url", coalesce(col("url"),
        raise_error(concat(lit("page_id missing from dict_pages: "),
          col("page_id").cast("string")))))
      .join(readEntityDict(spark, target).withColumnRenamed("iri", "ent_iri"),
        Seq("ent_id"), "left") // ent_id = -1 on non-mention rows
    KgPipeline.decodeColumns(withUrl, preds, langs)
  }
}
