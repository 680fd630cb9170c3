package graft.cj

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.model.{LogRow, Triple}

/** Distributed CityJSON conversion: the pure per-document emitter
  * ([[CjConvert]]) lifted over a corpus as a narrow mapPartitions stage —
  * the Spark-native generalization of the reference's one-document-per-
  * process CLI (cityJSON2bin/Main.cpp). Per-document failures are isolated
  * inside the emitter (partial triples + logs), so a bad document can never
  * fail a task.
  *
  * Determinism: CjConvert output is a pure function of (docIri, bytes), so
  * conversion is partition-invariant; ontology triples are emitted per
  * document with identical IRIs — corpus-level `distinct` collapses them
  * (the distributed analog of the reference's created-once classes).
  */
object CjSpark {

  final case class CjDoc(doc_iri: String, json: String)
  final case class DocResult(doc_iri: String, n_triples: Long, n_errors: Long, failed: Boolean)

  def convert(docs: Dataset[CjDoc]): Dataset[Triple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.flatMap(d => CjConvert.convert(d.doc_iri, d.json).triples))
  }

  /** The conversion logs; the triples are dropped as they are emitted. */
  def convertLogs(docs: Dataset[CjDoc]): Dataset[LogRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.flatMap(d => CjConvert.convertTo(CjSink.Discard, d.doc_iri, d.json).logs))
  }

  /** per-document conversion summary (progress/metrics sink analog, S5);
    * the triples are counted as they are emitted, never kept. */
  def convertStats(docs: Dataset[CjDoc]): Dataset[DocResult] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.map { d =>
      val count = new CjSink.Count
      val r = CjConvert.convertTo(count, d.doc_iri, d.json)
      DocResult(d.doc_iri, if (r.docFailed) 0L else count.n,
        r.logs.count(_.level == "Error").toLong, r.docFailed)
    })
  }

  /** Session conf key naming the CityJSON corpus directory that the `cj_*`
    * contract queries read. Like any `spark.*` key it can also be passed as
    * a `-D` JVM system property, which is how session-less tools read it. */
  val CorpusKey = "spark.graft.cj.corpus"
  /** Where the corpus is read from when [[CorpusKey]] is unset: the
    * reference converter's example corpus (FIXTURES.md §1). */
  val DefaultCorpus = "/root/reference/examples"

  def corpusDir(spark: SparkSession): String = spark.conf.get(CorpusKey, DefaultCorpus)

  /** The corpus at [[corpusDir]] as a Dataset. */
  def referenceCorpus(spark: SparkSession): Dataset[CjDoc] =
    referenceCorpus(spark, corpusDir(spark))

  /** The `*.city.json` documents under `dir` as a Dataset (read-only).
    *
    * Read through the `binaryFile` source so EXECUTORS load the bytes from a
    * FileScan — a driver-side `Files.readString` + `createDataset` ships
    * every document inside the task closure (3 MB tasks at 12 fixtures, a
    * driver bottleneck at any real corpus). The doc IRI derives from the
    * file name, matching the golden fixtures. */
  def referenceCorpus(spark: SparkSession, dir: String): Dataset[CjDoc] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.city.json")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val stem = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".city.json")
        CjDoc(s"cj:$stem", new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      }
      // spread the 12 fixtures over tasks (sizes are skewed: DenHaag is 3 MB,
      // tetra is 1 KB — binaryFile packs by bytes, which would serialize the
      // small fixtures behind the big ones in one task)
      .repartition(12)
  }
}
