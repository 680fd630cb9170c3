package graft.cj

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import graft.model.Triple

/** Corpus-scale conversion through Spark (`spark.read.format("cityjson")`)
  * must equal the golden fixtures as a SET at P/R = 1.0 under any
  * partitioning (the north-star correctness gate, exercised through the
  * Spark surface rather than the pure function). */
class CjSparkSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()

  private def goldenSet(): Set[Triple] = {
    Files.list(Paths.get("golden")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".triples.ndjson")).toVector
      .flatMap { p =>
        Files.readAllLines(p).asScala.map { line =>
          val n = mapper.readTree(line)
          def s(f: String) = Option(n.get(f)).map(_.asText).orNull
          Triple(s("subj"), s("pred"), s("obj_iri"), s("obj_lit"), s("obj_type"))
        }
      }.toSet
  }

  private def triples(dir: String) =
    spark.read.format("cityjson").load(dir).select("subj", "pred", "obj_iri", "obj_lit", "obj_type")

  test("distributed conversion of the reference corpus matches golden at P/R = 1.0") {
    val sps = spark; import sps.implicits._
    val ours = triples(CityJsonSource.corpusDir(spark)).as[Triple].collect().toSet
    val golden = goldenSet()
    // ontology triples repeat across documents with identical IRIs; the
    // golden union also contains them once per doc -> set view aligns
    val inter = (ours intersect golden).size.toDouble
    assert(inter / ours.size == 1.0, s"precision ${inter / ours.size}")
    assert(inter / golden.size == 1.0, s"recall ${inter / golden.size}")
  }

  test("conversion is partition-invariant through the Spark surface") {
    def rows(dir: String) = {
      val df = triples(dir)
      (df.rdd.getNumPartitions, df.collect().map(_.toString).sorted.toSeq)
    }
    CjFixtures.corpora.foreach { dir =>
      val (packed, a) = rows(dir)
      // every file its own input partition
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      val (single, b) = try rows(dir) finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      assert(packed < single, s"$dir: $packed vs $single partitions")
      assert(a == b, dir)
    }
  }

  test("the cj_* contract queries read the corpus setting") {
    assert(CityJsonSource.corpusDir(spark) == CityJsonSource.DefaultCorpus)
    spark.conf.set(CityJsonSource.CorpusKey, CjFixtures.dir)
    try {
      def run(q: String) = graft.SparkEntry.queries(q)(spark, "unused").collect()
      def rows(q: String) = run(q).map(_.toString).sorted.toSeq
      val stats = run("cj_doc_stats")
        .map(r => r.getAs[String]("doc_iri") -> r.getAs[Boolean]("failed")).toMap
      assert(stats.keySet == Set("cj:cube", "cj:empty", "cj:failing_object", "cj:material_color",
        "cj:semantic_faces", "cj:template_insert", "cj:tetra", "cj:texture_uv"), stats)
      assert(stats.filter(_._2).keySet == Set("cj:empty"))
      // the two names share one oracle
      assert(rows("cj_triples_by_pred") == rows("cj_triples_by_pred_dsv2"))
      assert(rows("cj_log_categories").nonEmpty)
    } finally spark.conf.unset(CityJsonSource.CorpusKey)
    assert(CityJsonSource.corpusDir(spark) == CityJsonSource.DefaultCorpus)
  }

  test("per-document stats isolate failures without failing the task") {
    val dir = Files.createTempDirectory("cjfail")
    Files.write(dir.resolve("bad.json"), "{not json".getBytes("UTF-8"))
    Files.write(dir.resolve("ok.json"),
      """{"type":"CityJSON","version":"1.1","vertices":[],"CityObjects":{}}""".getBytes("UTF-8"))
    val stats = spark.read.format("cityjson").option("output", "docs").load(dir.toString).collect()
      .map(r => r.getAs[String]("doc_iri") -> (r.getAs[Long]("n_triples"), r.getAs[Boolean]("failed"))).toMap
    assert(stats("cj:bad") == ((0L, true)))
    val (nOk, okFailed) = stats("cj:ok")
    assert(!okFailed && nOk > 0)
    val docs = spark.read.format("cityjson").load(dir.toString).select("doc_iri").collect().map(_.getString(0))
    assert(docs.toSeq == Seq.fill(nOk.toInt)("cj:ok"))
  }
}
