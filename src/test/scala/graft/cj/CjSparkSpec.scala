package graft.cj

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestBase
import graft.model.Triple

/** Distributed conversion must equal the golden fixtures as a SET at
  * P/R = 1.0 under any partitioning (the north-star correctness gate,
  * exercised through the Spark surface rather than the pure function). */
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

  test("distributed conversion of the reference corpus matches golden at P/R = 1.0") {
    val corpus = CjSpark.referenceCorpus(spark)
    val ours = CjSpark.convert(corpus).collect().toSet
    val golden = goldenSet()
    // ontology triples repeat across documents with identical IRIs; the
    // golden union also contains them once per doc -> set view aligns
    val inter = (ours intersect golden).size.toDouble
    assert(inter / ours.size == 1.0, s"precision ${inter / ours.size}")
    assert(inter / golden.size == 1.0, s"recall ${inter / golden.size}")
  }

  test("conversion is partition-invariant through the Spark surface") {
    CjFixtures.corpora.foreach { dir =>
      val corpus = CjSpark.referenceCorpus(spark, dir)
      val a = CjSpark.convert(corpus.repartition(1)).collect().toSet
      val b = CjSpark.convert(corpus.repartition(7)).collect().toSet
      assert(a == b, dir)
    }
  }

  test("the cj_* contract queries read the corpus setting") {
    assert(CjSpark.corpusDir(spark) == CjSpark.DefaultCorpus)
    spark.conf.set(CjSpark.CorpusKey, CjFixtures.dir)
    try {
      def run(q: String) = graft.SparkEntry.queries(q)(spark, "unused").collect()
      def rows(q: String) = run(q).map(_.toString).sorted.toSeq
      val stats = run("cj_doc_stats")
        .map(r => r.getAs[String]("doc_iri") -> r.getAs[Boolean]("failed")).toMap
      assert(stats.keySet == Set("cj:cube", "cj:empty", "cj:failing_object", "cj:material_color",
        "cj:semantic_faces", "cj:template_insert", "cj:tetra", "cj:texture_uv"), stats)
      assert(stats.filter(_._2).keySet == Set("cj:empty"))
      // the mapPartitions and DSv2 paths share one oracle
      assert(rows("cj_triples_by_pred") == rows("cj_triples_by_pred_dsv2"))
      assert(rows("cj_log_categories").nonEmpty)
    } finally spark.conf.unset(CjSpark.CorpusKey)
    assert(CjSpark.corpusDir(spark) == CjSpark.DefaultCorpus)
  }

  test("per-document stats isolate failures without failing the task") {
    import org.apache.spark.sql.{Dataset}
    val sps = spark; import sps.implicits._
    val docs: Dataset[CjSpark.CjDoc] = spark.createDataset(Seq(
      CjSpark.CjDoc("t:bad", "{not json"),
      CjSpark.CjDoc("t:ok", """{"type":"CityJSON","version":"1.1","vertices":[],"CityObjects":{}}""")))
    val stats = CjSpark.convertStats(docs).collect().map(r => r.doc_iri -> r).toMap
    assert(stats("t:bad").failed && stats("t:bad").n_triples == 0)
    assert(!stats("t:ok").failed && stats("t:ok").n_triples > 0)
  }
}
