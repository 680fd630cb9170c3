package perfbench

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.cj.CjConvert
import graft.model.{Triple, Vocab => V}
import graft.pipeline.KgPipeline
import graft.synth.PagesSynth

/** The benchmark's own tests: input determinism, the Spark/driver digest
  * agreement the checks rely on, and that a wrong or throwing op lowers
  * `ok_share`. Run with `python3 perfbench/test.py`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; System.err.println(s"PASS $name") }
    catch { case NonFatal(e) => failures += 1; System.err.println(s"FAIL $name: $e") }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val work = Main.parse(argv).work
    val spark = Main.session(work)
    try run(spark, work) finally spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }

  def run(spark: SparkSession, work: Path): Unit = {
    import spark.implicits._

    check("same seed gives the same corpus bytes, another seed other bytes") {
      CityGen.writeCorpus(7, work.resolve("a"), docs = 6)
      CityGen.writeCorpus(7, work.resolve("b"), docs = 6)
      CityGen.writeCorpus(8, work.resolve("c"), docs = 6)
      require(files(work.resolve("a")) == files(work.resolve("b")), "seed 7 corpora differ")
      require(files(work.resolve("a")) != files(work.resolve("c")), "seeds 7 and 8 gave the same corpus")
      require(CityGen.objectCounts(7) == CityGen.objectCounts(7))
    }

    check("same seed gives the same page window and expected digest") {
      val (a, b) = (WebInputs.window(7), WebInputs.window(7))
      require(a == b, s"windows $a != $b")
      require((1 to 20).map(s => WebInputs.window(s.toLong)).distinct.size > 1, "seed does not move the window")
      val e1 = WebInputs.expected(spark, a, 500)
      val e2 = WebInputs.expected(spark, b, 500)
      require(e1._2.triples > 0 && e1._2.triples < e1._1.triples, s"mention edges $e1")
      require(e1 == e2, s"$e1 != $e2")
    }

    val doc = CityGen.doc(3, 0, 60)
    val cj = CjConvert.convert("cj:t", doc.json)

    check("generated documents log exactly the predicted messages") {
      require(cj.logs.size == doc.expectedLogs, s"${cj.logs.size} logs, predicted ${doc.expectedLogs}")
      require(cj.logs.exists(_.category.startsWith("Number of texture indecies mismatches")))
    }

    check("the building styles match their fixtures' triples and logs per object within 10%") {
      // golden/SUMMARY.tsv: DenHaag_01 369804 triples and 16210 logs over
      // 2498 objects; Rotterdam_3-20-DELFSHAVEN 99057 and 853 over 853
      for ((style, triples, logs) <- Seq((CityGen.Style.Block, 369804.0 / 2498, 16210.0 / 2498),
          (CityGen.Style.Textured, 99057.0 / 853, 853.0 / 853))) {
        val d = CityGen.doc(11, 0, 400, Some(style))
        val r = CjConvert.convert("cj:cal", d.json)
        val (t, l) = (r.triples.size / 400.0, r.logs.size / 400.0)
        require(math.abs(t / triples - 1) < 0.1 && math.abs(l / logs - 1) < 0.1,
          f"$style: $t%.1f triples and $l%.2f logs per object, fixture $triples%.1f and $logs%.2f")
        System.err.println(f"  $style: $t%.1f triples and $l%.2f logs per object (fixture $triples%.1f and $logs%.2f)")
      }
    }

    check("driver-side digest equals Spark's digest") {
      val d1 = Digest.ofTriples(cj.triples.iterator)
      val d2 = Digest.of(spark.createDataset(cj.triples).toDF())
      require(d1 == d2, s"$d1 != $d2")
      val moved = cj.triples.head.copy(obj_iri = null, obj_lit = cj.triples.head.obj_iri)
      require(Digest.ofTriples((moved +: cj.triples.tail).iterator) != d1, "digest ignores a value moving columns")
    }

    check("a planted wrong triple and a planted throwing op lower ok_share") {
      val n = 2000L
      val off = WebInputs.window(5)
      val expected = WebInputs.expected(spark, off, n)._1
      def triples = KgPipeline.pageTriples(KgPipeline.extracted(WebInputs.pages(spark, off, n)), PagesSynth.aliasMap)
        .unionAll(KgPipeline.ontologyTriples(spark))
      val planted = spark.createDataset(Seq(Triple("https://host-0.example/p/0", V.RdfType, V.WebPage, null, null)))
      val ops: Seq[Int => Harness.Outcome] = Seq(
        _ => Harness.Outcome(Seq("good" -> Digest.of(triples.toDF()))),
        _ => Harness.Outcome(Seq("wrong" -> Digest.of(triples.unionAll(planted).toDF()))),
        _ => throw new IllegalStateException("planted failure"))
      val recs = ops.zipWithIndex.map { case (op, i) => Harness.runOp(i, expected, op) }
      val s = Harness.summarize(recs)
      require(recs.map(_.passed) == Seq(true, false, false), s"pass flags ${recs.map(_.passed)}")
      require(s.attempted == 3 && s.passed == 1 && s.okShare < 1, s"summary $s")
      require(recs(2).threw && recs(2).wallS.isNaN, "the throwing op carries a time")
      require(s.opP50S == recs(0).wallS, "a failed op entered the op time")
      require(s.triplesPerS == expected.triples / recs(0).wallS, "a failed op entered triples_per_s")
    }
  }
}
