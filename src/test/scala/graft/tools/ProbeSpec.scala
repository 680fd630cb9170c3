package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import graft.SparkTestBase

/** Probe's contract, hermetic: the sf directory is a name only (`sf0.001`
  * under a fresh temp dir, never created), so the synthesized-corpus
  * queries run and the ones reading sf tables fail. */
class ProbeSpec extends SparkTestBase {

  private lazy val sfDir = Files.createTempDirectory("probe").resolve("sf0.001").toString

  private def probe(reps: Int, names: String*): (Int, Vector[String]) = {
    val buf = new ByteArrayOutputStream()
    val status = Console.withOut(buf)(Probe.run(spark, sfDir, reps, names))
    (status, buf.toString("UTF-8").linesIterator.toVector)
  }

  private def timed(out: Vector[String], name: String): Vector[String] =
    out.filter(_.startsWith(s"TIME $name pass="))

  test("a synthesized-corpus query prints its plan and one timed line per rep") {
    val (status, out) = probe(2, "kg_top_entities")
    assert(status == 0)
    assert(out.contains("PLAN kg_top_entities"))
    assert(out.exists(_.startsWith("== Physical Plan ==")))
    val Pass = """TIME kg_top_entities pass=(\d+) sec=\d+\.\d{3}""".r
    assert(timed(out, "kg_top_entities").collect { case Pass(i) => i } == Vector("0", "1"))
    assert(out.exists(_.startsWith("  stage=")), "per-stage lines follow each pass")
    assert(!out.exists(_.startsWith("FAILED")))
  }

  test("each timed pass is followed by its own stages, drained from the listener bus") {
    // kg_top_entities aggregates: every pass runs a shuffle map stage and
    // the stage that reads it
    val (status, out) = probe(3, "kg_top_entities")
    assert(status == 0)
    val Stage = """  stage=(\d+)\s+tasks=(\d+)\s.*""".r
    val passes = out.dropWhile(!_.startsWith("TIME ")).foldLeft(Vector.empty[Vector[(Int, Int)]]) {
      case (acc, l) if l.startsWith("TIME ") => acc :+ Vector.empty
      case (acc, Stage(id, tasks)) => acc.init :+ (acc.last :+ ((id.toInt, tasks.toInt)))
      case (acc, _) => acc
    }
    assert(passes.size == 3)
    passes.foreach(p => assert(p.size >= 2, s"a shuffle pass lists both its stages: $passes"))
    // a pass holds only its own stages: ids never repeat or run backwards
    passes.zip(passes.tail).foreach { case (a, b) =>
      assert(a.map(_._1).max < b.map(_._1).min, passes.toString)
    }
    assert(passes.forall(_.exists(_._2 > 1)), s"a stage runs more than one task: $passes")
  }

  test("reps = 0 prints the plan only") {
    val (status, out) = probe(0, "kg_top_entities")
    assert(status == 0)
    assert(out.contains("PLAN kg_top_entities"))
    assert(out.exists(_.startsWith("== Physical Plan ==")))
    assert(timed(out, "kg_top_entities").isEmpty)
  }

  test("a throwing query is FAILED, never timed, and the status is 1") {
    val (status, out) = probe(1, "q1_pricing", "kg_top_entities")
    assert(status == 1)
    assert(out.exists(_.startsWith("FAILED q1_pricing: ")))
    assert(timed(out, "q1_pricing").isEmpty)
    // the failure does not stop the queries after it
    assert(timed(out, "kg_top_entities").size == 1)
  }
}
