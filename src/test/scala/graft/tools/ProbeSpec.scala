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
