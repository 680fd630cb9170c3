package graft.cj

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite

/** The one-document API (`CityJsonRdf.open`, the reference's
  * `CityJsonRDF::Open`) over the in-repo fixtures: its model, its progress
  * callbacks and its log callbacks. */
class CityJsonRdfSpec extends AnyFunSuite {

  private def fixture(name: String): String = Paths.get(CjFixtures.dir, name).toString

  /** Records the progress and log callbacks in call order. */
  private final class Recorder extends CityJsonRdf.Progress with CityJsonRdf.Log {
    val progress = ArrayBuffer[String]()
    val logs = ArrayBuffer[(String, String, String, String)]()
    def start(range: Int): Unit = progress += s"start($range)"
    def step(): Unit = progress += "step"
    def finish(): Unit = progress += "finish"
    def message(level: String, category: String, msg: String, state: String): Unit =
      logs += ((level, category, msg, state))
  }

  test("open gives convert's triples and reports start(n), n steps, finish for n city objects") {
    val path = fixture("tetra.city.json")
    val want = CjConvert.convert("cj:tetra", Files.readString(Paths.get(path)))
    val rec = new Recorder
    assert(CityJsonRdf.open(path, rec, rec) == Some(want.triples))
    val n = want.cityObjectCount
    assert(n > 0)
    assert(rec.progress.toSeq == (s"start($n)" +: Seq.fill(n)("step")) :+ "finish")
    assert(rec.logs.toSeq == want.logs.map(l => (l.level, l.category, l.msg, l.path)))
  }

  test("a document-level failure gives None and its logs reach the Log callback") {
    val path = fixture("empty.city.json")
    val want = CjConvert.convert("cj:empty", Files.readString(Paths.get(path)))
    assert(want.docFailed && want.logs.nonEmpty)
    val rec = new Recorder
    assert(CityJsonRdf.open(path, rec, rec).isEmpty)
    assert(rec.logs.toSeq == want.logs.map(l => (l.level, l.category, l.msg, l.path)))
  }

  test("a missing file gives None and a 'Failed to open file' log") {
    val path = fixture("no_such_document.city.json")
    val rec = new Recorder
    assert(CityJsonRdf.open(path, rec, rec).isEmpty)
    assert(rec.progress.isEmpty)
    assert(rec.logs.toSeq == Seq(("Error", "Failed to open file '%s'", s"Failed to open file '$path'", "")))
  }
}
