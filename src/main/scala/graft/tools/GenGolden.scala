package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.cj.{CityJsonSource, CjConvert, CjSettings}
import graft.model.Triple

/** Generates the golden triple fixtures (FIXTURES.md §2): runs the frozen
  * reference-semantics emitter over every reference example document and
  * writes `golden/<stem>.triples.ndjson` + a `golden/SUMMARY.tsv`.
  * Usage: `GenGolden [corpusDir [outDir]]`; the corpus defaults to the
  * `-Dspark.graft.cj.corpus` setting ([[graft.cj.CityJsonSource.CorpusKey]]), else
  * [[graft.cj.CityJsonSource.DefaultCorpus]], and the output to `golden`.
  *
  * The golden files are checked in; `CjGoldenSpec` locks the emitter against
  * them, so any semantic drift in the converter is caught as a diff.
  */
object GenGolden {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def tsvField(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")

  /** category-deduped log view (the CLI contract, Main.cpp:63-65):
    * count + first-seen representative per category, deterministic order
    * (count desc, then category) so the golden lock is stable. Structured
    * TSV (header `n level category msg path`) so the corpus-level log
    * queries (`cj_log_categories`) can be cross-checked in DuckDB. */
  def logTsv(logs: Vector[graft.model.LogRow]): String = {
    val logLines = logs.groupBy(_.category).toVector
      .sortBy { case (cat, rows) => (-rows.size, cat) }
      .map { case (cat, rows) =>
        val h = rows.head
        s"${rows.size}\t${h.level}\t${tsvField(cat)}\t${tsvField(h.msg)}\t${tsvField(h.path)}"
      }
    logLines.mkString("n\tlevel\tcategory\tmsg\tpath\n", "\n", "\n")
  }

  def tripleJson(t: Triple): String = {
    val sb = new StringBuilder(96)
    sb.append("{\"subj\":\"").append(esc(t.subj))
      .append("\",\"pred\":\"").append(esc(t.pred)).append('"')
    if (t.obj_iri != null) sb.append(",\"obj_iri\":\"").append(esc(t.obj_iri)).append('"')
    if (t.obj_lit != null) sb.append(",\"obj_lit\":\"").append(esc(t.obj_lit)).append('"')
    if (t.obj_type != null) sb.append(",\"obj_type\":\"").append(esc(t.obj_type)).append('"')
    sb.append('}')
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val examplesDir = Paths.get(if (args.nonEmpty) args(0)
      else sys.props.getOrElse(CityJsonSource.CorpusKey, CityJsonSource.DefaultCorpus))
    val outDir = Paths.get(if (args.length > 1) args(1) else "golden")
    Files.createDirectories(outDir)

    val files = Files.list(examplesDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".city.json")).toVector.sortBy(_.getFileName.toString)

    val summary = new StringBuilder("fixture\ttriples\tcity_objects\tlogs\terror_logs\n")
    files.foreach { f =>
      val stem = f.getFileName.toString.stripSuffix(".city.json")
      val bytes = Files.readAllBytes(f)
      val t0 = System.nanoTime()
      val res = CjConvert.convert(CityJsonSource.docIriFor(f.toString), bytes, CjSettings.default)
      val secs = (System.nanoTime() - t0) / 1e9
      val out = outDir.resolve(s"$stem.triples.ndjson")
      val w = Files.newBufferedWriter(out)
      try res.triples.foreach { t => w.write(tripleJson(t)); w.write("\n") }
      finally w.close()
      val nErr = res.logs.count(_.level == "Error")
      summary.append(s"$stem\t${res.triples.size}\t${res.cityObjectCount}\t${res.logs.size}\t$nErr\n")
      println(f"$stem%-40s triples=${res.triples.size}%8d objects=${res.cityObjectCount}%6d logs=${res.logs.size}%4d errors=$nErr%3d  ${secs}%6.2fs")
      Files.writeString(outDir.resolve(s"$stem.logs.tsv"), logTsv(res.logs))
    }
    Files.writeString(outDir.resolve("SUMMARY.tsv"), summary.toString)
  }
}
