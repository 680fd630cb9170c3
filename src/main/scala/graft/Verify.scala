package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.util.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings — dump only the
    // matching queries (local iteration; the driver always passes 2 args).
    // Aux dumps always run: oracles recompute from them.
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // aux input dumps: oracles recompute distributed ops from these
    // ({OUT} in the SQL resolves to this outDir)
    SparkEntry.auxDumps.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outAbs = new java.io.File(outDir).getAbsolutePath
    // {SF} keys the frozen-value oracles by sweep scale (golden/frozen/<sf>/)
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", outAbs).replace("{SF}", sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
