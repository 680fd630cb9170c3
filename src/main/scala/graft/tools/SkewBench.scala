package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.model.Triple
import graft.pipeline.KgPipeline
import graft.util.GraftSession

/** Measures what the salted graph write actually buys under planted skew
  * (the north rule's hot-host clause): a corpus where ONE host-level
  * subject owns 30% of all triples — the link-farm / megasite shape — is
  * written once keyed on bare `subj` and once through
  * [[KgPipeline.saltedForWrite]], and the output partition sizes are
  * compared. Keyed on subj alone, the hot host pins ~30% of the corpus
  * into a single partition (one straggler task writes, one reader task
  * scans); salted, the hot subject fans over `saltFanout` buckets and the
  * max partition is bounded by ~(hot_share / fanout + balanced_share).
  *
  * Prints one JSON line with max/median partition bytes for both layouts.
  *
  * Usage: runMain graft.tools.SkewBench [pages] [cores]
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val pages = if (args.nonEmpty) args(0).toLong else 2000000L
    val cores = if (args.length > 1) args(1).toInt else 16
    val parts = 32

    val spark = GraftSession.local(cores)
    // AQE would coalesce/split the demo partitions; measure the raw layout
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._

    // planted Zipf-hot-host corpus: host 0 owns 30% of pages, the rest
    // spread over 997 hosts; subject = host node (the skew-bearing key)
    val triples: Dataset[Triple] = spark.range(0, pages, 1, 64).map { i =>
      // floorMod: the multiply overflows Long past ~3.5e9 pages and a plain
      // % would then yield negative host ids, skewing the planted distribution
      val host = if (i % 10 < 3) 0L else 1 + Math.floorMod(i * 2654435761L, 997L)
      Triple(s"web:host/$host", "web:hosts", s"https://host-$host.example/p/$i", null, null)
    }

    def partStats(dir: String): (Long, Long, Int) = {
      val sizes = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.length()).sorted
      (sizes.last, sizes(sizes.length / 2), sizes.length)
    }

    val base = Files.createTempDirectory("skew").toString
    triples.repartition(parts, col("subj"))
      .write.parquet(s"$base/unsalted")
    KgPipeline.saltedForWrite(triples, parts).write.parquet(s"$base/salted")

    val (umax, umed, un) = partStats(s"$base/unsalted")
    val (smax, smed, sn) = partStats(s"$base/salted")
    println(f"""{"skew_bench":true,"pages":$pages,"parts":$parts,"hot_share":0.30,"unsalted":{"files":$un,"max_bytes":$umax,"median_bytes":$umed,"max_over_median":${umax.toDouble / umed}%.2f},"salted":{"files":$sn,"max_bytes":$smax,"median_bytes":$smed,"max_over_median":${smax.toDouble / smed}%.2f}}""")
    spark.stop()
  }
}
