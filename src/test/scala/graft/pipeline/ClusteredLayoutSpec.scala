package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.synth.PagesSynth

/** The z-order clustered fact-table layout: identical reads, and row-group
  * pruning measured FROM THE PARQUET FOOTERS — not asserted from theory.
  * At 100 TB the footer min/max rectangles are what a point/range predicate
  * on either (page, entity) dimension prunes with; the test counts, for a
  * panel of probes, how many row groups each layout would have to scan. */
class ClusteredLayoutSpec extends SparkTestBase {

  private val N = 600L
  private val Parts = 16

  /** (pageMin, pageMax, entMin, entMax) per parquet row group under dir. */
  private def rowGroupRects(dir: String): Seq[(Long, Long, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0).sortBy(_.getName)
    files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { blk =>
        def mm(name: String): (Long, Long) = {
          val st = blk.getColumns.asScala
            .find(_.getPath.toDotString == name).get.getStatistics
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
        val (pLo, pHi) = mm("page_id"); val (eLo, eHi) = mm("ent_id")
        (pLo, pHi, eLo, eHi)
      } finally r.close()
    }
  }

  test("clustered layout reads identically and prunes row groups on BOTH dimensions") {
    val enc = KgPipeline.encodedTriples(spark, N)
    val base = Files.createTempDirectory("clus").toString
    val plainDir = s"$base/plain"
    val clusDir = s"$base/clustered"
    EncodedGraphTable.write(enc, PagesSynth.pageDict(spark, N),
      PagesSynth.entityDict(spark), plainDir, parts = Parts)
    EncodedGraphTable.writeClustered(enc, PagesSynth.pageDict(spark, N),
      PagesSynth.entityDict(spark), clusDir, parts = Parts)

    // 1) the stored schema and content are layout-invariant: every reader
    //    (encoded and decoded) sees the same multiset
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(EncodedGraphTable.readEncoded(spark, clusDir).toDF()) ==
      canon(EncodedGraphTable.readEncoded(spark, plainDir).toDF()))
    assert(canon(EncodedGraphTable.read(spark, clusDir).toDF()) ==
      canon(EncodedGraphTable.read(spark, plainDir).toDF()))

    // 2) footer-measured pruning: overlap counts for point probes on each
    //    dimension. The hash-on-page layout scatters both keys across every
    //    file (each row group's min/max rectangle covers ~the full space);
    //    the z-ordered layout gives each row group a small rectangle, so a
    //    probe on EITHER dimension intersects a fraction of the groups.
    val plainRects = rowGroupRects(s"$plainDir/triples")
    val clusRects = rowGroupRects(s"$clusDir/triples")
    assert(plainRects.size >= Parts / 2 && clusRects.size >= Parts / 2,
      s"degenerate layout: ${plainRects.size} vs ${clusRects.size} row groups")

    val sps = spark; import sps.implicits._
    val entProbes = EncodedGraphTable.readEncoded(spark, plainDir)
      .filter(col("ent_id") >= 0).select("ent_id").distinct()
      .as[Int].collect().sorted.toSeq match {
        case es => (0 until 8).map(i => es(i * es.size / 8).toLong)
      }
    val pageProbes = (0 until 8).map(i => i * N / 8)

    def avgOverlap(rects: Seq[(Long, Long, Long, Long)], probes: Seq[Long],
        pick: ((Long, Long, Long, Long)) => (Long, Long)): Double =
      probes.map(p => rects.count { r =>
        val (lo, hi) = pick(r); lo <= p && p <= hi
      }).sum.toDouble / probes.size

    val plainEnt = avgOverlap(plainRects, entProbes, r => (r._3, r._4))
    val clusEnt = avgOverlap(clusRects, entProbes, r => (r._3, r._4))
    val plainPage = avgOverlap(plainRects, pageProbes, r => (r._1, r._2))
    val clusPage = avgOverlap(clusRects, pageProbes, r => (r._1, r._2))
    info(f"ent-dim avg row-group overlap: plain $plainEnt%.1f -> clustered $clusEnt%.1f")
    info(f"page-dim avg row-group overlap: plain $plainPage%.1f -> clustered $clusPage%.1f")
    assert(clusEnt <= plainEnt / 2,
      f"entity-dimension pruning must at least halve scanned row groups ($plainEnt%.1f -> $clusEnt%.1f)")
    assert(clusPage <= plainPage / 2,
      f"page-dimension pruning must at least halve scanned row groups ($plainPage%.1f -> $clusPage%.1f)")

    // 3) a pushed point predicate returns the same rows from both layouts
    //    (pruning never changes results, only the scanned fraction)
    val probe = entProbes(3)
    val a = spark.read.parquet(s"$plainDir/triples").filter(col("ent_id") === probe)
    val b = spark.read.parquet(s"$clusDir/triples").filter(col("ent_id") === probe)
    assert(canon(a) == canon(b))
    val scan = b.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(ent_id"),
      s"point predicate must reach the scan:\n$scan")
  }
}
