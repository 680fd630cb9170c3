package graft.pipeline

import graft.SparkTestBase
import graft.model.Triple
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten semantics on the snapshotted graph table:
  * forget = a versioned anti-join commit (auditable, time-travelable),
  * erasure = forget + expire (rows physically leave the store). */
class ForgetSpec extends SparkTestBase {

  private def freshTable() = {
    val sp = spark; import sp.implicits._
    val rows = (0 until 50).flatMap { i =>
      Seq(
        Triple(s"http://ex.org/p$i", "rdf:type", "web:WebPage", null, null),
        Triple(s"http://ex.org/p$i", "web:mentions", s"ent:e${i % 5}", null, null))
    }
    val dir = java.nio.file.Files.createTempDirectory("forget").toString
    val sink = new GraphSink.Snapshotted
    sink.write(sp.createDataset(rows), dir)
    (sink, dir, rows)
  }

  test("forget removes exactly the listed subjects; everything else is untouched") {
    val sp = spark; import sp.implicits._
    val (sink, dir, rows) = freshTable()
    val pre = sink.currentId(spark, dir)
    val takedown = Seq("http://ex.org/p3", "http://ex.org/p41").toDS()
    val post = sink.forget(spark, dir, takedown)
    assert(post === pre + 1)
    val now = sink.read(spark, dir)
    assert(now.filter(col("subj").isin("http://ex.org/p3", "http://ex.org/p41")).count() === 0)
    val expected = rows.filterNot(t => t.subj == "http://ex.org/p3" || t.subj == "http://ex.org/p41")
      .map(_.toString).sorted
    assert(now.collect().map(r => Triple(r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4)).toString).sorted.toSeq === expected)
    // the delete is auditable: the snapshot delta is pure deletes of the two subjects
    val changes = sink.readChanges(spark, dir, pre, post).collect()
    assert(changes.forall(_.getAs[String]("_change_type") == "delete"))
    assert(changes.map(_.getAs[String]("subj")).toSet ===
      Set("http://ex.org/p3", "http://ex.org/p41"))
    // time travel still sees the pre-forget rows (erasure needs expire)
    assert(sink.readAsOf(spark, dir, pre)
      .filter(col("subj") === "http://ex.org/p3").count() === 2)
  }

  test("forget is metadata-sized: base files byte-identical, no data rewrite (r7)") {
    val sp = spark; import sp.implicits._
    val (sink, dir, _) = freshTable()
    val pre = sink.currentId(spark, dir)
    def baseFiles() = {
      val d = new java.io.File(s"$dir/snap=$pre")
      d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => (f.getName, f.length(),
          java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))))
        .toVector
    }
    val before = baseFiles()
    val post = sink.forget(spark, dir, Seq("http://ex.org/p3").toDS())
    // the base snapshot's data files are UNTOUCHED — the forget commit did
    // not rewrite the table
    assert(baseFiles() === before)
    // the forget snapshot carries only metadata + the delete sidecar — no
    // visible data files
    val snapDir = new java.io.File(s"$dir/snap=$post")
    assert(snapDir.listFiles().filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).isEmpty)
    // and reads still resolve correctly through the base
    assert(sink.read(spark, dir).filter(col("subj") === "http://ex.org/p3").count() === 0)
  }

  test("erasure = forget + compact + expire: forgotten rows physically leave the store") {
    val sp = spark; import sp.implicits._
    val (sink, dir, _) = freshTable()
    val pre = sink.currentId(spark, dir)
    val fid = sink.forget(spark, dir, Seq("http://ex.org/p0").toDS())
    // expire alone must NOT drop the base a kept merge-on-read snapshot
    // still reads through (Iceberg never expires reachable snapshots)
    assert(sink.expire(spark, dir, keep = 1) === Seq.empty)
    assert(sink.read(spark, dir).filter(col("subj") === "http://ex.org/p0").count() === 0)
    // compact materializes the anti-join physically; expire then erases
    val cid = sink.compact(spark, dir, compactParts = 2)
    val victims = sink.expire(spark, dir, keep = 1)
    assert(victims === Seq(pre, fid))
    intercept[Exception](sink.readAsOf(spark, dir, pre).count())
    // nothing left on disk holds the forgotten subject: every surviving
    // snapshot reads clean
    sink.snapshots(spark, dir).foreach { id =>
      assert(sink.readAsOf(spark, dir, id).filter(col("subj") === "http://ex.org/p0").count() === 0)
    }
    assert(sink.currentId(spark, dir) === cid)
  }

  test("forgetting absent subjects is a clean no-op commit") {
    val sp = spark; import sp.implicits._
    val (sink, dir, rows) = freshTable()
    val pre = sink.currentId(spark, dir)
    val post = sink.forget(spark, dir, Seq("http://ex.org/nope").toDS())
    assert(post === pre + 1)
    assert(sink.read(spark, dir).count() === rows.size)
    assert(sink.readChanges(spark, dir, pre, post).count() === 0)
  }
}
