package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Owns its session (built by GraftSession, not SparkTestBase), so the
  * asserted conf is the one every main runs under. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.local(cores) sets the shared session conf") {
    val spark = GraftSession.local(2)
    try {
      assert(spark.sparkContext.master == "local[2]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.ui.enabled") == "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
    } finally spark.stop()
  }
}
