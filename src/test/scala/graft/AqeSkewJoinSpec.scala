package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The runtime half of the skew story (the static half — salted writes —
  * is `GraphSink.Salted`, locked by `KgPipelineSpec`): a planted hot key must be SPLIT by
  * AQE's skew-join optimization at execution time, with no code change in
  * the query. Locks that the engine's default session shape (AQE on)
  * actually re-plans skew instead of leaving one straggler task — the
  * difference between a 1000-executor join finishing and one executor
  * grinding alone at 100 TB. */
class AqeSkewJoinSpec extends SparkTestBase {

  test("a planted hot key is split by AQE skew-join at runtime (skew=true in the final plan)") {
    val sp = spark; import sp.implicits._
    // thresholds scaled to the sandbox: the hot partition just has to
    // exceed the advisory size by the skew factor, exactly the condition
    // a real cluster hits at production sizes
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force sort-merge
    try {
      // 300k-row fact: 90% of rows share key 0 (the link-farm page / hub
      // entity shape); dim: 100 keys, a handful of rows each
      val fact = spark.range(0, 300000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100).as("k"),
          col("id").as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 7).as("w"))
      // the payload column rides through the join so the hot partition's
      // shuffle bytes cannot compress away (the key alone is one repeated
      // value — lz4 would flatten it below any threshold)
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum("w").as("s"), sum("payload").as("p"))
      val row = joined.collect().head

      // correctness first: every fact row matches exactly one dim row
      assert(row.getLong(0) === 300000L)

      // the FINAL adaptive plan must have split the hot partition
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.get
      val finalPlan = adaptive.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally {
      Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.autoBroadcastJoinThreshold").foreach(spark.conf.unset)
    }
  }
}
