package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The package-private doorways the engine needs: constructing a DataFrame
  * from a hand-built [[LogicalPlan]] (for the native as-of join node —
  * graft/plans/AsofJoinPlan.scala), and draining the `private[spark]`
  * listener bus (`graft.tools.Probe`). `Dataset.ofRows` is `private[sql]`, so
  * this object lives in a subpackage of `org.apache.spark.sql` — the standard
  * extension-library pattern; everything else in the engine stays on public
  * API. Nothing here may grow logic: it is a visibility bridge only.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def waitUntilEmpty(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
