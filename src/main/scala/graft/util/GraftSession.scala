package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession conf every main runs under: `local[cores]`,
  * one shuffle partition per core, UTC session time, no UI, WARN logging.
  * JVM-level settings (heap, collector, shuffle writer and AQE coalesce
  * thresholds) stay in build.sbt's `javaOptions`, which `sbt run`,
  * `tools/run_tool.sh` and the benchmark all read.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's cores capped at 32. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
