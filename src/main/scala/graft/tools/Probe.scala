package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry
import graft.pipeline.KgPipeline
import graft.synth.PagesSynth
import graft.util.GraftSession

/** Query probe under the Bench session conf. Per query: print the
  * formatted plan, run one untimed warm `count()`, then time `reps`
  * `count()` passes, each followed by its per-stage lines (tasks, wall,
  * summed executor run time, summed GC, in ms). `reps = 0` prints plans
  * only. With no query named it probes every `SparkEntry.queries` key in
  * name order; `kg_pipeline` names the full KG pipeline
  * (`KgPipeline.triples`). A query that throws is printed as `FAILED`,
  * never timed, and makes the exit status 1.
  *
  * Output lines: `PLAN <q>` followed by the plan, `TIME <q> pass=<i>
  * sec=<s>` followed by `  stage=...` lines, `FAILED <q>: <error>`.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <cpus> <reps> [query...]
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Probe <sfDir> <cpus> <reps> [query...]")
    val spark = GraftSession.local(args(1).toInt)
    val status = try run(spark, args(0), args(2).toInt, args.drop(3).toSeq)
      finally spark.stop()
    sys.exit(status)
  }

  private def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "kg_pipeline") KgPipeline.triples(spark, PagesSynth.pageCount(sfDir)).toDF()
    else SparkEntry.queries(name)(spark, sfDir)

  /** Probes `names` (all contract queries if empty); 0 if every query ran. */
  def run(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Int = {
    // (stageId, numTasks, wallMs, executorRunMs, gcMs, name)
    val stages = new ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, String)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages.add((si.stageId, si.numTasks, wall, si.taskMetrics.executorRunTime,
          si.taskMetrics.jvmGCTime, si.name.takeWhile(_ != '\n').take(60)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val failed = try {
      val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toVector.sorted
      all.filterNot(name => probe(spark, sfDir, reps, name, stages))
    } finally spark.sparkContext.removeSparkListener(listener)
    if (failed.nonEmpty) System.err.println(s"Probe: ${failed.size} failed: ${failed.mkString(", ")}")
    if (failed.isEmpty) 0 else 1
  }

  private def probe(spark: SparkSession, sfDir: String, reps: Int, name: String,
      stages: ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, String)]): Boolean =
    try {
      println(s"PLAN $name")
      println(query(spark, sfDir, name).queryExecution.explainString(ExplainMode.fromString("formatted")))
      // the listener bus delivers stage completions asynchronously: settle
      // after each action so a pass's lines hold only its own stages
      def settle(): Unit = Thread.sleep(150)
      if (reps > 0) { query(spark, sfDir, name).count(); settle() } // warm: JIT + codegen
      (0 until reps).foreach { pass =>
        System.gc() // fence: the previous pass's garbage stays out of this timing
        stages.clear()
        val t0 = System.nanoTime()
        query(spark, sfDir, name).count()
        val sec = (System.nanoTime() - t0) / 1e9
        settle()
        println(f"TIME $name pass=$pass sec=$sec%.3f")
        stages.asScala.toVector.sortBy(_._1).foreach { case (id, tasks, wall, run, gc, stage) =>
          println(f"  stage=$id%-4d tasks=$tasks%-4d wall=$wall%-6d run=$run%-7d gc=$gc%-6d $stage")
        }
      }
      true
    } catch {
      case NonFatal(e) =>
        println(s"FAILED $name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}")
        false
    }
}
