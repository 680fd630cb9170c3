package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Task metrics of one stage, summed over its tasks. */
final class StageStats(val stageId: Int) {
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
}

/** SparkListener that sums task metrics per (span, stage). A span is a
  * name the benchmark sets as a local property before an action; every
  * job the action submits carries it. */
final class Recorder extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stats = new ConcurrentHashMap[String, ConcurrentHashMap[Int, StageStats]]()
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Recorder.Key)).orNull
    if (span != null) {
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach(ended.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val s = stats.computeIfAbsent(span, _ => new ConcurrentHashMap[Int, StageStats]())
        .computeIfAbsent(e.stageId, id => new StageStats(id))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.spillBytes += m.diskBytesSpilled
        s.taskRunMs += m.executorRunTime
      }
    }
  }

  /** Stages of `span`, in stage-id order. Call after [[Recorder.sync]]. */
  def stages(span: String): Seq[StageStats] =
    Option(stats.get(span)).map(_.values.asScala.toSeq.sortBy(_.stageId)).getOrElse(Nil)

  private[perfbench] def hasEnded(span: String): Boolean = ended.contains(span)
}

object Recorder {
  val Key = "perfbench.span"
  private var syncs = 0

  /** Run `body` with every job it submits tagged `span`. */
  def span[A](spark: SparkSession, span: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, span)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Wait until the listener has seen every event posted so far: the bus
    * delivers in order, so once a sentinel job's end arrives, all earlier
    * task ends have too. */
  def sync(spark: SparkSession, rec: Recorder): Unit = {
    syncs += 1
    val s = s"sync-$syncs"
    span(spark, s)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (!rec.hasEnded(s)) {
      require(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(2)
    }
  }
}

/** Per-record layer spans, summed per task and shipped back through
  * accumulators: nanoseconds spent inside each layer's call plus the
  * layer's work counters. */
final class Layers(names: Seq[String], acc: Map[String, LongAccumulator], val timed: Boolean)
    extends Serializable {

  /** The same layers with span timing switched off (counters stay). */
  def untimed: Layers = new Layers(names, acc, timed = false)

  /** Task-local counters; added to the accumulators once, when the task ends. */
  def local(): Layers.Local = {
    val l = new Layers.Local(names.toArray, timed)
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      var i = 0
      while (i < l.names.length) { acc(l.names(i)).add(l.values(i)); i += 1 }
    }
    l
  }

  def values: Map[String, Long] = acc.map { case (k, a) => k -> a.value.longValue }
  def reset(): Unit = acc.values.foreach(_.reset())
}

object Layers {
  def apply(spark: SparkSession, names: Seq[String]): Layers =
    new Layers(names, names.map(n => n -> spark.sparkContext.longAccumulator(n)).toMap, timed = true)

  final class Local(val names: Array[String], val timed: Boolean) {
    val values = new Array[Long](names.length)
    private val index = names.zipWithIndex.toMap
    def slot(name: String): Int = index(name)
    @inline def add(slot: Int, v: Long): Unit = values(slot) += v
    /** Span clock: 0 when timing is off, so span sums stay 0. */
    @inline def now(): Long = if (timed) System.nanoTime() else 0L
  }

  /** Iterator whose `hasNext`/`next` time is charged to one slot: the
    * upstream work that produces each record (synth or scan). */
  def timed[A](it: Iterator[A], l: Local, slot: Int): Iterator[A] = if (!l.timed) it else new Iterator[A] {
    def hasNext: Boolean = {
      val t = System.nanoTime(); val r = it.hasNext; l.add(slot, System.nanoTime() - t); r
    }
    def next(): A = {
      val t = System.nanoTime(); val r = it.next(); l.add(slot, System.nanoTime() - t); r
    }
  }
}

/** Spans of one run, kept in memory and written as JSONL at the end. */
final class SpanLog {
  private val rows = mutable.ArrayBuffer[String]()
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
  def add(fields: (String, Any)*): Unit =
    rows += fields.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, (rows.mkString("\n") + "\n").getBytes("UTF-8"))
}
