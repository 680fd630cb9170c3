package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one closed-loop client, `local[<cores>]`.
  * Launched by run.py; prints the result JSON as its last stdout line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, traces: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("traces")))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val code =
      try run(spark, a)
      finally spark.stop()
    sys.exit(code)
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  def run(spark: SparkSession, a: Args): Int = {
    val w = Workload(a.workload, Ctx(spark, a.work, a.seed))
    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready ${(System.currentTimeMillis() - jvmStart) / 1000.0}s after JVM start")
    Harness.phase("inputs and expected output")(w.setup())
    Harness.phase("warm-up")(w.warmUp())
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed}: setup ${setupS}s, expected ${w.expected.triples} triples")
    recorder match {
      case None => untraced(w, a, setupS)
      case Some(rec) => Traced.run(w, a, rec)
    }
  }

  private def untraced(w: Workload, a: Args, setupS: Double): Int = {
    val ops = Harness.loop(a.seconds, w.expected, { id =>
      val tag = s"op-$id"
      w.before(id, tag)
      w.op(tag)
    })
    val s = Harness.summarize(ops)
    System.err.println(s"[perfbench] ${s.passed}/${s.attempted} ops passed; op_p50_s is the median of " +
      s"${s.passed} op times: ${ops.filter(_.passed).map(_.wallS).mkString(", ")}")
    val correct = s.passed == s.attempted
    println(result(correct, s.attempted, s.attempted - s.passed, Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", s.opP50S, "s"),
      ("triples_per_s", s.triplesPerS, "1/s"),
      ("ok_share", s.okShare, "share"),
      ("peak_rss_mb", peakRssMb(), "MB"))))
    if (correct) 0 else 1
  }
}

/** The traced run: rounds of an untraced op (with the task-metrics
  * listener attached), the per-record pass with spans off and with spans
  * on, and the dataset-level noop-sink prefixes, until the time is up.
  * Each metric is the median over the rounds of the part that measures it.
  * Spans go to JSONL. */
object Traced {
  import Harness.median

  /** New committed shuffle files under the Spark local dir since the last call. */
  private def newShuffleFiles(local: Path, seen: mutable.Set[String]): Int = {
    if (!Files.exists(local)) return 0
    val s = Files.walk(local)
    try {
      val fresh = s.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("shuffle_") && (n.endsWith(".data") || n.endsWith(".index")))
        .filterNot(seen).toVector
      seen ++= fresh
      fresh.size
    } finally s.close()
  }

  /** Task-metric summary of one untraced op. */
  private def sparkMetrics(stages: Seq[StageStats], wallS: Double, cores: Int, files: Int): Map[String, Double] = {
    val runS = stages.map(_.runMs).sum / 1000.0
    val skew = if (stages.isEmpty) 0.0 else {
      val busiest = stages.maxBy(_.runMs).taskRunMs
      busiest.max / math.max(1.0, median(busiest.map(_.toDouble)))
    }
    Map(
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.core_busy_share" -> runS / (wallS * cores),
      "spark.gc_share" -> (if (runS > 0) stages.map(_.gcMs).sum / 1000.0 / runS else 0.0),
      "spark.task_skew" -> skew,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_files" -> files.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble)
  }

  /** Per-key medians over rounds; every map of one part has the same keys. */
  private def medians(rounds: Iterable[Map[String, Double]]): Map[String, Double] =
    rounds.flatMap(_.keys).toSet.map((k: String) => k -> median(rounds.flatMap(_.get(k)))).toMap

  def run(w: Workload, a: Main.Args, rec: Recorder): Int = {
    val spark = w.ctx.spark
    val cores = w.ctx.cores
    val log = new SpanLog
    val run = s"${a.workload}-seed${a.seed}"
    def span(op: String, span: String, fields: (String, Any)*): Unit =
      log.add(Seq("run" -> run, "op" -> op, "span" -> span) ++ fields: _*)
    val layers = Layers(spark, w.layerNames)
    val seenShuffle = mutable.Set[String]()
    val local = a.work.resolve("spark-local")
    newShuffleFiles(local, seenShuffle)

    // one untimed per-record pass each way and one round of prefixes, so
    // no timed pass pays another's JIT compilation
    for (l <- Seq(layers.untimed, layers)) {
      layers.reset()
      val r = Harness.runOp(-1, w.tracedExpected, { id => w.before(id, "warm-traced"); w.traced("warm-traced", l) })
      require(r.passed, s"traced warm-up failed: ${r.note}")
    }
    w.prefixes().foreach(_._2())

    val untraced = mutable.ArrayBuffer[(Harness.OpRecord, Map[String, Double])]()
    val spansOff = mutable.ArrayBuffer[Harness.OpRecord]()
    val traced = mutable.ArrayBuffer[(Harness.OpRecord, Map[String, Double])]()
    val prefixed = mutable.ArrayBuffer[Map[String, Double]]()
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    var k = 0
    do {
      val uTag = s"op-$k"
      val u = Harness.runOp(k, w.expected, { id => w.before(id, uTag); w.op(uTag) })
      val files = newShuffleFiles(local, seenShuffle)
      Recorder.sync(spark, rec)
      val stages = rec.stages(s"$uTag.main") ++ rec.stages(s"$uTag.read")
      untraced += ((u, sparkMetrics(stages, u.wallS, cores, files) ++ w.opLayerMetrics(uTag, rec, u)))
      span(uTag, "op", "parent" -> null, "traced" -> false, "wall_s" -> u.wallS, "passed" -> u.passed)
      stages.foreach(s => span(uTag, s"stage-${s.stageId}", "parent" -> "op", "tasks" -> s.tasks,
        "task_s" -> s.runMs / 1000.0, "gc_s" -> s.gcMs / 1000.0, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes))

      val oTag = s"off-$k"
      layers.reset()
      val o = Harness.runOp(k, w.tracedExpected, { id => w.before(id, oTag); w.traced(oTag, layers.untimed) })
      spansOff += o
      span(oTag, "op", "parent" -> null, "traced" -> "spans_off", "wall_s" -> o.wallS, "passed" -> o.passed)

      val tTag = s"tr-$k"
      layers.reset()
      val t = Harness.runOp(k, w.tracedExpected, { id => w.before(id, tTag); w.traced(tTag, layers) })
      val lv = layers.values
      val busy = lv.collect { case (n, v) if n.endsWith(".ns") => n.stripSuffix(".ns") + ".busy_s" -> v / 1e9 }
      val m = busy ++ w.tracedLayerMetrics(lv) + ("unexplained_s" -> (t.wallS - busy.values.sum / cores))
      traced += ((t, m))
      span(tTag, "op", "parent" -> null, "traced" -> true, "wall_s" -> t.wallS, "passed" -> t.passed)
      busy.foreach { case (n, v) => span(tTag, n.stripSuffix(".busy_s"), "parent" -> "op", "busy_s" -> v) }
      lv.foreach { case (n, v) => if (!n.endsWith(".ns")) span(tTag, "counter", "parent" -> "op", "name" -> n, "value" -> v) }

      val taskS = mutable.Map[String, Double]()
      val observed = mutable.Map[String, Double]()
      w.prefixes().foreach { case (name, body) =>
        val tag = s"prefix-$k-$name"
        val t0 = System.nanoTime()
        observed ++= Recorder.span(spark, s"$tag.main")(body())
        val wall = (System.nanoTime() - t0) / 1e9
        Recorder.sync(spark, rec)
        val st = rec.stages(s"$tag.main")
        taskS(name) = st.map(_.runMs).sum / 1000.0
        span(s"prefix-$k", name, "parent" -> null, "kind" -> "noop_sink_prefix", "wall_s" -> wall,
          "task_s" -> taskS(name), "tasks" -> st.map(_.tasks).sum)
      }
      prefixed += w.prefixLayerMetrics(taskS.toMap, observed.toMap)
      k += 1
    } while (System.nanoTime() < end)

    val all = untraced.map(_._1) ++ spansOff ++ traced.map(_._1)
    val passedO = spansOff.filter(_.passed).map(_.wallS)
    val passedT = traced.filter(_._1.passed)
    val overhead =
      if (passedO.isEmpty || passedT.isEmpty) Double.NaN
      else median(passedT.map(_._1.wallS)) / median(passedO) - 1
    val measured = medians(untraced.filter(_._1.passed).map(_._2)) ++ medians(passedT.map(_._2)) ++
      medians(prefixed) + ("trace.overhead_share" -> overhead)
    // a layer the workload does not run reads 0
    val metrics = PerLayer.map { case (n, unit) => (n, measured.getOrElse(n, 0.0), unit) }
    Files.createDirectories(a.traces)
    val out = a.traces.resolve(s"$run.jsonl")
    log.write(out)
    val correct = all.forall(_.passed)
    System.err.println(s"[perfbench] traced run: ${untraced.count(_._1.passed)} untraced, ${passedO.size} " +
      s"spans-off and ${passedT.size} traced ops passed, ${prefixed.size} prefix rounds; spans in $out")
    println(Main.result(correct, all.size, all.count(!_.passed), metrics))
    if (correct) 0 else 1
  }

  /** Every per-layer metric with its unit, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "synth.busy_s" -> "s", "scan.busy_s" -> "s", "scan.bytes_per_page" -> "B",
    "extract.busy_s" -> "s", "mention.busy_s" -> "s", "link.busy_s" -> "s", "emit.busy_s" -> "s",
    "extract.ok_share" -> "share", "mention.per_page" -> "count", "link.hit_share" -> "share",
    "sink.busy_s" -> "s", "sink.bytes" -> "B", "sink.bytes_per_triple" -> "B", "sink.files" -> "count",
    "read.busy_s" -> "s",
    "cj_convert.busy_s" -> "s", "cj_convert.bytes_per_s" -> "B/s",
    "cj_source.busy_s" -> "s", "cj_source.partitions" -> "count",
    "spark.tasks" -> "count", "spark.core_busy_share" -> "share", "spark.gc_share" -> "share",
    "spark.task_skew" -> "ratio", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_files" -> "count",
    "spark.spill_bytes" -> "B", "unexplained_s" -> "s", "trace.overhead_share" -> "share")
}
