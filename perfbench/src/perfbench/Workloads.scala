package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.cj.{CityJsonFilePartition, CjConvert}
import graft.extract.TextExtract
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.{Link, Page, Triple, Vocab => V}
import graft.pipeline.{GraphSink, KgPipeline}
import graft.synth.PagesSynth

/** What every workload shares: the session, a fresh scratch directory for
  * this run, the seed and the core count. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): Path = work.resolve(name)
}

/** One workload: inputs made from the seed in [[setup]], an untraced op
  * that must yield [[expected]], and a per-record traced op that must yield
  * [[tracedExpected]]. Every op tags its Spark jobs `<tag>.main` (and
  * `<tag>.read` for a read-back) so a [[Recorder]] can attribute task
  * metrics. */
trait Workload {
  def ctx: Ctx
  /** Generate inputs and the expected digest. */
  def setup(): Unit
  def expected: Digest
  def tracedExpected: Digest = expected
  /** Run the op once untimed so lazy set-up and most JIT compilation finish
    * before timing. The few timed ops that still run slow while compilation
    * ends sit at the top of the run's op times, where the median ignores
    * them; more warm-up ops would take set-up time the timed loop needs
    * more. */
  def warmUp(): Unit = {
    val r = Harness.runOp(-1, expected, { id => before(id, "warm"); op("warm") })
    require(r.passed, s"warm-up op failed: ${r.note}")
  }
  /** Untimed preparation before op `id` (fresh sink targets). */
  def before(id: Int, tag: String): Unit = ()
  def op(tag: String): Harness.Outcome
  /** The per-record instrumented pass: the op's layer calls, each wrapped in
    * a span summed into `layers` (spans read 0 when `layers.timed` is off,
    * which gives the tracing overhead's baseline). */
  def traced(tag: String, layers: Layers): Harness.Outcome
  def layerNames: Seq[String]
  /** Dataset-level spans: noop-sink prefixes over the pipeline's stages,
    * each returning what it observed on the way. */
  def prefixes(): Seq[(String, () => Map[String, Double])]
  /** Layer metrics of one round of prefixes, from each prefix's task
    * seconds and observations. */
  def prefixLayerMetrics(taskS: Map[String, Double], observed: Map[String, Double]): Map[String, Double] = observed
  /** Layer metrics of an untraced op, from its task metrics. */
  def opLayerMetrics(tag: String, rec: Recorder, out: Harness.OpRecord): Map[String, Double] = Map.empty
  /** Layer metrics of a traced op from its span counters `lv`. */
  def tracedLayerMetrics(lv: Map[String, Long]): Map[String, Double]

  protected def spark: SparkSession = ctx.spark
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "web_decoded" => new WebWorkload(ctx, stored = false)
    case "web_stored" => new WebWorkload(ctx, stored = true)
    case "cityjson_city" => new CityWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Data files (not checksums or markers) under a sink target. */
  def dataFiles(target: Path): Seq[Path] =
    if (!Files.exists(target)) Nil
    else {
      val s = Files.walk(target)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toVector finally s.close()
    }

  def dataBytes(target: Path): Long = dataFiles(target).map(Files.size).sum

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
}

/** Page corpus of the web workloads: a window of `Pages` consecutive page
  * ids of one fixed synthetic corpus; the seed picks the window. */
object WebInputs {
  val Pages = 100000L
  val Corpus = 100000000L

  def window(seed: Long): Long = {
    val r = new graft.util.Rng(seed ^ 0x5eedL)
    r.nextInt((Corpus / Pages - 1).toInt) * Pages
  }

  /** 4 task waves per core, as the engine's own page synthesizer uses. */
  def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism * 4

  def ids(spark: SparkSession, off: Long, n: Long = Pages): Dataset[java.lang.Long] =
    spark.range(off, off + n, 1, parts(spark))

  def pages(spark: SparkSession, off: Long, n: Long = Pages): Dataset[Page] = {
    import spark.implicits._
    ids(spark, off, n).mapPartitions(_.map(i => PagesSynth.pageAt(i, Corpus).page))
  }

  /** The expected mention edges of one page, from the generator alone: one
    * per gold link, its span found by the gold surface's next token-bounded
    * occurrence in the generated text. */
  def goldMentions(p: Page, golds: Seq[PagesSynth.Gold]): Vector[Triple] = {
    val text = p.text
    def bounded(s: Int, e: Int) =
      (s == 0 || !Character.isLetterOrDigit(text.charAt(s - 1))) &&
        (e == text.length || !Character.isLetterOrDigit(text.charAt(e)))
    var from = 0
    golds.map { g =>
      var s = text.indexOf(g.surface, from)
      while (s >= 0 && !bounded(s, s + g.surface.length)) s = text.indexOf(g.surface, s + 1)
      require(s >= 0, s"gold surface '${g.surface}' not in page ${p.url}")
      from = s + g.surface.length
      Triple(p.url, V.WebMentions, g.entity_iri, s"$s:$from", null)
    }.toVector
  }

  /** The expected triples of one page: four page triples and its mention edges. */
  def goldTriples(p: Page, mentions: Vector[Triple]): Iterator[Triple] =
    Iterator(
      Triple(p.url, V.RdfType, V.WebPage, null, null),
      Triple(p.url, V.WebLang, null, p.lang, V.XsdString),
      Triple(p.url, V.WebWarcTs, null, p.warc_ts.getTime.toString, V.XsdLong),
      Triple(p.url, V.WebNChars, null, p.text.length.toString, V.XsdLong)) ++ mentions

  /** Expected digests of a window: every triple of the op (ontology
    * included), and the mention edges alone. */
  def expected(spark: SparkSession, off: Long, n: Long = Pages): (Digest, Digest) = {
    val (all, mentions) = spark.sparkContext.range(off, off + n, 1, parts(spark)).mapPartitions { it =>
      var all = Digest(0, 0, 0); var mentions = Digest(0, 0, 0)
      it.foreach { i =>
        val pg = PagesSynth.pageAt(i, Corpus)
        val m = goldMentions(pg.page, pg.golds)
        all += Digest.ofTriples(goldTriples(pg.page, m)); mentions += Digest.ofTriples(m.iterator)
      }
      Iterator((all, mentions))
    }.reduce { case ((a1, m1), (a2, m2)) => (a1 + a2, m1 + m2) }
    (all + Digest.ofTriples(KgPipeline.ontologyTriples(spark).collect().iterator), mentions)
  }
}

/** `web_decoded` (pages synthesized in-stream) and `web_stored` (pages read
  * from a parquet table written in setup; each op commits its triples to a
  * fresh snapshot and reads them back). */
final class WebWorkload(val ctx: Ctx, stored: Boolean) extends Workload {
  import ctx.spark.implicits._

  private val off = WebInputs.window(ctx.seed)
  private val pagesDir = ctx.dir("pages")
  private val sinkDir = ctx.dir("sink")
  private var exp: Digest = _
  private var expMentions: Digest = _

  def expected: Digest = exp
  /** The traced pass stops at the links: its output is the mention edges. */
  override def tracedExpected: Digest = expMentions
  private val srcLayer = if (stored) "scan" else "synth"
  val layerNames: Seq[String] =
    Seq(srcLayer, "extract", "mention", "link").map(_ + ".ns") ++ Seq("pages", "mentions", "links")

  private def pages: Dataset[Page] =
    if (stored) spark.read.parquet(pagesDir.toString).as[Page] else WebInputs.pages(spark, off)

  private def triples(pages: Dataset[Page]): Dataset[Triple] =
    KgPipeline.pageTriples(KgPipeline.extracted(pages), PagesSynth.aliasMap)
      .unionAll(KgPipeline.ontologyTriples(spark))

  def setup(): Unit = {
    // one file per core: Spark's size-binned split planning then gives one
    // scan task per core for every seed (at 16 files the bin size sat on a
    // file boundary and seeds flipped between one and two task waves)
    if (stored) Harness.phase("write pages table")(
      WebInputs.pages(spark, off).coalesce(ctx.cores).write.parquet(pagesDir.toString))
    val (all, mentions) = Harness.phase("expected digest")(WebInputs.expected(spark, off))
    exp = all; expMentions = mentions
  }

  override def before(id: Int, tag: String): Unit = Workload.delete(sinkDir)

  /** Bytes the stored op's scan reads per page: the compressed column
    * chunks, in the pages table's parquet footers, of the columns the op's
    * plan requires. (The listener's input-bytes metric reads near zero
    * here.) */
  private lazy val scanBytesPerPage: Double = {
    val required = triples(pages).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
    }.flatten.toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = Workload.dataFiles(pagesDir).filter(_.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(c => required(c.getPath.toArray.head)).map(_.getTotalSize).sum
      finally r.close()
    }.sum
    bytes.toDouble / WebInputs.Pages
  }

  /** The stored op's sink and read-back layers, from its task metrics and
    * its snapshot's files. */
  override def opLayerMetrics(tag: String, rec: Recorder, out: Harness.OpRecord): Map[String, Double] =
    if (!stored) Map.empty
    else {
      val main = rec.stages(s"$tag.main")
      // the sink's self time: the map side's shuffle write plus every stage
      // that reads the shuffle and writes the snapshot
      val sink = main.map(_.shuffleWriteNs).sum / 1e9 + main.filter(_.shuffleReadBytes > 0).map(_.runMs).sum / 1000.0
      Map(
        "scan.bytes_per_page" -> scanBytesPerPage,
        "sink.busy_s" -> sink,
        "sink.bytes" -> out.storedBytes.toDouble,
        "sink.bytes_per_triple" -> out.storedBytes.toDouble / exp.triples,
        "sink.files" -> Workload.dataFiles(sinkDir.resolve(tag)).size.toDouble,
        "read.busy_s" -> rec.stages(s"$tag.read").map(_.runMs).sum / 1000.0)
    }

  def tracedLayerMetrics(lv: Map[String, Long]): Map[String, Double] = Map(
    "mention.per_page" -> lv("mentions") / math.max(1L, lv("pages")).toDouble,
    "link.hit_share" -> lv("links") / math.max(1L, lv("mentions")).toDouble)

  def op(tag: String): Harness.Outcome = {
    val out = triples(pages)
    if (!stored) Harness.Outcome(Seq("emitted" -> Recorder.span(spark, s"$tag.main")(Digest.of(out.toDF()))))
    else {
      val target = sinkDir.resolve(tag)
      val sink = new GraphSink.Snapshotted()
      val (observed, emitted) = Digest.observed(out)
      Recorder.span(spark, s"$tag.main")(sink.write(observed, target.toString))
      val back = Recorder.span(spark, s"$tag.read")(Digest.of(sink.read(spark, target.toString)))
      Harness.Outcome(Seq("emitted" -> emitted(), "read_back" -> back), Workload.dataBytes(target))
    }
  }

  /** extract -> mention -> link per record over the op's page source. The
    * pass ends at the links: the engine emits triples only inside
    * `KgPipeline.pageTriples`, so emission is timed by the prefixes. Its
    * links, as mention edges, must equal the generator's, and it must see
    * every page, so its triple count (4 per page, one per link, plus the
    * ontology) is the untraced op's. */
  def traced(tag: String, layers: Layers): Harness.Outcome = {
    val sc = spark.sparkContext
    val bAlias = sc.broadcast(PagesSynth.aliasMap)
    val bDict = sc.broadcast(MentionDetect.buildDictionary(PagesSynth.aliasMap.keys))
    val src = s"$srcLayer.ns"
    val links: Dataset[Link] =
      if (stored) spark.read.parquet(pagesDir.toString).as[Page]
        .mapPartitions(it => PerRecord.web(it, src, layers, bAlias.value, bDict.value))
      else WebInputs.ids(spark, off).mapPartitions { it =>
        PerRecord.web(it.map(i => PagesSynth.pageAt(i, WebInputs.Corpus).page), src,
          layers, bAlias.value, bDict.value)
      }
    val edges = links.select(col("url").as("subj"), lit(V.WebMentions).as("pred"), col("entity_iri").as("obj_iri"),
      concat(col("span_start").cast("string"), lit(":"), col("span_end").cast("string")).as("obj_lit"),
      lit(null).cast("string").as("obj_type"))
    val d = Recorder.span(spark, s"$tag.main")(Digest.of(edges))
    val seen = layers.values("pages")
    require(seen == WebInputs.Pages, s"traced pass saw $seen pages, expected ${WebInputs.Pages}")
    Harness.Outcome(Seq("mention_edges" -> d))
  }

  /** `links` and `pageTriples` read the extracted pages from a cache that
    * the `cache` prefix fills, so the time of synthesis or scan and
    * extraction, two thirds of the work, leaves both. */
  def prefixes(): Seq[(String, () => Map[String, Double])] = {
    def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
    val am = PagesSynth.aliasMap
    // persisted only in `cache`: a plan cached earlier would be filled by
    // the `extracted` prefix, whose plan is the same
    var cached: Dataset[KgPipeline.ExtractedPage] = null
    Seq(
      "pages" -> { () => noop(pages); Map.empty[String, Double] },
      "extracted" -> { () =>
        // the engine's own byte-identity verdict, counted on the way to the sink
        val (ext, seen) = Digest.counted(KgPipeline.extracted(pages), col("extract_ok"))
        noop(ext)
        val (n, ok) = seen()
        Map("extract.ok_share" -> ok.toDouble / math.max(1L, n))
      },
      "cache" -> { () => cached = KgPipeline.extracted(pages).persist(); noop(cached); Map.empty[String, Double] },
      "links" -> { () => noop(KgPipeline.links(cached, am)); Map.empty[String, Double] },
      "pageTriples" -> { () =>
        noop(KgPipeline.pageTriples(cached, am))
        cached.unpersist(blocking = true)
        Map.empty[String, Double]
      })
  }

  /** Emission's self time: over the same cached pages, `pageTriples` does
    * the `links` prefix's mention detection and linking, then builds and
    * encodes the triples, so the difference of their task times is triple
    * construction and row encoding, less the encoding of the Link rows. */
  override def prefixLayerMetrics(taskS: Map[String, Double], observed: Map[String, Double]): Map[String, Double] =
    observed + ("emit.busy_s" -> (taskS("pageTriples") - taskS("links")))
}

/** `cityjson_city`: a synthetic CityJSON corpus written in setup, read back
  * through the `cityjson` data source each op. */
final class CityWorkload(val ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  private val corpusDir = ctx.dir("city")
  private var docs: Vector[CityGen.Doc] = Vector.empty
  private var exp: Digest = _
  private var expLogs = 0L

  def expected: Digest = exp
  val layerNames: Seq[String] = Seq("scan.ns", "cj_convert.ns", "docs", "bytes", "logs", "triples")

  private def source: DataFrame = spark.read.format("cityjson").load(corpusDir.toString)

  def setup(): Unit = {
    docs = Harness.phase("generate corpus")(CityGen.writeCorpus(ctx.seed, corpusDir))
    val files = docs.map(d => corpusDir.resolve(d.name).toString)
    // single-threaded reference pass on this thread, outside Spark
    var logs = 0L
    exp = Harness.phase("reference pass")(Digest.ofTriples(files.iterator.flatMap { f =>
      val r = CjConvert.convert(PerRecord.docIri(f), PerRecord.read(f))
      logs += r.logs.size
      r.triples
    }))
    expLogs = docs.map(_.expectedLogs.toLong).sum
    require(logs == expLogs, s"reference pass logged $logs messages, the generator predicts $expLogs")
    val objects = docs.map(_.objects).sum
    System.err.println(f"[perfbench] corpus: ${docs.size} documents, $objects objects, " +
      f"${docs.map(_.json.length.toLong).sum / 1e6}%.1f MB, ${exp.triples.toDouble / objects}%.1f triples " +
      f"and ${logs.toDouble / objects}%.2f logs per object")
  }

  def op(tag: String): Harness.Outcome =
    Harness.Outcome(Seq("source" -> Recorder.span(spark, s"$tag.main")(Digest.of(source))))

  /** The files of each input partition the source plans, so the traced
    * pass runs the untraced op's task shape. */
  private def bins(): Seq[Seq[String]] =
    source.queryExecution.sparkPlan.collect { case s: BatchScanExec => s.inputPartitions }.flatten.map {
      case p: CityJsonFilePartition => p.filePaths.toSeq
      case other => throw new IllegalStateException(s"unexpected input partition $other")
    }

  def traced(tag: String, layers: Layers): Harness.Outcome = {
    val b = bins()
    val perRecord = spark.sparkContext.parallelize(b, b.size)
      .mapPartitions(it => PerRecord.city(it.flatten, layers))
    val d = Recorder.span(spark, s"$tag.main")(Digest.of(spark.createDataset(perRecord).toDF()))
    val logs = layers.values("logs")
    require(logs == expLogs, s"traced pass logged $logs messages, expected $expLogs")
    Harness.Outcome(Seq("traced" -> d))
  }

  def prefixes(): Seq[(String, () => Map[String, Double])] =
    Seq("source" -> { () => source.write.format("noop").mode("overwrite").save(); Map.empty[String, Double] })

  /** The source's scan stage (conversion included) is the op's first stage. */
  override def opLayerMetrics(tag: String, rec: Recorder, out: Harness.OpRecord): Map[String, Double] =
    rec.stages(s"$tag.main").headOption.map { s =>
      Map("cj_source.busy_s" -> s.runMs / 1000.0, "cj_source.partitions" -> s.tasks.toDouble)
    }.getOrElse(Map.empty)

  def tracedLayerMetrics(lv: Map[String, Long]): Map[String, Double] =
    Map("cj_convert.bytes_per_s" -> lv("bytes") / (lv("cj_convert.ns") / 1e9))
}

/** Per-record passes of the traced ops: each layer call is wrapped in a
  * span whose nanoseconds and work counters land in task-local slots. */
object PerRecord {
  /** The source names documents after their file: `cj:<stem>`. */
  def docIri(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    "cj:" + name.stripSuffix(".city.json").stripSuffix(".json")
  }

  /** A document's text; `path` is a local path or a `file:` URI. */
  def read(path: String): String = {
    val p = if (path.startsWith("file:")) Paths.get(new java.net.URI(path)) else Paths.get(path)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  }

  /** extract -> mention -> link over a page stream whose own production
    * (synth or scan) is charged to `srcLayer`. */
  def web(src: Iterator[Page], srcLayer: String, layers: Layers,
      am: Map[String, Vector[(String, Double)]], dict: MentionDetect.Dictionary): Iterator[Link] = {
    val l = layers.local()
    val sExt = l.slot("extract.ns"); val sMen = l.slot("mention.ns"); val sLink = l.slot("link.ns")
    val cPages = l.slot("pages"); val cMen = l.slot("mentions"); val cLinks = l.slot("links")
    Layers.timed(src, l, l.slot(srcLayer)).flatMap { p =>
      val t0 = l.now()
      val text = TextExtract.extract(p.html)
      val t1 = l.now()
      val mentions = MentionDetect.detect(p.url, text, dict)
      val t2 = l.now()
      val links = mentions.flatMap(m => Linker.resolve(m, am))
      val t3 = l.now()
      l.add(sExt, t1 - t0); l.add(sMen, t2 - t1); l.add(sLink, t3 - t2)
      l.add(cPages, 1); l.add(cMen, mentions.size); l.add(cLinks, links.size)
      links.iterator
    }
  }
  /** read -> convert over document files. */
  def city(files: Iterator[String], layers: Layers): Iterator[Triple] = {
    val l = layers.local()
    val sScan = l.slot("scan.ns"); val sConv = l.slot("cj_convert.ns")
    val cDocs = l.slot("docs"); val cBytes = l.slot("bytes"); val cLogs = l.slot("logs")
    val cTriples = l.slot("triples")
    files.flatMap { f =>
      val t0 = l.now()
      val json = read(f)
      val t1 = l.now()
      val r = CjConvert.convert(docIri(f), json)
      val t2 = l.now()
      l.add(sScan, t1 - t0); l.add(sConv, t2 - t1)
      l.add(cDocs, 1); l.add(cBytes, json.length); l.add(cLogs, r.logs.size); l.add(cTriples, r.triples.size)
      r.triples
    }
  }
}
