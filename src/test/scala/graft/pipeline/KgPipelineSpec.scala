package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase
import graft.extract.TextExtract
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.Mention
import graft.synth.PagesSynth

class KgPipelineSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val N = 300L

  test("extraction is byte-identical to the text column for every synthetic page") {
    val ext = KgPipeline.extracted(PagesSynth.pages(spark, N))
    val bad = ext.filter(!col("extract_ok")).count()
    assert(bad == 0L)
  }

  test("extraction is partition-invariant (1 vs 7 partitions)") {
    val sps = spark; import sps.implicits._
    val a = KgPipeline.extracted(PagesSynth.pages(spark, N).repartition(1))
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    val b = KgPipeline.extracted(PagesSynth.pages(spark, N).repartition(7))
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("link precision/recall vs planted gold is >= 0.95 (north-star gate)") {
    val ext = KgPipeline.extracted(PagesSynth.pages(spark, N))
    val produced = KgPipeline.links(ext, PagesSynth.aliasMap)
      .select("url", "surface", "entity_iri").distinct()
    val gold = PagesSynth.golds(spark, N).select("url", "surface", "entity_iri").distinct()
    val tp = produced.intersect(gold).count().toDouble
    val p = tp / produced.count()
    val r = tp / gold.count()
    assert(p >= 0.95, s"precision $p")
    assert(r >= 0.95, s"recall $r")
  }

  test("narrow link path and relational broadcast-join path agree exactly") {
    val sps = spark; import sps.implicits._
    val ext = KgPipeline.extracted(PagesSynth.pages(spark, N))
    val narrow = KgPipeline.links(ext, PagesSynth.aliasMap)
      .select("url", "span_start", "span_end", "entity_iri")
    val bc = spark.sparkContext.broadcast(MentionDetect.buildDictionary(PagesSynth.aliasMap.keys))
    val mentions = ext.mapPartitions(_.flatMap(p => MentionDetect.detect(p.url, p.text, bc.value)))
    val relational = Linker.linkRelational(mentions, PagesSynth.aliases(spark).toDF())
      .select("url", "span_start", "span_end", "entity_iri")
    assert(narrow.except(relational).count() == 0)
    assert(relational.except(narrow).count() == 0)
  }

  test("ambiguous aliases resolve to the higher-prior candidate") {
    // entity 3 (i%9==3) claims canonicalAlias(4) with prior 0.2; owner 4 has higher prior
    val alias4 = PagesSynth.canonicalAlias(4)
    val cands = PagesSynth.aliasMap(alias4)
    assert(cands.size == 2)
    assert(cands.head._1 == PagesSynth.entityIri(4))
    val m = Mention("u", 0, 1, alias4, alias4)
    assert(Linker.resolve(m, PagesSynth.aliasMap).get.entity_iri == PagesSynth.entityIri(4))
  }

  test("triples carry page nodes, mention edges and the once-per-job ontology") {
    val tr = KgPipeline.triples(spark, N)
    val byPred = tr.groupBy("pred").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPred("web:lang") == N)
    assert(byPred("web:n_chars") == N)
    assert(byPred("rdf:type") >= N + PagesSynth.NumEntities) // pages + entities + vocab
    assert(byPred.contains("web:mentions"))
    assert(byPred("rdf:name") == PagesSynth.NumEntities)
  }

  test("checkpoint-resume: second run reads materialized stages, same result") {
    val dir = Files.createTempDirectory("kgrun").toString
    val t1 = KgPipeline.run(spark, 100, dir, writeParts = 4).count()
    // tamper-proof: re-run must take the manifest path and agree
    val t2 = KgPipeline.run(spark, 100, dir, writeParts = 4).count()
    assert(t1 == t2)
    val manifest = Files.readString(java.nio.file.Paths.get(s"$dir/triples/_graft_manifest.json"))
    assert(manifest.contains("\"fingerprint\":\"v1-n100\""))
    // lineage is a distributed parquet sidecar (O(1) on the driver), whose
    // per-file counts must sum to the manifest's row total
    assert(manifest.contains("\"n_files\":") && manifest.contains("\"lineage\":"), manifest)
    val lineage = spark.read.parquet(s"$dir/triples_lineage")
    assert(lineage.columns.toSeq == Seq("file", "rows"))
    val lineageTotal = lineage.agg(sum("rows")).head.getLong(0)
    assert(manifest.contains(s""""rows":$lineageTotal,"""), s"$manifest vs $lineageTotal")
  }

  // every storage layout, through the one GraphSink interface (the seam
  // where the Iceberg substitution swaps in): write → read must round-trip
  // the triple multiset losslessly
  GraphSink.all(parts = 4).foreach { sink =>
    test(s"graph sink round-trips the triple multiset losslessly: ${sink.name}") {
      val tr = KgPipeline.triples(spark, 200)
      val target = sink match {
        case _: GraphSink.BucketedTable => s"graph_rt_${sink.name}"
        case _ => Files.createTempDirectory(s"graph_rt_${sink.name}").toString + "/g"
      }
      sink.write(tr, target)
      val back = sink.read(spark, target)
      assert(back.columns.toSeq == Seq("subj", "pred", "obj_iri", "obj_lit", "obj_type"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(canon(back) == canon(tr.toDF()), s"${sink.name} round-trip diverged")
    }
  }

  test("snapshotted graph sink: atomic pointer commit + time travel (VERSION AS OF analog)") {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_snap").toString + "/g"
    val t1 = KgPipeline.triples(spark, 100)
    val t2 = KgPipeline.triples(spark, 150)
    sink.write(t1, dir)
    sink.write(t2, dir)
    assert(sink.snapshots(spark, dir) == Seq(1L, 2L))
    assert(sink.currentId(spark, dir) == 2L)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // current read sees the latest snapshot; time travel sees the first,
    // unchanged by the second commit
    assert(canon(sink.read(spark, dir)) == canon(t2.toDF()))
    assert(canon(sink.readAsOf(spark, dir, 1L)) == canon(t1.toDF()))
    // snapshot directories are immutable: a third commit never rewrites them
    sink.write(t1, dir)
    assert(sink.snapshots(spark, dir) == Seq(1L, 2L, 3L))
    assert(canon(sink.readAsOf(spark, dir, 2L)) == canon(t2.toDF()))
  }

  test("dictionary-encoded pipeline decodes to exactly the string pipeline's triples") {
    val n = 400L
    val enc = KgPipeline.encodedTriples(spark, n)
    // encoded stream is pure fixed-width numerics — no string column leaks
    // through the stage boundary
    assert(enc.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType), enc.schema.toString)
    val dec = KgPipeline.decodeTriples(enc, n).unionAll(KgPipeline.ontologyTriples(spark))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(dec.toDF()) == canon(KgPipeline.triples(spark, n).toDF()),
      "decode(encode(corpus)) must be multiset-identical to the string pipeline")
  }

  test("encoded graph table: fixed-width parquet + sidecar dictionaries round-trip to the exact string triples") {
    val n = 300L
    val dir = Files.createTempDirectory("encg").toString + "/g"
    EncodedGraphTable.write(KgPipeline.encodedTriples(spark, n),
      PagesSynth.pageDict(spark, n), PagesSynth.entityDict(spark), dir, parts = 4)
    // the fact table carries NO string columns — fixed-width only
    val schema = spark.read.parquet(s"$dir/triples").schema
    assert(schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType), schema.toString)
    // decode reads the STORED dictionaries, not in-memory vocab, and must
    // reproduce the string pipeline's page triples exactly
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val expected = KgPipeline.decodeTriples(KgPipeline.encodedTriples(spark, n), n)
    assert(canon(EncodedGraphTable.read(spark, dir).toDF()) == canon(expected.toDF()))
    // id-space consumers never pay string decode: a degree count straight
    // off the encoded relation matches the decoded equivalent
    val encDeg = EncodedGraphTable.readEncoded(spark, dir)
      .filter(_.pred_id == KgPipeline.PredMentions).groupBy("ent_id").count()
    val decDeg = expected.filter(col("pred") === "web:mentions").groupBy("obj_iri").count()
    assert(encDeg.agg(sum("count")).head.getLong(0) == decDeg.agg(sum("count")).head.getLong(0))
  }

  test("stored-table decode is dictionary-JOIN based, decoupled from the corpus generator") {
    // the storage layer must know nothing about how the corpus was
    // synthesized: urls and entity IRIs come from the stored dict_pages /
    // dict_entities sidecar TABLES via joins (the only shape that survives
    // an unbounded vocabulary), never from PagesSynth or a driver collect
    val src = Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/pipeline/EncodedGraphTable.scala"))
    assert(!src.contains("PagesSynth"), "storage layer re-coupled to the synthetic corpus")
    assert(!src.contains("broadcast("), "decode must let AQE pick the join strategy")

    val n = 120L
    val dir = Files.createTempDirectory("encj").toString + "/g"
    EncodedGraphTable.write(KgPipeline.encodedTriples(spark, n),
      PagesSynth.pageDict(spark, n), PagesSynth.entityDict(spark), dir, parts = 2)
    val decoded = EncodedGraphTable.read(spark, dir)
    // the decode PLAN joins both open-vocabulary dictionaries (2 joins);
    // pred/lang stay in-plan literal chains (closed vocab)
    val plan = decoded.queryExecution.executedPlan.toString
    val joins = "Join".r.findAllIn(plan).size
    assert(joins >= 2, s"expected page+entity dictionary joins in decode plan:\n$plan")
    assert(decoded.count() > 0)
    // and a tampered page dictionary changes the decode output (proof the
    // urls really come from the stored sidecar, not a formula)
    val sps = spark; import sps.implicits._
    spark.read.parquet(s"$dir/dict_pages")
      .select(col("page_id"), concat(lit("swapped://"), col("url")).as("url"))
      .write.mode("overwrite").parquet(s"$dir/dict_pages_tmp")
    val fs = new java.io.File(s"$dir/dict_pages")
    org.apache.commons.io.FileUtils.deleteDirectory(fs)
    new java.io.File(s"$dir/dict_pages_tmp").renameTo(fs)
    val swapped = EncodedGraphTable.read(spark, dir)
    assert(swapped.filter(col("subj").startsWith("swapped://")).count() == swapped.count())
  }

  test("snapshot pointer commits by rename; a torn pointer falls back to the newest complete snapshot") {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_ptr").toString + "/g"
    val t1 = KgPipeline.triples(spark, 80)
    sink.write(t1, dir)
    sink.write(t1, dir)
    // the tmp pointer never lingers after a successful commit
    assert(!new java.io.File(s"$dir/_current.tmp").exists())
    assert(sink.currentId(spark, dir) == 2L)
    // simulate the torn-pointer window (reader racing create-truncate or the
    // delete+rename fallback): an empty pointer must resolve to the newest
    // COMMITTED snapshot, not crash on "".toLong
    val ptr = new java.io.FileOutputStream(s"$dir/_current"); ptr.close()
    assert(sink.currentId(spark, dir) == 2L)
    assert(sink.read(spark, dir).count() == t1.count())
    // a missing pointer (deleted mid-swap) resolves the same way
    assert(new java.io.File(s"$dir/_current").delete())
    assert(sink.currentId(spark, dir) == 2L)
    // a writer that crashed AFTER its parquet finished but BEFORE the
    // pointer swap leaves an unmarked snap dir (_SUCCESS, no _COMMITTED):
    // the fallback must never surface it — that data belongs to an aborted
    // commit
    val crashed = new java.io.File(s"$dir/snap=3"); crashed.mkdirs()
    new java.io.FileOutputStream(s"$dir/snap=3/_SUCCESS").close()
    assert(sink.currentId(spark, dir) == 2L,
      "fallback surfaced a snapshot whose commit never completed")
  }

  test("incremental CDC read yields the exact multiset delta between snapshots; compaction's delta is empty") {
    val sps = spark; import sps.implicits._
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_cdc").toString + "/g"
    val t1 = KgPipeline.triples(spark, 100)
    val t2 = KgPipeline.triples(spark, 150) // superset corpus: first 100 pages identical
    sink.write(t1, dir) // snap 1
    sink.write(t2, dir) // snap 2
    val changes = sink.readChanges(spark, dir, 1L, 2L).cache()
    // forward delta: only inserts (the corpus grew), and applying it to t1
    // reproduces t2 exactly
    assert(changes.filter(col("_change_type") === "delete").count() == 0)
    val inserted = changes.agg(sum("_n")).head.getLong(0)
    assert(inserted == t2.count() - t1.count(), s"delta size $inserted")
    // reverse delta: same rows, all deletes (symmetry)
    val rev = sink.readChanges(spark, dir, 2L, 1L)
    assert(rev.filter(col("_change_type") === "insert").count() == 0)
    assert(rev.agg(sum("_n")).head.getLong(0) == inserted)
    // literal-only triples (null obj_iri) must not self-report as changed:
    // the join is null-safe, so an unchanged corpus has an empty delta
    assert(sink.readChanges(spark, dir, 1L, 1L).count() == 0)
    // compaction rewrites files, not rows -> empty changelog
    val before = sink.currentId(spark, dir)
    val after = sink.compact(spark, dir, compactParts = 1)
    assert(sink.readChanges(spark, dir, before, after).count() == 0,
      "compaction must be row-invisible to incremental consumers")
    changes.unpersist()
  }

  test("snapshot compaction rewrites small files as a new commit; expiry drops old snapshots") {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_compact").toString + "/g"
    val t1 = KgPipeline.triples(spark, 150)
    sink.write(t1.repartition(16), dir) // deliberately many small files
    def partFiles(id: Long): Int =
      new java.io.File(s"$dir/snap=$id").listFiles().count(_.getName.endsWith(".parquet"))
    val before = partFiles(1)
    assert(before > 4, s"fixture should start fragmented, had $before files")

    val compacted = sink.compact(spark, dir, compactParts = 2)
    assert(compacted == 2L && sink.currentId(spark, dir) == 2L)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(sink.read(spark, dir)) == canon(t1.toDF()), "compaction must not change rows")
    assert(partFiles(2) <= 2 && partFiles(2) < before, s"${partFiles(2)} vs $before")

    sink.write(t1, dir) // snap=3
    assert(sink.expire(spark, dir, keep = 2) == Seq(1L))
    assert(sink.snapshots(spark, dir) == Seq(2L, 3L))
    // time travel to the expired snapshot fails loudly, current reads fine
    intercept[Exception] { sink.readAsOf(spark, dir, 1L).collect() }
    assert(canon(sink.read(spark, dir)) == canon(t1.toDF()))
  }

  test("snapshot commit plans no exchange: each input task writes its own file") {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_plan").toString + "/g"
    val tr = KgPipeline.triples(spark, 200)
    val inputParts = tr.rdd.getNumPartitions
    // the listener bus delivers a write's QueryExecution asynchronously
    val written = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = written.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // AQE wraps the whole command when its child has an exchange
    def writesHere(qe: QueryExecution) = collectFirst(qe.executedPlan) {
      case w: DataWritingCommandExec => w.cmd
    }.exists {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains(dir)
      case _ => false
    }
    spark.listenerManager.register(listener)
    val plan =
      try {
        sink.write(tr, dir)
        def next() = Option(written.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("the snapshot write was never reported"))
        Iterator.continually(next()).find(writesHere).get.executedPlan
      } finally spark.listenerManager.unregister(listener)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the snapshot write plans an exchange:\n$plan")
    val files = new java.io.File(s"$dir/snap=1").listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 1 && files <= inputParts, s"$files data files from $inputParts input partitions")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(sink.read(spark, dir)) == canon(tr.toDF()))
  }

  test("snapshot expiry counts committed snapshots only; an unmarked one goes once it is below the current") {
    val sink = new GraphSink.Snapshotted
    val dir = Files.createTempDirectory("graph_expire").toString + "/g"
    val t1 = KgPipeline.triples(spark, 60)
    (1 to 3).foreach(_ => sink.write(t1, dir))
    // an aborted (or still-running) commit: parquet done, no _COMMITTED
    new java.io.File(s"$dir/snap=4").mkdirs()
    new java.io.FileOutputStream(s"$dir/snap=4/_SUCCESS").close()
    assert(sink.expire(spark, dir, keep = 2) == Seq(1L))
    assert(sink.snapshots(spark, dir) == Seq(2L, 3L, 4L))
    assert(new java.io.File(s"$dir/snap=4/_SUCCESS").exists())
    assert(sink.currentId(spark, dir) == 3L)
    // the next commit supersedes it: snap=4 can no longer be a running
    // commit's, so it is dropped beside the committed snapshot that aged out
    sink.write(t1, dir)
    assert(sink.currentId(spark, dir) == 5L)
    assert(sink.expire(spark, dir, keep = 2) == Seq(2L, 4L))
    assert(sink.snapshots(spark, dir) == Seq(3L, 5L))
  }

  test("salted write spreads skewed subjects across partitions") {
    val sps = spark; import sps.implicits._
    val tr = KgPipeline.triples(spark, N)
    val parts = GraphSink.Salted.repartition(tr, 8)
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.length == 8)
    val total = parts.sum.toDouble
    // no partition holds more than 40% of a Zipf-skewed corpus after salting
    assert(parts.max / total < 0.4, parts.mkString(","))
  }

  test("extractor handles entities, comments, nested boilerplate deterministically") {
    val html = """<html><head><title>T &amp; t</title><style>x{}</style></head>
      |<body><nav>skip<div>inner</div></nav><!-- c --><p>a &lt;b&gt; c</p>
      |<div>tail &#65;</div><footer>f</footer></body></html>""".stripMargin
    assert(TextExtract.extract(html) == "T & t\na <b> c\ntail A")
  }

  test("bucketed graph table makes subject self-joins shuffle-free") {
    val tr = KgPipeline.triples(spark, 200)
    new GraphSink.BucketedTable(buckets = 4).write(tr, "graph_bucketed")
    val g = spark.table("graph_bucketed")
    // force the non-broadcast path so the assertion proves bucket co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // star expansion: join mention edges back to page metadata by subject
      val joined = g.filter("pred = 'web:mentions'").as("m")
        .join(g.filter("pred = 'web:lang'").as("l"), "subj")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // both sides read bucketed: no shuffle Exchange feeding the join
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("predicate-partitioned graph prunes partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graph_by_pred").toString
    val tr = KgPipeline.triples(spark, 200)
    new GraphSink.PredicatePartitioned(parts = 4).write(tr, dir)
    val g = spark.read.parquet(dir)
    val q = g.filter(col("pred_ns") === "web")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(pred_ns"), plan)
    // pruned read returns exactly the web-namespace triples
    val want = tr.filter(col("pred").startsWith("web:")).count()
    assert(q.count() == want)
    // non-web families live in other partitions, untouched by this scan
    assert(g.count() > want)
  }

  test("AQE splits skewed shuffle partitions in a hot-key relational join") {
    val sps = spark; import sps.implicits._
    // hot-key skew: 90% of the left side hits one key
    val left = spark.range(100000)
      .select((when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id"))).as("k"), col("id").as("v"))
    val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try {
      val joined = left.join(right, "k")
      // execute THIS frame so its AdaptiveSparkPlanExec reaches the final plan
      val n = joined.toLocalIterator().asScala.size
      // 90k rows with k=0 match right k=0; k=id rows match only for id<1000
      assert(n == 90000 + 100, s"count $n")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true") && finalPlan.contains("skewed"),
        s"expected AQE skew handling in final plan:\n${finalPlan.take(3000)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("changed fingerprint forces stage recompute, matching manifests skip it") {
    val dir = Files.createTempDirectory("kgfp").toString
    import KgPipeline.runStage
    val sps = spark; import sps.implicits._
    var computes = 0
    def stage(fp: String) = runStage(spark, "s", dir, fp) {
      computes += 1; spark.range(5).map(_ * 2)
    }
    assert(stage("fpA").count() == 5 && computes == 1)
    assert(stage("fpA").count() == 5 && computes == 1) // manifest hit
    assert(stage("fpB").count() == 5 && computes == 2) // fingerprint change recomputes
  }

  test("extract/mention/link stages are shuffle-free (narrow plan lock)") {
    val links = KgPipeline.links(KgPipeline.extracted(PagesSynth.pages(spark, 100)), PagesSynth.aliasMap)
    val plan = links.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"narrow stages must not shuffle:\n$plan")
    val triples = KgPipeline.triples(spark, 100)
    val tplan = triples.queryExecution.executedPlan.toString
    assert(!tplan.contains("Exchange"), s"triple emission must not shuffle:\n$tplan")
  }
}
