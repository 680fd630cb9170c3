package graft

import org.apache.spark.sql.execution.SparkPlan

/** Locks the physical-plan properties the engine's queries rely on at scale
  * (SURVEY.md §4): filter/projection pushdown into the parquet scan, global
  * sort+limit planning as TakeOrderedAndProject, broadcast joins on dimension
  * tables, and no cross products anywhere in the driver-contract queries. */
class PlanQualitySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  test("q1_pricing pushes the shipdate filter and prunes columns at the scan") {
    val plan = planOf("q1_pricing").toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
    assert(!plan.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q_top_orders plans as TakeOrderedAndProject, never a full sort") {
    val plan = planOf("q_top_orders").toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_join_broadcast broadcasts both dimension tables") {
    val plan = planOf("q_join_broadcast").toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("doc_tfidf_topterms truncates per-doc candidates map-side (partial WindowGroupLimit)") {
    val plan = planOf("doc_tfidf_topterms").toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("doc_length_quantiles does all window+agg work on one exchange") {
    val plan = planOf("doc_length_quantiles").toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("kg_property_table pivots on exactly one exchange (conditional aggregates, no join)") {
    val plan = planOf("kg_property_table").toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan) // the whole point vs per-predicate self-joins
    assert(plan.contains("partial_"), plan) // map-side partial aggregation
  }

  test("doc_oov_rate broadcasts the head vocabulary into the scoring join") {
    val plan = planOf("doc_oov_rate").toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // the corpus never shuffles on token for scoring
  }

  test("kg_comention_triangles plans equi-joins only (no cross product)") {
    // the full query's upstream (cap window included) materializes inside
    // Triangles' localCheckpoint — its plan properties are locked separately
    // on groupedPairs below
    val plan = planOf("kg_comention_triangles").toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("Triangles.groupedPairs caps group fan-out map-side, before the self-join") {
    val sp = spark; import sp.implicits._
    val rows = Seq.tabulate(300)(i => ("hub", s"m$i")).toDF("g", "m")
    val pairs = graft.operators.Triangles.groupedPairs(rows, "g", "m", 64)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(pairs.count() == 64L * 63 / 2, "fan-out must be C(cap,2), not C(300,2)")
  }

  test("doc_curation's dedup exchange carries digest + ints, never document text") {
    val plan = SparkEntry.queries("doc_curation")(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, plan.toString)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"curation exchange shuffles the raw text column: $names")
    }
  }

  // the dedup bucket caps must stay map-side (a Partial WindowGroupLimit
  // below the exchange): a regression that reorders the cap behind the
  // shuffle re-opens the full-bucket materialization window at 100 TB
  test("Dedup.candidatePairs caps LSH buckets map-side, before the exchange") {
    val plan = graft.dedup.Dedup.candidatePairs(
      graft.dedup.Dedup.minhashBands(
        spark.read.parquet(s"$sfDir/documents.parquet")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("Dedup.simhashPairs caps LSH buckets map-side, before the exchange") {
    val plan = graft.dedup.Dedup.simhashPairs(
      spark.read.parquet(s"$sfDir/documents.parquet"), maxHamming = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("Dedup.embeddingPairs caps LSH buckets map-side, before the exchange") {
    val plan = graft.dedup.Dedup.embeddingPairs(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("kg_merge_incremental's merge exchange carries digests, never document text") {
    val plan = SparkEntry.queries("kg_merge_incremental")(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, plan.toString)
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"merge exchange shuffles the raw text column: ${e.output.map(_.name)}")
    }
  }

  test("doc_pack_shards never sorts the document stream by lang alone (two-phase prefix sum)") {
    val plan = SparkEntry.queries("doc_pack_shards")(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    windows.foreach { w =>
      val keys = w.partitionSpec.map(_.toString)
      if (keys.length == 1 && keys.head.startsWith("lang")) {
        // the only lang-partitioned window runs over per-block SUBTOTALS —
        // its subtree must contain the aggregation, i.e. it never consumes
        // the raw document stream (the single-task-per-language shape)
        val hasAgg = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        }.nonEmpty
        assert(hasAgg, s"lang-only window consumes the raw document stream:\n$w")
      }
    }
    // and the document-stream window is keyed (lang, blk) — bounded partitions
    assert(windows.exists(_.partitionSpec.length == 2), plan.toString)
  }

  test("kg_entity_assoc caps per-page entities map-side, before the pair self-join") {
    val plan = planOf("kg_entity_assoc").toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("doc_source_quota truncates per-source runs map-side (partial WindowGroupLimit)") {
    val plan = planOf("doc_source_quota").toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
  }

  test("bloom-prefiltered decontamination equals the exact join output") {
    val sfd = sfDir
    val exact = SparkEntry.queries("doc_decontaminate")(spark, sfd)
    val bloomed = SparkEntry.queries("doc_bloom_decontaminate")(spark, sfd)
    assert(bloomed.except(exact).isEmpty && exact.except(bloomed).isEmpty,
      "bloom prefilter changed decontamination output")
  }

  test("kg_stored_neighbors reads the bucketed table with the pred filter pushed and never re-shuffles by page") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // AQE off so the static plan is inspectable without executing (the
    // query itself runs under AQE everywhere else)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf("kg_stored_neighbors")
      val s = plan.toString
      // mention-predicate filter reaches the parquet scan of the stored table
      assert(s.contains("PushedFilters: [IsNotNull(pred), EqualTo(pred,web:mentions)]"), s)
      // the traversal is genuine joins over the stored table...
      assert(s.contains("Join"), s)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
      // ...and NOTHING re-partitions by the bucket key: the page-level
      // dedup and the page-keyed self-join both consume the table's
      // bucket partitioning directly (the layout's entire payoff — the
      // only shuffles left are the tiny seed/agg exchanges on other keys)
      val pageShuffles = plan.collect { case e: ShuffleExchangeExec => e }
        .filter(_.outputPartitioning match {
          case h: HashPartitioning =>
            h.references.exists(a => a.name == "page" || a.name == "subj")
          case _ => false
        })
      assert(pageShuffles.isEmpty,
        s"stored traversal re-shuffled by the bucket key:\n$s")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kg_encoded_degree pushes the integer pred filter into the encoded-table scan") {
    val plan = planOf("kg_encoded_degree").toString
    // integer min/max + dictionary-page pushdown on the fixed-width fact
    // table — the scan shape the encoded layout exists for
    assert(plan.contains("PushedFilters: [IsNotNull(pred_id), EqualTo(pred_id,4)]"), plan)
    // id-space end to end: the aggregation never touches a string column
    assert(!plan.contains("url") && !plan.contains("iri,"), plan)
  }

  test("doc_shuffle_global never globally sorts the document stream (two-phase rank)") {
    val plan = SparkEntry.queries("doc_shuffle_global")(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty) {
        // the only unpartitioned window runs over the 256-row block
        // subtotals — its subtree must contain the aggregation, never the
        // raw document stream
        val hasAgg = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        }.nonEmpty
        assert(hasAgg, s"unpartitioned window consumes the raw document stream:\n$w")
      }
    }
    // and the document-stream window is keyed by the digest block
    assert(windows.exists(_.partitionSpec.nonEmpty), plan.toString)
  }

  test("shuffleGlobalPos: output is block-fan invariant and the 4-hex plan holds (r7)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the derived prefix keeps per-block row counts bounded
    assert(graft.contract.DocContracts.shufflePrefixLen(5000L) === 1)
    assert(graft.contract.DocContracts.shufflePrefixLen(1L << 30) === 2)
    assert(graft.contract.DocContracts.shufflePrefixLen(1L << 40, maxBlockRows = 1L << 22) === 5)
    // positions are IDENTICAL at any fan — blocks are contiguous digest
    // ranges, so block rank + exclusive offset is the same total order
    val p1 = graft.contract.DocContracts.shuffleGlobalPos(docs, 1).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val p2 = graft.contract.DocContracts.shuffleGlobalPos(docs, 2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val p4 = graft.contract.DocContracts.shuffleGlobalPos(docs, 4).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(p1.sameElements(p2))
    assert(p1.sameElements(p4))
    // at the 4-hex fan the unpartitioned window still consumes only the
    // block-subtotal aggregate, never the document stream
    val plan4 = graft.contract.DocContracts.shuffleGlobalPos(docs, 4).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows4 = plan4.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows4.nonEmpty)
    windows4.filter(_.partitionSpec.isEmpty).foreach { w =>
      val hasAgg = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }.nonEmpty
      assert(hasAgg, s"unpartitioned window consumes the raw document stream:\n$w")
    }
  }

  test("kg_link_relational's alias join is broadcast by AQE choice, not a hint") {
    val df = SparkEntry.queries("kg_link_relational")(spark, sfDir)
    // no hint anywhere in the logical plan: the strategy must be the
    // optimizer's own size-based decision, so a 10^8-row alias table
    // degrades to a shuffle join instead of a forced-broadcast OOM
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "linkRelational still carries a broadcast hint")
    df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the reduced alias table at dictionary size:\n$finalPlan")
  }

  test("no driver-contract query plans a cartesian product") {
    // ALL queries; emb_pairs_cosine's bounded-head brute force is the
    // documented exception (nested-loop on 120 rows by design)
    val exceptions = Set("emb_pairs_cosine")
    // the cj_* plans (a cityjson source scan, then aggregates) do not depend
    // on what the documents contain, so they are planned over the in-repo
    // fixtures
    spark.conf.set(graft.cj.CityJsonSource.CorpusKey, graft.cj.CjFixtures.dir)
    try SparkEntry.queries.keys
      .filterNot(exceptions)
      .foreach { name =>
        val plan = planOf(name).toString
        assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a broadcast nested-loop join (non-equi join leaked in)")
      }
    finally spark.conf.unset(graft.cj.CityJsonSource.CorpusKey)
  }

  test("cj_doc_stats and cj_log_categories scan the source with no exchange before the first aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    spark.conf.set(graft.cj.CityJsonSource.CorpusKey, graft.cj.CjFixtures.dir)
    try Seq("cj_doc_stats", "cj_log_categories").foreach { name =>
      val plan = planOf(name) match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect { case b: BatchScanExec => b }
      assert(scans.map(_.scan.getClass) == Seq(classOf[graft.cj.CityJsonScan]), s"$name:\n$plan")
      // the lowest aggregate over the scan, or the whole plan where there is none
      val firstAgg = plan.collect { case a: BaseAggregateExec => a }.lastOption.getOrElse(plan)
      assert(firstAgg.collect { case b: BatchScanExec => b }.nonEmpty, s"$name:\n$plan")
      assert(firstAgg.collect { case e: Exchange => e }.isEmpty,
        s"$name shuffles the corpus before its first aggregate:\n$plan")
    } finally spark.conf.unset(graft.cj.CityJsonSource.CorpusKey)
  }
}
