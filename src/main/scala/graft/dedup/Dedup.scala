package graft.dedup

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.util.Checkpoints

/** Document deduplication operators for the training-data pipeline.
  *
  * Scale design: every near-dup variant is LSH-banded — signatures are
  * computed in a narrow pass, candidate generation shuffles only
  * (band, bandHash) keys whose bucket sizes are bounded by construction,
  * and verification joins texts back only for the candidate pairs (a tiny
  * fraction of n²). Exact dedup is a single hash aggregate with map-side
  * partial aggregation. All signature functions are frozen (TextOps), so
  * results are partition-invariant.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct text with its count and
    * canonical (minimum) doc_id. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))

  /** doc_id -> keep/drop decision under exact dedup (keep = min doc_id). */
  def exactKeep(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withColumn("canonical_doc_id", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("text_md5")))
      .select(col("doc_id"), col("text_md5"),
        (col("doc_id") === col("canonical_doc_id")).as("keep"))

  private def textsById(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))

  /** Give a CPU-dense narrow pass at least the session's default
    * parallelism (r7, guide §2.5 "input skew"): a small parquet input is a
    * single row group, so its scan plans as ONE task and the signature
    * pass — the dominant cost of every LSH dedup variant — runs serially
    * no matter how many cores the session has. Hash-repartition on the id
    * BEFORE the per-row signature work when (and only when) the scan
    * under-parallelizes; the shuffle moves each text exactly once, and the
    * signatures are pure per-row functions, so results are partition-
    * invariant. At corpus scale the scan already yields >= cores
    * partitions (row groups abound) and this is a no-op — the data
    * never re-shuffles just for placement. The partition count is read
    * only from a plan with no exchange: under AQE, asking an exchange-
    * bearing plan for its RDD runs every shuffle stage, which the query
    * built on top would then run again. Such a plan's width is set by
    * its shuffle, not by the scan, so it passes through unchanged. */
  private def fanOut(df: DataFrame, key: String): DataFrame = {
    val plan = df.queryExecution.executedPlan
    val shuffled = plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!shuffled && df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target, col(key))
    else df
  }

  /** Per-doc OPH MinHash signature — THE single derivation every consumer
    * (bands, calibration, the aux_minhash_sigs oracle dump) builds on: the
    * frozen-signature discipline needs one code path, not three copies
    * that can silently desynchronize an oracle from its query. Chained
    * typed consumers fuse with this map object-to-object
    * (EliminateSerialization), so sharing costs nothing. */
  def minhashSigs(docs: DataFrame): Dataset[(Long, Array[Long])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id").cast("long"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // raw (non-deduped) shingle array: OPH's bin-min is duplicate-
        // invariant, so this equals the Set path hash-for-hash while
        // allocating one long[] instead of a boxed HashSet per document
        (id, TextOps.minhashSignatureOph(TextOps.shingleHashesRaw(text)))
      })
  }

  /** MinHash signatures: (doc_id, band, band_hash) rows. Signature is
    * one-permutation hashing with densification (one hash per shingle
    * instead of 64 — see [[TextOps.minhashSignatureOph]]): the signature
    * pass dominates minhash dedup cost at corpus scale. */
  def minhashBands(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    minhashSigs(docs)
      .mapPartitions(_.flatMap { case (id, sig) =>
        TextOps.bandKeys(sig).map { case (b, h) => (id, b, h) }
      })
      .toDF("doc_id", "band", "band_hash")
  }

  /** Max bucket size expanded into pairs — a hot bucket beyond this is a
    * degenerate near-dup cluster; its pairs are capped to protect the job
    * (the `MaxBucket` lowest-id members still pair with each other). */
  val MaxBucket = 1000

  /** Cap each LSH bucket to its `MaxBucket` lowest-id members BEFORE any
    * per-bucket materialization. A `row_number` window over the bucket key
    * never holds more than one frame row, so a degenerate bucket (identical
    * boilerplate at corpus scale, 10⁷+ members) streams through the sort
    * instead of landing in a single `collect_list` aggregation row — the
    * cap used to apply one stage too late, AFTER the full bucket was
    * materialized, which is an OOM window at 100 TB. The window's sort
    * shuffle hash-partitions on the same keys as the downstream groupBy, so
    * Catalyst reuses the exchange (one shuffle total, unchanged). */
  private def capBuckets(rows: DataFrame, keys: Seq[String], order: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(order))
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= MaxBucket)
      .drop("__rn")
  }

  /** Per-run cap telemetry (no silent caps at scale): bucket counts and the
    * exact number of candidate pairs the `MaxBucket` cap drops. Record this
    * beside the pair output — at 100 TB the cap silently changes recall. */
  def capTelemetry(bands: DataFrame, keys: Seq[String] = Seq("band", "band_hash")): DataFrame = {
    val maxPairs = MaxBucket.toLong * (MaxBucket - 1) / 2
    bands
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_multi_buckets"),
        sum(when(col("n") > MaxBucket, 1L).otherwise(0L)).as("n_capped_buckets"),
        // integer DIV, not `/`: double division loses exactness past 2^53
        // (a 10⁹-member bucket has 5·10¹⁷ pairs)
        sum(when(col("n") > MaxBucket,
          expr(s"n * (n - 1) DIV 2") - lit(maxPairs)).otherwise(0L)).as("dropped_candidate_pairs"))
  }

  /** Candidate pairs from shared LSH buckets (doc_a < doc_b, distinct).
    * One aggregation over the band rows — the signature stage is computed
    * exactly once (a self-join would recompute it per side), and in-bucket
    * pair expansion is local to each bucket, bounded by [[capBuckets]]. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    capBuckets(bands, Seq("band", "band_hash"), "doc_id")
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids0 =>
        val ids = ids0.distinct.sorted
        for { i <- ids.indices.iterator; j <- (i + 1) until ids.size } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash+LSH near-dup pairs verified by exact n-gram Jaccard. */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cands = candidatePairs(minhashBands(docs))
    val texts = textsById(docs)
    cands
      .join(texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"), "doc_a")
      .join(texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"), "doc_b")
      // using-column joins move the key first — pin the order before decoding
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (a, b, ta, tb) =>
        val j = TextOps.jaccardSorted(
          TextOps.sortedDistinct(TextOps.shingleHashesRaw(ta)),
          TextOps.sortedDistinct(TextOps.shingleHashesRaw(tb)))
        if (j >= threshold) Some((a, b, j)) else None
      })
      .toDF("doc_a", "doc_b", "jaccard")
  }

  /** Incremental (catch-up) near-dup detection: candidate pairs between a
    * NEW ingest batch and the EXISTING corpus only — the banded index join a
    * crawl pipeline runs per batch, never re-pairing the old corpus against
    * itself (at 100 TB the old side's bands live as a materialized LSH index
    * table and only the new batch computes signatures; here both sides derive
    * from [[minhashBands]], which is the same rows). Both sides keep the
    * [[MaxBucket]] cap so one boilerplate bucket can't explode the join, and
    * every candidate is exact-verified like [[minhashPairs]]. Output:
    * (doc_new, doc_old, jaccard) for pairs at/above `threshold`. */
  def incrementalPairs(newDocs: DataFrame, oldDocs: DataFrame, threshold: Double): DataFrame = {
    val ob = capBuckets(minhashBands(oldDocs), Seq("band", "band_hash"), "doc_id")
    crossVerifiedPairs(minhashBands(newDocs), ob, newDocs, oldDocs, threshold)
  }

  /** Default bucket count for [[writeBandIndex]] — sized so each bucket file
    * stays well under an executor's working set at the corpus scales the
    * sandbox runs; a real deployment sizes it to corpus_bands / target file
    * size exactly like any bucketed fact table. */
  val IndexBuckets = 32

  /** Materialize the LSH band index of a corpus as a (band, band_hash)-
    * bucketed, sorted table — the stored half of per-ingest dedup at 100 TB.
    * The signature pass (the dominant cost of MinHash dedup) runs ONCE per
    * corpus here instead of once per ingest batch inside
    * [[incrementalPairs]]; the bucketed layout pre-shuffles the index on the
    * join key, so each batch's candidate join reads it exchange-free (only
    * the small new-batch side shuffles — [[DedupIndexSpec]] locks the plan).
    * The [[MaxBucket]] cap is applied at build time (identical to the cap
    * [[incrementalPairs]] applies per batch), so the stored index is also
    * bounded per key. Contract: results of [[incrementalPairsIndexed]] over
    * this table are EXACTLY [[incrementalPairs]] over the same corpora. */
  def writeBandIndex(docs: DataFrame, table: String, buckets: Int = IndexBuckets): Unit =
    // bucket-aligned repartition before the bucketed write (r7, guide §6):
    // a bucketed write emits one file per (task, bucket); aligning tasks
    // with buckets bounds the table at `buckets` files regardless of the
    // upstream stage's task count or AQE coalescing
    capBuckets(minhashBands(docs), Seq("band", "band_hash"), "doc_id")
      .repartition(buckets, col("band"), col("band_hash"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, "band", "band_hash")
      .sortBy("band", "band_hash", "doc_id")
      .saveAsTable(table)

  /** The MAINTENANCE write of the stored band index: append one accepted
    * ingest batch's (capped) band rows under the SAME bucket spec, so the
    * next batch's [[incrementalPairsIndexed]] sees this batch's documents —
    * without it, batch N+1 dedups only against the initial corpus. The
    * bucket count must match the table's (Spark validates and fails loudly
    * on mismatch). Cap discipline: each append is capped per
    * (band, band_hash) like the build, so a key's total rows grow at most
    * [[MaxBucket]] per append; run [[recapBandIndex]] periodically (the
    * OPTIMIZE analog) to re-apply the global cap across batches. Caller
    * owns exactly-once (append only batches actually accepted, once). */
  def appendToBandIndex(docs: DataFrame, table: String): Unit = {
    val buckets = tableBuckets(docs.sparkSession, table)
    capBuckets(minhashBands(docs), Seq("band", "band_hash"), "doc_id")
      .repartition(buckets, col("band"), col("band_hash"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet")
      .bucketBy(buckets, "band", "band_hash")
      .sortBy("band", "band_hash", "doc_id")
      .saveAsTable(table)
  }

  /** The stored index's own bucket count, from catalog metadata — appends
    * and recaps must match it EXACTLY or the bucketed-read guarantee
    * silently dies, so it is never caller-supplied. */
  private def tableBuckets(spark: org.apache.spark.sql.SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"$table has no bucket spec"))

  /** Compaction for an appended band index: rewrite the table with the
    * global [[MaxBucket]] cap re-applied across all batches (per-append
    * caps bound each batch, not their union). Swap protocol: the new table
    * materializes fully, the original renames ASIDE (never dropped until
    * the new one is in place), the new one renames in, and only then does
    * the aside copy drop — the data is recoverable at every failure point.
    * A crash between the two renames leaves the name briefly unbound with
    * the original intact under `<table>_recap_old` (re-run the recap or
    * rename it back); a true single-statement swap needs a transactional
    * catalog (Iceberg) and slots in behind this same method. */
  def recapBandIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val tmp = s"${table}_recap_tmp"
    val old = s"${table}_recap_old"
    // crash recovery FIRST (r7 advice fix): a crash between the two renames
    // below leaves the table name unbound with the original preserved as
    // <table>_recap_old. Restore it BEFORE the pre-drops — the old order
    // dropped _recap_old and then failed at spark.table(table), destroying
    // the only remaining copy of the index.
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(spark.sessionState.sqlParser.parseTableIdentifier(t))
    if (!exists(table) && exists(old))
      spark.sql(s"ALTER TABLE $old RENAME TO $table")
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $old")
    val buckets = tableBuckets(spark, table)
    capBuckets(spark.table(table), Seq("band", "band_hash"), "doc_id")
      .repartition(buckets, col("band"), col("band_hash"))
      .write
      .format("parquet")
      .bucketBy(buckets, "band", "band_hash")
      .sortBy("band", "band_hash", "doc_id")
      .saveAsTable(tmp)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
  }

  /** Per-ingest-batch near-dup detection against a stored [[writeBandIndex]]
    * table: only the new batch computes signatures; the corpus side is the
    * pre-capped, pre-bucketed index. `corpusDocs` supplies the old TEXTS for
    * exact verification (at scale: the corpus fact table, joined only for
    * the candidate doc_ids — a tiny fraction of the corpus). */
  def incrementalPairsIndexed(newDocs: DataFrame, corpusDocs: DataFrame,
      indexTable: String, threshold: Double): DataFrame = {
    val ob = newDocs.sparkSession.table(indexTable)
    crossVerifiedPairs(minhashBands(newDocs), ob, newDocs, corpusDocs, threshold)
  }

  /** Shared tail of the incremental variants: cap the new side, candidate-
    * join on the band key, then exact-verify every cross pair. `oldBands`
    * must already be capped (either per batch or at index-build time). */
  private def crossVerifiedPairs(newBands: DataFrame, oldBands: DataFrame,
      newDocs: DataFrame, oldDocs: DataFrame, threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val nb = capBuckets(newBands, Seq("band", "band_hash"), "doc_id")
    val cands = nb.select(col("band"), col("band_hash"), col("doc_id").as("doc_new"))
      .join(oldBands.select(col("band"), col("band_hash"), col("doc_id").as("doc_old")),
        Seq("band", "band_hash"))
      .select(col("doc_new"), col("doc_old")).distinct()
    val newTexts = textsById(newDocs)
    val oldTexts = textsById(oldDocs)
    cands
      .join(newTexts.select(col("doc_id").as("doc_new"), col("text").as("text_n")), "doc_new")
      .join(oldTexts.select(col("doc_id").as("doc_old"), col("text").as("text_o")), "doc_old")
      .select(col("doc_new").cast("long"), col("doc_old").cast("long"), col("text_n"), col("text_o"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.flatMap { case (n, o, tn, to) =>
        val j = TextOps.jaccardSorted(
          TextOps.sortedDistinct(TextOps.shingleHashesRaw(tn)),
          TextOps.sortedDistinct(TextOps.shingleHashesRaw(to)))
        if (j >= threshold) Some((n, o, j)) else None
      })
      .toDF("doc_new", "doc_old", "jaccard")
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * signature-estimated similarity (count of matching slots out of
    * [[TextOps.MinhashPerms]]) against the EXACT shingle Jaccard, rolled up
    * per match count. Integer-exact throughout — (matching_slots, n_pairs,
    * sum_inter, sum_union) — so the calibration curve (est ≈ matching/64 vs
    * exact ≈ sum_inter/sum_union) is reproducible bit-for-bit. This is the
    * measurement a production dedup run records before trusting a banding
    * threshold at corpus scale: it quantifies, on the live corpus, how far
    * the OPH estimator sits from truth inside the candidate region (the only
    * region LSH ever surfaces). The banding and the per-pair estimate share
    * one signature DEFINITION (recomputed per use — deterministic, so
    * cheaper at scale than persisting 64-slot arrays across stages). */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val texts = textsById(docs)
    val sigs = minhashSigs(docs).toDF("doc_id", "sig")
    val bands = sigs.as[(Long, Seq[Long])]
      .mapPartitions(_.flatMap { case (id, sig) =>
        TextOps.bandKeys(sig.toArray).map { case (b, h) => (id, b, h) }
      }).toDF("doc_id", "band", "band_hash")
    candidatePairs(bands)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .select(col("sig_a"), col("sig_b"), col("text_a"), col("text_b"))
      .as[(Seq[Long], Seq[Long], String, String)]
      .mapPartitions(_.map { case (sa, sb, ta, tb) =>
        var m = 0
        var i = 0
        while (i < sa.length) { if (sa(i) == sb(i)) m += 1; i += 1 }
        val ha = TextOps.sortedDistinct(TextOps.shingleHashesRaw(ta))
        val hb = TextOps.sortedDistinct(TextOps.shingleHashesRaw(tb))
        var inter = 0L
        var x = 0
        var y = 0
        while (x < ha.length && y < hb.length) {
          if (ha(x) == hb(y)) { inter += 1; x += 1; y += 1 }
          else if (ha(x) < hb(y)) x += 1
          else y += 1
        }
        (m, inter, ha.length + hb.length - inter)
      }).toDF("matching_slots", "inter", "un")
      .groupBy(col("matching_slots"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("inter")).as("sum_inter"),
        sum(col("un")).as("sum_union"))
  }

  /** SimHash per document. */
  def simhashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    fanOut(docs.select(col("doc_id").cast("long"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.simhash64(t)) })
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs: band 64 bits into 4x16-bit keys (any pair with
    * hamming <= 3 shares at least one band by pigeonhole), verify hamming.
    * Same single-aggregation bucket expansion as [[candidatePairs]]; the
    * simhash rides along so verification needs no join back. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = simhashes(docs).as[(Long, Long)]
    val banded = sh.flatMap { case (id, s) =>
      (0 until 4).map(b => (id, s, b, (s >>> (16 * b)) & 0xffffL))
    }.toDF("doc_id", "simhash", "band", "key")
    capBuckets(banded, Seq("band", "key"), "doc_id")
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(col("members")).as[Seq[(Long, Long)]]
      .flatMap { members0 =>
        val members = members0.distinct.sortBy(_._1)
        for {
          i <- members.indices.iterator
          j <- (i + 1) until members.size
          d = TextOps.hamming(members(i)._2, members(j)._2)
          if d <= maxHamming
        } yield (members(i)._1, members(j)._1, d)
      }
      .toDF("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** Embedding near-dup pairs: hyperplane-LSH bucket join, cosine verify. */
  def embeddingPairs(emb: DataFrame, threshold: Double, bits: Int = 10): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bucketed = fanOut(emb.select(col("vec_id").cast("long"), col("embedding")), "vec_id")
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (TextOps.hyperplaneBucket(v, bits), id, v) })
      .toDF("bucket", "vec_id", "embedding")
    capBuckets(bucketed, Seq("bucket"), "vec_id")
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("members"))
      .filter(size(col("members")) > 1)
      .select(col("members")).as[Seq[(Long, Array[Float])]]
      .flatMap { members0 =>
        val members = members0.sortBy(_._1)
        for {
          i <- members.indices.iterator
          j <- (i + 1) until members.size
          c = TextOps.cosine(members(i)._2, members(j)._2)
          if c >= threshold
        } yield (members(i)._1, members(j)._1, c)
      }
      .toDF("vec_a", "vec_b", "cosine")
  }

  /** Connected components over an undirected pair list — the step that turns
    * near-dup PAIRS into a keep-one-per-cluster decision (pairs alone cannot:
    * dup relations are transitive through chains A~B~C).
    *
    * Iterative min-label propagation: each round every vertex takes the min
    * of its own label and its neighbors' labels (one equi join + one
    * partial/final min agg per round), converging in O(diameter) rounds —
    * near-dup clusters are shallow (a handful of rounds). Per-round
    * lineage cuts go through Checkpoints.cut — local by default, durable
    * storage-backed every `reliableEvery` rounds on a cluster. At
    * adversarial diameters (long chains) switch to
    * large-star/small-star, which bounds rounds at O(log n); the round
    * structure here is the same shuffle shape.
    *
    * Throws `IllegalStateException` if `maxIter` rounds pass without
    * convergence — silently returning partially-propagated labels would
    * hand nearDupKeep callers wrong keep-lists with no signal.
    *
    * Returns (id, component) where component = min id reachable.
    */
  def components(pairs: DataFrame, a: String = "doc_a", b: String = "doc_b",
      maxIter: Int = 50, reliableEvery: Option[Int] = None): DataFrame = {
    val sym = Checkpoints.cut(
      pairs.select(col(a).as("src"), col(b).as("dst"))
        .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))
        .distinct(), 0, reliableEvery)
    var labels = Checkpoints.cut(
      sym.select(col("src").as("id"))
        .distinct()
        .withColumn("component", col("id")), 0, reliableEvery)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      val next = Checkpoints.cut(
        labels.unionAll(viaNeighbor)
          .groupBy("id").agg(min(col("component")).as("component")), iter + 1, reliableEvery)
      converged = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).isEmpty
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.components did not converge in $maxIter rounds — dup-graph diameter " +
          s"exceeds the bound; raise maxIter or switch to large-star/small-star")
    labels
  }

  /** Connected components in O(log n) rounds via alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the adversarial-diameter path [[components]]' Scaladoc
    * promises: min-label propagation needs O(diameter) rounds, so a
    * 10⁶-node chain (pathological but possible in near-dup graphs chained
    * through template boilerplate) would blow any sane round budget, while
    * star contraction halves tree heights every round regardless of shape.
    *
    * Per round: each star op is ONE window-min + filter over the symmetric
    * edge list (hash shuffle on the pivot node), lineage cut per round.
    *   large-star: every neighbor v > u re-attaches to m = min(N(u) ∪ {u})
    *   small-star: every neighbor v ≤ u (and u) re-attaches to that m
    * Converged when the edge set is a fixpoint — then edges ARE
    * (node → component-root) assignments.
    *
    * Returns (id, component) with component = min id reachable — the same
    * contract as [[components]] (spec-locked equal).
    */
  def componentsLogStar(pairs: DataFrame, a: String = "doc_a", b: String = "doc_b",
      maxIter: Int = 30, reliableEvery: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = Checkpoints.cut(
      pairs.select(col(a).cast("long").as("id"))
        .unionAll(pairs.select(col(b).cast("long").as("id"))).distinct(), 0, reliableEvery)
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
    var e = Checkpoints.cut(
      canon(pairs.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))),
      0, reliableEvery)
    var eCount = e.count() // each round's count carries into the next comparison
    def sym(d: DataFrame) = d.unionAll(d.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: neighbors strictly above the pivot attach to the min
      val ls = sym(e).withColumn("m", least(col("u"), min("v").over(w)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over the large-star output: neighbors at or below the
      // pivot (and the pivot itself) attach to the min
      val d = sym(canon(ls)).filter(col("v") <= col("u"))
        .withColumn("m", min("v").over(w))
      val ss = d.select(col("v").as("u"), col("m").as("v"))
        .unionAll(d.select(col("u"), col("m").as("v")))
      val next = Checkpoints.cut(canon(ss), iter + 1, reliableEvery)
      // set-equality fixpoint test (r7): both sides are canonical DISTINCT
      // edge sets, so |next| == |e| ∧ next \ e = ∅ ⟺ next = e — one count
      // and one anti-join instead of the old union + intersect + except
      // chain (three extra shuffles per round on the biggest intermediate)
      val nextCount = next.count()
      converged = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.componentsLogStar did not converge in $maxIter rounds (log₂-bounded — " +
          "this indicates a bug, not an input property)")
    // fixpoint edges are canonical (root=min, child): every child maps to
    // its root; roots and singletons keep themselves
    nodes.join(e.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Keep-list from near-dup pairs: the canonical document of each component
    * is its min id; documents in no pair keep themselves (singleton). */
  def nearDupKeep(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("keep", col("doc_id") === col("component"))
  }

  /** Exact duplicated-substring spans (the span-level dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): find every
    * maximal run of tokens that appears at two or more positions anywhere in
    * the corpus (another document or elsewhere in the same one), as
    * (doc_id, span_start, span_tokens, n_grams) rows — the unit a training
    * pipeline CUTS, where doc-level near-dup only drops whole documents.
    *
    * Shape: one narrow pass explodes each document into its k-token grams
    * (position `pos` is 1-based, gram `pos` covers tokens pos..pos+k-1); a
    * count aggregation keyed on the gram finds grams with ≥ 2 occurrences; a
    * left-semi join back (same key — Catalyst reuses the exchange) marks the
    * duplicated positions; and a doc-local gaps-and-islands window merges
    * consecutive marked positions into maximal spans (`pos − row_number` is
    * constant within a run). Every column is an integer or the gram itself,
    * so the result is engine-exact.
    *
    * Scale: two shuffles keyed on the gram plus one keyed on doc_id; bucket
    * sizes are bounded (a gram occurs at most once per position) and the
    * window frame is doc-local. At 100 TB set `hashKeys = true`: the
    * count/mark stages then key on a PAIR of independent codegen'd 64-bit
    * hashes of the gram (2⁻¹²⁸ collision space — safe past any corpus
    * size) and the gram string never enters a shuffle at all (16 bytes
    * against a ~40-byte string, the dominant payload of this operator).
    * The string key stays the default because it is what the SQL oracle
    * compares bit-for-bit; `DedupSpec` locks the two modes row-identical. */
  def dupSpans(docs: DataFrame, k: Int = 5, hashKeys: Boolean = false): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val keys: Seq[String] = if (hashKeys) Seq("h1", "h2") else Seq("gram")
    val grams0 = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(1, size(ws) - ${k - 1}), i -> concat_ws(' ', slice(ws, i, $k)))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
    val grams =
      if (hashKeys) grams0
        // SALT FIRST: Spark's multi-arg xxhash64 folds left-to-right with
        // the running hash as the seed, so hash(gram, salt) is a pure
        // function of hash(gram) — zero independent entropy. hash(salt,
        // gram) instead evaluates the gram under a different effective
        // seed (the classic two-seed family), giving the two keys the
        // 2⁻¹²⁸ joint collision space the mode claims
        .withColumn("h1", xxhash64(col("gram")))
        .withColumn("h2", xxhash64(lit(0x9e3779b9L), col("gram")))
        .drop("gram")
      else grams0
    val dupGrams = grams.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    val marked = grams.join(dupGrams, keys, "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min("pos").as("span_start"),
        (max("pos") - min("pos") + k).as("span_tokens"),
        count(lit(1)).as("n_grams"))
      .drop("island")
  }

  /** Apply the span-level cut that [[dupSpans]] locates: rewrite each
    * document with every token removed that is covered ONLY by
    * non-canonical duplicated k-gram occurrences (the canonical occurrence
    * of a gram is the corpus-wide minimum (doc_id, pos); the first copy
    * keeps its text, every later copy is cut — deterministic, so two runs
    * of the pipeline cut identically). Unique text and the first
    * occurrence of every duplicated run survive verbatim.
    *
    * Output per document: (doc_id, n_tokens, n_cut, text_cut). Reassembly
    * joins kept tokens with a single space — exact on the corpus contract
    * (single-space tokenization), and engine-exact (string equality) vs
    * the SQL oracle.
    *
    * Shape: the gram/count/mark stages are [[dupSpans]]'s; the cut adds a
    * k-wide coverage explode of the DUPLICATED positions only (linear in
    * the dup fraction), a (doc, token) OR-aggregation, and a doc-keyed
    * rewrite — every join/agg keyed on (doc_id, i) or doc_id, and the
    * per-doc sort is bounded by document length. */
  def cutSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("tok"))
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(1, size(ws) - ${k - 1}), i -> concat_ws(' ', slice(ws, i, $k)))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
    // canonical occurrence per duplicated gram = min (doc_id, pos): struct
    // ordering is lexicographic, so min(struct(..)) is the deterministic pick
    val canon = grams.groupBy("gram")
      .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("pos"))).as("c"))
      .filter(col("n") > 1)
      .select(col("gram"), col("c.doc_id").as("c_doc"), col("c.pos").as("c_pos"))
    val cover = grams.join(canon, "gram")
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("i"),
        (col("doc_id") === col("c_doc") && col("pos") === col("c_pos")).as("is_canon"))
      .groupBy("doc_id", "i").agg(max(col("is_canon")).as("any_canon"))
    toks.join(cover, Seq("doc_id", "i"), "left_outer")
      .withColumn("keep", coalesce(col("any_canon"), lit(true)))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_cut"),
        array_join(
          expr("transform(filter(array_sort(collect_list(struct(i, keep, tok))), x -> x.keep), x -> x.tok)"),
          " ").as("text_cut"))
  }
}
