package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.extract.Tokenize

/** Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, the GPT-2
  * recipe): learn the merge table from the corpus, the way web-scale
  * tokenizers are actually built.
  *
  * Scale shape — the classic map-reduce BPE trick: the corpus is touched
  * EXACTLY ONCE, by the pre-token frequency aggregation ([[wordFreqs]], one
  * shuffle keyed on the pre-token). Every merge round after that operates
  * on the VOCABULARY table (distinct pre-tokens + counts — ~10⁵-10⁶ rows at
  * web scale, independent of corpus size): one narrow adjacent-pair
  * explode, one tiny aggregation, one bounded single-row argmax fetch, one
  * narrow merge map. 100 TB of text and 1 GB of text pay the same per-round
  * cost.
  *
  * Determinism (the property every oracle and every reproducible-training
  * run needs): the argmax tie-break is total — (freq DESC, left ASC,
  * right ASC) — so the merge table is a pure function of the corpus,
  * independent of partitioning. Merges apply greedily left-to-right,
  * non-overlapping (the reference semantics).
  */
object Bpe {

  /** Pre-token frequency table: one corpus-scale aggregation over the
    * [[Tokenize.BpePattern]] pre-tokenizer (the same frozen pattern the
    * token-count contract queries use; runs as a codegen'd regex). */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(regexp_extract_all(col("text"),
        lit(Tokenize.BpePattern), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Greedy left-to-right, non-overlapping application of one merge. */
  private[text] def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Initial symbols = CODE POINTS, not UTF-16 units — a surrogate pair
    * (emoji, CJK-B) stays one symbol, so learned merges are always valid
    * strings and agree with code-point-based engines (the DuckDB oracle's
    * `substr`). */
  private[graft] def splitSymbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** THE argmax order of BPE training, shared verbatim by the distributed
    * reduce and the local loop so the two trainers agree bit-for-bit on
    * ties for ANY symbols: freq DESC, then left, then right in UTF-8 BYTE
    * order (engine-collation-free — Java String order differs from UTF-8
    * order for supplementary-plane symbols). */
  private[text] val MergeOrdering: Ordering[(String, String, Long)] =
    new Ordering[(String, String, Long)] {
      private def utf8(x: String, y: String): Int =
        java.util.Arrays.compare(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def compare(a: (String, String, Long), b: (String, String, Long)): Int = {
        if (a._3 != b._3) java.lang.Long.compare(b._3, a._3)
        else {
          val c = utf8(a._1, b._1)
          if (c != 0) c else utf8(a._2, b._2)
        }
      }
    }

  /** Learn up to `rounds` merges from the corpus. Output: one row per
    * learned merge — (round, left, right, freq), `freq` = the pair's
    * corpus-weighted count when it was chosen. Training stops early when
    * no adjacent pair occurs at least twice (merging singletons would only
    * memorize the tail).
    *
    * The round loop runs on an RDD deliberately (the rare imperative-loop
    * case): each round's vocab is local-checkpointed and the PREVIOUS
    * round's blocks are unpersisted once the new state materializes, so
    * executor storage stays O(vocab) at any merge count — a Dataset
    * localCheckpoint chain would retain every round's blocks for the life
    * of the job (32k-100k rounds of them on a real tokenizer run). */
  def learnMerges(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: org.apache.spark.rdd.RDD[(Array[String], Long)] =
      wordFreqs(docs).as[(String, Long)].rdd
        .map { case (w, f) => (splitSymbols(w), f) }
    vocab.localCheckpoint()
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      // corpus-weighted pair counts (exact long sums), then the bounded
      // single-row argmax under the shared total order (the Ann-style fetch)
      val top = vocab
        .flatMap { case (syms, f) =>
          (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), f)) }
        .reduceByKey(_ + _)
        .map { case ((l, r), f) => (l, r, f) }
        .takeOrdered(1)(MergeOrdering)
      top.headOption.filter(_._3 >= 2L) match {
        case Some((l, r, f)) =>
          merges += ((round, l, r, f))
          val prev = vocab
          vocab = vocab.map { case (syms, wf) => (applyMerge(syms, l, r), wf) }
          vocab.localCheckpoint()
          vocab.count() // materialize the new state before freeing the old
          prev.unpersist(blocking = false)
          round += 1
        case None => exhausted = true
      }
    }
    merges.result().toDF("round", "left", "right", "freq")
  }

  /** The MANY-MERGES path (how real tokenizer training runs): after the one
    * corpus-scale aggregation, the vocabulary table is O(distinct
    * pre-tokens) — 10⁵-10⁶ rows at web scale, a bounded driver fetch of the
    * same class as Ann's centroid samples — so training 32k-100k merges
    * collects it once and iterates locally instead of paying one Spark job
    * (plans, scheduling, a shuffle) PER MERGE. Output is bit-identical to
    * [[learnMerges]] (spec-locked); use the distributed variant when the
    * vocabulary genuinely cannot fit the driver, this one everywhere else.
    * The loop recounts pairs per round (O(vocab·len)); a production trainer
    * would delta-update counts for the words containing the merged pair —
    * same output, lower constant. */
  def learnMergesLocal(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab: Array[(Array[String], Long)] = wordFreqs(docs).as[(String, Long)]
      .collect().map { case (w, f) => (splitSymbols(w), f) }
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      // argmax under the SAME total order as the distributed reduce
      var best: (String, String, Long) = null
      counts.foreach { case ((l, r), v) =>
        val c = (l, r, v)
        if (best == null || MergeOrdering.compare(c, best) < 0) best = c
      }
      if (best == null || best._3 < 2L) exhausted = true
      else {
        val (l, r, f) = best
        merges += ((round, l, r, f))
        vocab = vocab.map { case (syms, wf) => (applyMerge(syms, l, r), wf) }
        round += 1
      }
    }
    merges.result().toDF("round", "left", "right", "freq")
  }

  /** The standard rank-map encode: O(L log L) per pre-token, INDEPENDENT of
    * merge-table size. A doubly-linked symbol list plus a (rank, position)
    * min-heap of adjacent-pair candidates with lazy invalidation — each pop
    * merges the lowest-rank pair currently present, left-to-right within a
    * rank. Stale heap entries self-identify (the symbols recorded at push
    * time no longer match the list) and pop as no-ops.
    *
    * BIT-IDENTICAL to replaying the merges in learned order
    * (the specs' reference encode) for ANY table, not just unambiguous
    * ones: pops come off a min-heap and a merge only creates pairs
    * containing its new symbol, so ranks are processed in nondecreasing
    * order — when rank i is reached, the list is exactly the replay's
    * state at pass i. The one divergence window (a table holding two
    * derivations of the same symbol string, e.g. a+bc and ab+c: a rank-j
    * merge manufactures a NEW occurrence of a lower-rank pair the replay's
    * pass i never saw) is closed by the `rk > after` guard — merge-created
    * pairs enqueue only at ranks above the merge that created them, which
    * is precisely replay's "pass i is over" rule. */
  private[graft] def encodeSymbols(start: Array[String],
      ranks: collection.Map[(String, String), Int]): Array[String] = {
    val n = start.length
    if (n < 2) return start
    val syms = start.clone()
    val next = Array.tabulate(n)(_ + 1) // n = end sentinel
    val prev = Array.tabulate(n)(_ - 1)
    val alive = Array.fill(n)(true)
    final case class Cand(rank: Int, pos: Int, l: String, r: String)
    val heap = collection.mutable.PriorityQueue.empty[Cand](
      Ordering.by[Cand, (Int, Int)](c => (c.rank, c.pos)).reverse)
    def push(pos: Int, after: Int): Unit = {
      val np = next(pos)
      if (np < n) ranks.get((syms(pos), syms(np)))
        .foreach(rk => if (rk > after) heap.enqueue(Cand(rk, pos, syms(pos), syms(np))))
    }
    var i = 0
    while (i < n - 1) { push(i, -1); i += 1 }
    while (heap.nonEmpty) {
      val c = heap.dequeue()
      if (alive(c.pos) && syms(c.pos) == c.l) {
        val q = next(c.pos)
        if (q < n && syms(q) == c.r) {
          syms(c.pos) = c.l + c.r
          val nq = next(q)
          alive(q) = false
          next(c.pos) = nq
          if (nq < n) prev(nq) = c.pos
          if (prev(c.pos) >= 0) push(prev(c.pos), c.rank)
          push(c.pos, c.rank)
        }
      }
    }
    val out = Array.newBuilder[String]
    var k = 0
    while (k < n) { if (alive(k)) out += syms(k); k += 1 }
    out.result()
  }

  /** Tokenize with a learned merge table (the inference side): pre-tokens →
    * code-point symbols → [[encodeSymbols]] under the table's rank map.
    * Narrow; the merge table rides a broadcast-sized local array
    * (vocab-bounded, like any tokenizer's), and per-token cost is
    * O(L log L) regardless of merge count — the shape that survives a real
    * 32k-100k-merge vocabulary. */
  def encode(docs: DataFrame, merges: Array[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bc.value
        val pat = java.util.regex.Pattern.compile(Tokenize.BpePattern)
        it.map { case (id, text) =>
          val m = pat.matcher(text)
          var n = 0L
          while (m.find()) n += encodeSymbols(splitSymbols(m.group()), ranks).length
          (id, n)
        }
      }
      .toDF("doc_id", "n_tokens")
  }
}
