package graft.contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{Bpe, TextOps, Tfidf}

/** Training-data ops over the `documents` table: dedup, tokenization,
  * quality signals, sampling, packing and decontamination. */
object DocContracts extends Family {

  /** GPT-style sequence packing via a HIERARCHICAL two-phase prefix sum.
    *
    * A flat `Window.partitionBy(lang).orderBy(doc_id)` running sum puts an
    * entire language in ONE task's external sort — at 10¹²-document scale
    * with an 80%-English corpus that is a single-task stage. Instead:
    *
    *  1. blocks: `blk = doc_id DIV blockSize` segments each language's
    *     id-ordered stream into bounded ranges (≤ blockSize docs each);
    *  2. per-(lang, blk) token subtotals — one partial/final aggregation,
    *     corpus/blockSize output rows (10⁶ at a trillion docs for the
    *     default 2²⁰ block, trivially broadcastable);
    *  3. exclusive running offset per lang over BLOCKS — the only
    *     lang-partitioned window, over subtotal rows, never documents;
    *  4. broadcast-join offsets back, local prefix sum within (lang, blk) —
    *     every window partition bounded by blockSize rows.
    *
    * Bit-identical to the flat formulation (integer token counts, exact
    * arithmetic); the `PackShardsSpec` equivalence test locks that across
    * block sizes, `PlanQualitySpec` locks that no document-stream exchange
    * is keyed on lang alone. */
  private[graft] def packShards(documents: DataFrame, cap: Long,
      blockSize: Long = 1L << 20): DataFrame = {
    // the tokenized projection feeds BOTH the subtotal agg and the join
    // branch; without a cut Spark would re-run the corpus scan +
    // tokenization once per branch. The materialized row is 4 numeric
    // columns (no text) — tiny relative to the scan it saves.
    val base = documents.select(
        col("doc_id"), col("lang"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
      .withColumn("blk", expr(s"doc_id DIV $blockSize"))
      .localCheckpoint()
    val subtotals = base.groupBy("lang", "blk").agg(sum("n_tokens").as("blk_tokens"))
    val wBlk = Window.partitionBy("lang").orderBy("blk")
    val offsets = subtotals
      .withColumn("blk_offset",
        coalesce(sum("blk_tokens").over(wBlk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "blk", "blk_offset")
    val wLoc = Window.partitionBy("lang", "blk").orderBy("doc_id")
    base.join(broadcast(offsets), Seq("lang", "blk"))
      .withColumn("cum_before", col("blk_offset") +
        coalesce(sum("n_tokens").over(wLoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before DIV $cap").as("shard_id"),
        (col("cum_before") % cap).as("shard_offset"))
  }

  /** Word-bigram Jaccard pairs over a bounded head sample, fully relational
    * (shingle explode + self-equi-join on shingle — never a cross product);
    * the corpus-scale path is Dedup.minhashPairs. The threshold test is
    * integer arithmetic: engine-exact vs the DuckDB oracle. */
  private def bigramJaccardPairs(documents: DataFrame): DataFrame = {
    val docs = documents.filter(col("doc_id") < 100)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .filter(col("n_inter") * 100 >= col("n_union") * 8)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** Deterministic global training-order shuffle: every doc gets its
    * 1-based position in the (md5(text), doc_id) total order — rerun-stable
    * at any parallelism (never rand()); a different epoch salt would just
    * prepend to the digest. Scale shape: hierarchical two-phase rank (the
    * doc_pack_shards discipline, corpus-wide): docs rank WITHIN their
    * 16^prefixLen digest-prefix blocks (bounded partitions); the only
    * unpartitioned window runs over the block-subtotal aggregate — no
    * single task ever sorts the corpus (plan-locked). The OUTPUT is
    * prefix-length-invariant (spec-locked): prefix blocks are contiguous
    * ranges of the digest total order, so block-local rank + exclusive
    * block offset reproduces the same global position at any fan. */
  private[graft] def shuffleGlobalPos(docs: DataFrame, prefixLen: Int): DataFrame = {
    require(prefixLen >= 1 && prefixLen <= 8, s"prefixLen out of range: $prefixLen")
    val d = docs
      .select(col("doc_id"), md5(col("text")).as("dg"))
      .withColumn("blk", substring(col("dg"), 1, prefixLen))
    val offsets = d.groupBy("blk").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum("n").over(Window.orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("blk", "offset")
    d.withColumn("rk", row_number().over(
        Window.partitionBy("blk").orderBy(col("dg"), col("doc_id"))))
      .join(offsets, "blk")
      .select(col("doc_id"), (col("offset") + col("rk")).as("pos"))
  }

  /** Hex-prefix length for a corpus of `n` docs (r7): the smallest p with
    * n / 16^p at or under `maxBlockRows`, so no block's window sort
    * exceeds a task-sized row count; capped at 8 (16^8 ≈ 4.3e9 blocks —
    * past any real corpus). The subtotal window then sees 16^p rows,
    * still metadata-sized (65k at p=4 for a 10^11-doc corpus). */
  private[graft] def shufflePrefixLen(n: Long, maxBlockRows: Long = 1L << 22): Int = {
    var p = 1
    var perBlock = n / 16
    while (perBlock > maxBlockRows && p < 8) { p += 1; perBlock = perBlock / 16 }
    p
  }

  /** The LSH candidate pairs (doc_a < doc_b sharing a band bucket) from
    * the aux_minhash_bands dump, as the CTEs `b` and `cand`: the head of
    * the minhash pair and calibration oracles. */
  private val bandCandidatesSql =
    """WITH b AS (SELECT doc_id, band, band_hash FROM read_parquet('{OUT}/aux_minhash_bands/*.parquet')),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
                  FROM b a JOIN b c ON a.band = c.band AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id),"""

  /** Per-candidate exact shingle overlap from the aux_shingles dump, as the
    * CTEs `s`, `n` (shingles per doc) and `i` (shared shingles per pair). */
  private val shingleOverlapSql =
    """s AS (SELECT doc_id, shingle_hash FROM read_parquet('{OUT}/aux_shingles/*.parquet')),
         n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
         i AS (SELECT doc_a, doc_b, COUNT(*) AS ni
               FROM cand JOIN s sa ON sa.doc_id = doc_a
                         JOIN s sb ON sb.doc_id = doc_b AND sb.shingle_hash = sa.shingle_hash
               GROUP BY doc_a, doc_b)"""

  /** Shared by doc_dedup_incremental and doc_dedup_index: re-derives the
    * cross (new, old) banded candidates and the exact shingle-Jaccard
    * threshold from the aux dumps — threshold 0.3 as `ni*10 >= union*3`. */
  private val incrementalDedupSql =
    """WITH b AS (SELECT doc_id, band, band_hash FROM read_parquet('{OUT}/aux_minhash_bands/*.parquet')),
       cand AS (SELECT DISTINCT a.doc_id AS doc_new, c.doc_id AS doc_old
                FROM b a JOIN b c ON a.band = c.band AND a.band_hash = c.band_hash
                WHERE a.doc_id % 4 = 0 AND c.doc_id % 4 <> 0),
       s AS (SELECT doc_id, shingle_hash FROM read_parquet('{OUT}/aux_shingles/*.parquet')),
       n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
       i AS (SELECT doc_new, doc_old, COUNT(*) AS ni
             FROM cand JOIN s sa ON sa.doc_id = doc_new
                       JOIN s sb ON sb.doc_id = doc_old AND sb.shingle_hash = sa.shingle_hash
             GROUP BY doc_new, doc_old)
       SELECT c.doc_new, c.doc_old
       FROM cand c
       LEFT JOIN i ON i.doc_new = c.doc_new AND i.doc_old = c.doc_old
       LEFT JOIN n na ON na.doc_id = c.doc_new
       LEFT JOIN n nb ON nb.doc_id = c.doc_old
       WHERE (COALESCE(na.n, 0) = 0 AND COALESCE(nb.n, 0) = 0)
          OR COALESCE(i.ni, 0) * 10 >=
             (COALESCE(na.n, 0) + COALESCE(nb.n, 0) - COALESCE(i.ni, 0)) * 3"""

  // the bloom prefilter is an optimization, not a semantics change: its
  // exact-verify join makes the output identical to doc_decontaminate,
  // so the two queries share one oracle
  private val decontaminateSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, list_aggregate(ws[i:i+3], 'string_agg', ' ') AS sh
               FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-3)) AS i) t),
         ev AS (SELECT DISTINCT sh FROM g WHERE doc_id < 50),
         hits AS (SELECT DISTINCT g.doc_id FROM g JOIN ev ON g.sh = ev.sh WHERE g.doc_id >= 50)
         SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d
         LEFT JOIN hits h ON h.doc_id = d.doc_id"""

  // log-star contraction computes the identical component labeling, so it
  // shares the recursive-CTE closure oracle
  private val dupComponentsSql =
    """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents WHERE doc_id < 100),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS sh
               FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) t),
         s AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
         p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
                FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         p AS (SELECT doc_a, doc_b FROM p0 JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b
               WHERE n_inter * 100 >= (sa.n + sb.n - n_inter) * 8),
         sym AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
         r(x, y) AS (SELECT a, b FROM sym UNION SELECT r.x, sym.b FROM r JOIN sym ON r.y = sym.a)
         SELECT x AS doc_id, LEAST(x, MIN(y)) AS component FROM r GROUP BY x"""

  val contracts: Seq[Contract] = Seq(

    Contract("doc_trigram_topk", { implicit in =>
      // corpus-wide token trigram counts with min-count pruning (the KenLM
      // n-gram-table prep, one order up from doc_bigram_freq_stats): one
      // explode + one count agg + TakeOrderedAndProject under the
      // (freq DESC, trigram) total order
      t("documents")
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3) // sequence() must never see a negative bound
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 2) // count pruning: singleton tails stay out of the table
        .orderBy(desc("freq"), asc("trigram")).limit(100)
    }, """WITH toks AS (SELECT string_split(text, ' ') AS ws
                       FROM documents WHERE len(string_split(text, ' ')) >= 3),
              ix AS (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM toks),
              tg AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS trigram FROM ix),
              freq AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS freq
                       FROM tg GROUP BY 1 HAVING COUNT(*) >= 2)
         SELECT trigram, freq FROM freq ORDER BY freq DESC, trigram LIMIT 100"""),

    Contract("doc_token_hist", { implicit in =>
      // sequence-length histogram (64-token buckets) for packing/bucketing
      // planners: one narrow projection + one tiny aggregation — the
      // O(buckets) result a curriculum or shard planner reads instead of
      // scanning the corpus
      t("documents").select(
          when(length(trim(col("text"))) === 0, 0L)
            .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
        .select(expr("n_tokens DIV 64").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    }, """WITH t AS (SELECT CASE WHEN trim(text)='' THEN 0
                               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
                   FROM documents)
         SELECT CAST(n_tokens AS BIGINT) // 64 AS bucket, COUNT(*) AS n_docs
         FROM t GROUP BY 1"""),

    Contract("doc_dedup_exact", { implicit in =>
      Dedup.exactGroups(t("documents"))
    }, """SELECT md5(text) AS text_md5, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
         FROM documents GROUP BY md5(text)"""),

    Contract("doc_dedup_keep", { implicit in =>
      Dedup.exactKeep(t("documents"))
    }, """SELECT doc_id, md5(text) AS text_md5,
           doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
         FROM documents"""),

    Contract("doc_dup_spans", { implicit in =>
      // span-level exact dedup (Lee et al.): maximal token runs duplicated
      // ANYWHERE in the corpus — the unit a training pipeline cuts, where
      // doc-level dedup can only drop whole documents. Integer-exact;
      // see Dedup.dupSpans for the gram/semi-join/islands shape.
      Dedup.dupSpans(t("documents"), k = 5)
    }, """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE len(string_split(text, ' ')) >= 5),
              p AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS pos, ws FROM t),
              g AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+4], ' ') AS gram FROM p),
              d AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
              m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
              i AS (SELECT doc_id, pos,
                           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM m)
         SELECT doc_id, MIN(pos) AS span_start,
                MAX(pos) - MIN(pos) + 5 AS span_tokens,
                COUNT(*) AS n_grams
         FROM i GROUP BY doc_id, island"""),

    Contract("doc_dup_cut", { implicit in =>
      // the APPLY side of span dedup: rewrite every document with its
      // non-canonical duplicated runs removed (first corpus occurrence
      // keeps its text — deterministic canonical = min (doc_id, pos)).
      // String-exact vs the oracle; see Dedup.cutSpans.
      Dedup.cutSpans(t("documents"), k = 5)
    }, """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              g0 AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS pos, ws FROM t
                     WHERE len(ws) >= 5),
              g2 AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+4], ' ') AS gram FROM g0),
              c AS (SELECT gram, doc_id AS c_doc, pos AS c_pos FROM (
                      SELECT gram, doc_id, pos,
                             COUNT(*) OVER (PARTITION BY gram) AS n,
                             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
                      FROM g2) WHERE n > 1 AND rn = 1),
              cov AS (SELECT g2.doc_id, unnest(range(g2.pos, g2.pos + 5)) AS i,
                             (g2.doc_id = c.c_doc AND g2.pos = c.c_pos) AS is_canon
                      FROM g2 JOIN c USING (gram)),
              tokcov AS (SELECT doc_id, i, MAX(is_canon) AS any_canon FROM cov GROUP BY 1, 2),
              tok AS (SELECT doc_id, unnest(ws) AS tok, unnest(range(1, len(ws) + 1)) AS i FROM t),
              kt AS (SELECT tok.doc_id, tok.i, tok.tok,
                            COALESCE(tc.any_canon, TRUE) AS keep
                     FROM tok LEFT JOIN tokcov tc ON tok.doc_id = tc.doc_id AND tok.i = tc.i)
         SELECT doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_cut,
                COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE keep), '') AS text_cut
         FROM kt GROUP BY doc_id"""),

    Contract("doc_token_count", { implicit in =>
      t("documents").select(
        col("doc_id"),
        when(length(trim(col("text"))) === 0, 0)
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("n_ws_tokens"))
    }, """SELECT doc_id,
           CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens
         FROM documents"""),

    Contract("doc_bpe_pair_counts", { implicit in =>
      import in.spark.implicits._
      // BPE training round 1, fully SQL-checkable: corpus-weighted adjacent
      // character-pair counts over the pre-token frequency table (the ONE
      // corpus-scale pass of tokenizer training), top 50 under the total
      // (freq DESC, l, r) order the trainer's argmax uses
      Bpe.wordFreqs(t("documents")).as[(String, Long)]
        .flatMap { case (w, f) =>
          // CODE-POINT symbols (Bpe.splitSymbols — the trainer's own split),
          // not UTF-16 charAt: a supplementary-plane character would desync
          // this query from both the trainer and the oracle's substr
          val syms = Bpe.splitSymbols(w)
          (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), f)) }
        .toDF("l", "r", "f")
        .groupBy("l", "r").agg(sum("f").as("freq"))
        .orderBy(desc("freq"), asc("l"), asc("r")).limit(50)
    }, """WITH w AS (SELECT unnest(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\t\n\r\f ]+|[\t\n\r\f ]+')) AS word
                    FROM documents),
         wf AS (SELECT word, COUNT(*) AS f FROM w GROUP BY word),
         ix AS (SELECT word, f, unnest(range(1, length(word))) AS i FROM wf WHERE length(word) >= 2),
         p AS (SELECT substr(word, CAST(i AS INT), 1) AS l,
                      substr(word, CAST(i AS INT) + 1, 1) AS r, f FROM ix)
         SELECT l, r, CAST(SUM(f) AS BIGINT) AS freq FROM p GROUP BY l, r
         ORDER BY freq DESC, l, r LIMIT 50"""),

    Contract("doc_bpe_merges", { implicit in =>
      // distributed BPE tokenizer TRAINING (12 merges): corpus touched once
      // (word-freq agg), every round then O(vocab) — the map-reduce BPE
      // shape. Deterministic total argmax order, so the merge table is a
      // pure function of the corpus; oracle = sf-keyed frozen parquet
      // (drift lock), independence comes from BpeSpec's reference-impl
      // parity and the SQL-exact round-1 query above
      Bpe.learnMerges(t("documents"), rounds = 12)
    }, frozenSql("{SF}", "doc_bpe_merges")),

    Contract("doc_bpe_encode", { implicit in =>
      // the tokenizer's inference side over its own learned table: train 12
      // merges (bounded local loop), replay them across the corpus, count
      // tokens per doc — the end-to-end train→encode contract. Frozen
      // oracle (drift lock); independence comes from BpeSpec's reference
      // parity on both the trainer and the encoder
      val docs = t("documents")
      val merges = Bpe.learnMergesLocal(docs, rounds = 12).collect()
        .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
      Bpe.encode(docs, merges)
    }, frozenSql("{SF}", "doc_bpe_encode")),

    Contract("doc_token_count_bpe", { implicit in =>
      // BPE-style pre-tokenizer count; fully declarative (codegen regex) —
      // the frozen scanner equivalent lives in Tokenize.bpeTokenCount
      t("documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit(graft.extract.Tokenize.BpePattern), lit(0))).as("n_bpe_tokens"))
    }, """SELECT doc_id,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\t\n\r\f ]+|[\t\n\r\f ]+')) AS n_bpe_tokens
         FROM documents"""),

    Contract("doc_quality_sql", { implicit in =>
      t("documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digits"))
    }, """SELECT doc_id, LENGTH(text) AS n_chars,
           LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
           LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
         FROM documents"""),

    Contract("doc_tfidf_topterms", { implicit in =>
      // log-free idf (tf * N/df — engine-exact doubles); bounded doc set
      // keeps the dump small, the operator itself is corpus-wide
      Tfidf.topTerms(t("documents").filter(col("doc_id") < 100)
        .select("doc_id", "text"), k = 3)
    }, """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
              toks AS (SELECT doc_id, term FROM (
                SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
                FROM d) WHERE term <> ''),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
              nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM d),
              scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                                tf.tf * (CAST(nd.n AS DOUBLE) / df.df) AS score
                         FROM tf JOIN df USING (term), nd),
              r AS (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
                    FROM scored)
         SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 3"""),

    Contract("doc_length_quantiles", { implicit in =>
      // exact discrete per-group quantiles, pure integer rank arithmetic
      // (ceil(p*n) as (p*n + 99) DIV 100 — no float index math to drift
      // cross-engine). Per-lang sort is the exact path for bounded group
      // counts; unbounded groups take approx_percentile instead.
      val w = Window.partitionBy("lang").orderBy(col("n_chars"))
      t("documents").select("lang", "n_chars")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .groupBy("lang").agg(
          max(when(col("rn") === expr("(50*n + 99) DIV 100"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(90*n + 99) DIV 100"), col("n_chars"))).as("p90"),
          max(when(col("rn") === expr("(99*n + 99) DIV 100"), col("n_chars"))).as("p99"))
    }, """WITH r AS (SELECT lang, n_chars,
                           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
                           COUNT(*) OVER (PARTITION BY lang) AS n
                    FROM documents)
         SELECT lang,
                MAX(CASE WHEN rn = (50*n + 99) // 100 THEN n_chars END) AS p50,
                MAX(CASE WHEN rn = (90*n + 99) // 100 THEN n_chars END) AS p90,
                MAX(CASE WHEN rn = (99*n + 99) // 100 THEN n_chars END) AS p99
         FROM r GROUP BY lang"""),

    Contract("doc_pack_shards", { implicit in =>
      // GPT-style sequence packing: per language, documents are concatenated
      // in doc_id order into one token stream chopped into fixed-capacity
      // shards (docs may straddle a boundary; shard_id/shard_offset locate
      // the start). Hierarchical two-phase prefix sum (see packShards) — a
      // flat Window.partitionBy(lang) would hand ONE task the running sum
      // over an entire language (80% of a web corpus is English).
      packShards(t("documents"), cap = 4096L)
    }, """WITH t AS (SELECT doc_id, lang,
                           CASE WHEN trim(text)='' THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
                    FROM documents),
              c AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
                           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                    FROM t)
         SELECT doc_id, lang, n_tokens,
                cum_before // 4096 AS shard_id,
                cum_before % 4096 AS shard_offset
         FROM c"""),

    Contract("doc_chunk_sliding", { implicit in =>
      // sliding-window chunking for context-length-bounded training
      // (size 128, stride 64, token = whitespace word): chunk index set is
      // computed arithmetically and exploded — a narrow rowwise op, no
      // shuffle; every doc yields >= 1 chunk (empty docs a zero-length one)
      val chunk = 128; val stride = 64
      t("documents").select(col("doc_id"),
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))).as("n_tokens"))
        .withColumn("n_chunks",
          when(col("n_tokens") <= chunk, lit(1L))
            .otherwise(expr(s"(n_tokens - $chunk + $stride - 1) DIV $stride + 1")))
        .select(col("doc_id"), col("n_tokens"),
          explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * stride).as("tok_start"),
          least(lit(chunk), col("n_tokens") - col("chunk_id") * stride).as("tok_len"))
    }, """WITH tkn AS (SELECT doc_id,
                             CASE WHEN trim(text)='' THEN 0
                                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
                      FROM documents),
              c AS (SELECT doc_id, n_tokens,
                           CASE WHEN n_tokens <= 128 THEN 1
                                ELSE (n_tokens - 128 + 63) // 64 + 1 END AS n_chunks
                    FROM tkn)
         SELECT doc_id, i AS chunk_id, i * 64 AS tok_start,
                LEAST(128, n_tokens - i * 64) AS tok_len
         FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) t"""),

    Contract("doc_redact", { implicit in =>
      // regex redaction pass (blocklist terms + a PII email pattern),
      // fully codegen'd — per-category match counts plus the digest of the
      // redacted text. Patterns stay in the Java∩RE2 common dialect so the
      // oracle replays them exactly; the blocklist alternation is the
      // scale shape for term lists small enough to inline (bigger lists
      // compile to one automaton the same way). The email pattern matches
      // nothing on this synthetic corpus (no '@') — kept as the
      // negative-case column.
      val blockRe = "\\b(customer|secret|password)\\b"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      t("documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(blockRe), lit(0))).as("n_blocked"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
        md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          blockRe, "<TERM>")).as("redacted_md5"))
    }, """SELECT doc_id,
                len(regexp_extract_all(text, '\b(customer|secret|password)\b')) AS n_blocked,
                len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                md5(regexp_replace(regexp_replace(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b(customer|secret|password)\b', '<TERM>', 'g')) AS redacted_md5
         FROM documents"""),

    Contract("doc_repetition", { implicit in =>
      // Gopher/RefinedWeb repetition-filter inputs (integer counts; the
      // ratio thresholds live with the consumer)
      graft.text.Repetition.stats(t("documents").select("doc_id", "text"))
    }, """WITH l AS (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS toks
                    FROM documents),
              t0 AS (SELECT doc_id, unnest(toks) AS term,
                            unnest(range(1, len(toks)+1)) AS pos FROM l),
              t AS (SELECT * FROM t0 WHERE term <> ''),
              tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
              ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                            COUNT(*) AS n_distinct_tokens, MAX(c) AS max_tf
                     FROM tf GROUP BY doc_id),
              b0 AS (SELECT doc_id, term,
                            LEAD(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                     FROM t),
              b AS (SELECT doc_id, term || ' ' || nxt AS bigram FROM b0 WHERE nxt IS NOT NULL),
              bs AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                            COUNT(DISTINCT bigram) AS n_distinct_bigrams
                     FROM b GROUP BY doc_id)
         SELECT ts.doc_id, n_tokens, n_distinct_tokens, max_tf,
                COALESCE(n_bigrams, 0) AS n_bigrams,
                COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams
         FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id"""),

    Contract("doc_bigram_freq_stats", { implicit in =>
      // bigram LM-frequency quality signal (the integer-exact core of a
      // KenLM-style filter): per doc, its bigram count plus the min and sum
      // of the CORPUS frequency of its bigrams — a low min/avg marks text
      // unlike the corpus (garbled or boilerplate-chopped). Two shuffles,
      // both keyed on the bigram (the count agg, then the join back);
      // integer outputs only, no float log-probs, so the result is
      // engine-exact vs the oracle. Docs with < 2 tokens have no bigrams
      // and emit no row (inner-join semantics, mirrored in the oracle).
      val bg = t("documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
          .as("bigram"))
      val freq = bg.groupBy("bigram").agg(count(lit(1)).as("freq"))
      bg.join(freq, "bigram")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          min("freq").as("min_freq"),
          sum("freq").as("sum_freq"))
    }, """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents WHERE len(string_split(text, ' ')) >= 2),
              ix AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks),
              bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram FROM ix),
              freq AS (SELECT bigram, COUNT(*) AS freq FROM bg GROUP BY 1)
         SELECT b.doc_id,
                COUNT(*) AS n_bigrams,
                CAST(MIN(f.freq) AS BIGINT) AS min_freq,
                CAST(SUM(f.freq) AS BIGINT) AS sum_freq
         FROM bg b JOIN freq f USING (bigram)
         GROUP BY 1"""),

    Contract("doc_quality_score", { implicit in =>
      import in.spark.implicits._
      t("documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, txt) =>
          val q = TextOps.quality(txt)
          (id, q.n_tokens, q.stopword_hits, math.round(q.score * 1000))
        })
        .toDF("doc_id", "n_tokens", "stopword_hits", "score_milli")
    }, frozenSql("{SF}", "doc_quality_score")),

    Contract("doc_curation", { implicit in =>
      // canonical curation flow: exact-dedup keep + length + punct-ratio
      // gates, with a reject reason per document. The text-derived features
      // are projected in a narrow pass BEFORE the dedup window so only the
      // 32-byte digest and two ints cross the exchange — windowing the raw
      // rows would multiply shuffle bytes by the document size at 100 TB.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text_md5")
      t("documents")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          length(col("text")).as("n_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"))
        .withColumn("canonical", col("doc_id") === min("doc_id").over(w))
        .select(
          col("doc_id"),
          when(!col("canonical"), "duplicate")
            .when(col("n_chars") < 100, "too_short")
            .when(col("n_punct") * 10 > col("n_chars"), "punct_heavy")
            .otherwise("keep").as("verdict"))
    }, """SELECT doc_id,
           CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) THEN 'duplicate'
                WHEN LENGTH(text) < 100 THEN 'too_short'
                WHEN (LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 10 > LENGTH(text) THEN 'punct_heavy'
                ELSE 'keep' END AS verdict
         FROM documents"""),

    Contract("doc_split_md5", { implicit in =>
      // content-addressed train/val/test assignment, DuckDB-replicable:
      // first md5 hex nibble -> 16 stable buckets -> 12/2/2 split
      t("documents").select(
        col("doc_id"),
        when(substring(md5(col("text")), 1, 1).isin("0", "1"), "val")
          .when(substring(md5(col("text")), 1, 1).isin("2", "3"), "test")
          .otherwise("train").as("split"))
    }, """SELECT doc_id,
           CASE WHEN substr(md5(text),1,1) IN ('0','1') THEN 'val'
                WHEN substr(md5(text),1,1) IN ('2','3') THEN 'test'
                ELSE 'train' END AS split
         FROM documents"""),

    Contract("doc_split_hash64", { implicit in =>
      // same op through the native codegen expression (frozen engine hash)
      graft.functions.Hash64Expr.register(spark)
      t("documents").select(
        col("doc_id"),
        pmod(graft.functions.Hash64Expr.graft_hash64(col("text")), lit(10)).as("bucket"))
    }, frozenSql("{SF}", "doc_split_hash64")),

    Contract("doc_langid", { implicit in =>
      import in.spark.implicits._
      t("documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, TextOps.langId(text)) })
        .toDF("doc_id", "lang_pred")
    }, frozenSql("{SF}", "doc_langid")),

    // sf-keyed frozen oracles ({SF} = the sweep's scale directory name,
    // substituted by Verify): a sweep at a scale with no frozen fixture
    // fails loudly at read_parquet instead of as a fake hash mismatch
    Contract("doc_simhash", { implicit in =>
      Dedup.simhashes(t("documents"))
    }, frozenSql("{SF}", "doc_simhash")),

    Contract("doc_fingerprint", { implicit in =>
      import in.spark.implicits._
      t("documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, txt) => (id, TextOps.fingerprint64(txt)) })
        .toDF("doc_id", "fingerprint64")
    }, frozenSql("{SF}", "doc_fingerprint")),

    Contract("doc_ngram_jaccard", { implicit in =>
      bigramJaccardPairs(t("documents"))
    }, """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents WHERE doc_id < 100),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS sh
               FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) t),
         s AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
               FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT p.doc_a, p.doc_b, p.n_inter, sa.n + sb.n - p.n_inter AS n_union
         FROM p JOIN s sa ON sa.doc_id = p.doc_a JOIN s sb ON sb.doc_id = p.doc_b
         WHERE p.n_inter * 100 >= (sa.n + sb.n - p.n_inter) * 8"""),

    Contract("doc_decontaminate", { implicit in =>
      // benchmark decontamination: flag train docs (doc_id >= 50) sharing any
      // word 4-gram with the eval set (doc_id < 50). Relational shingle
      // equi-join; at corpus scale the eval shingle set broadcasts (eval sets
      // are small) and shingles ride as hash64 keys instead of strings.
      val docs = t("documents")
      val sh = docs.withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 4)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(ws) - 3), i -> array_join(slice(ws, i, 4), ' '))"))).as("sh"))
      val ev = sh.filter(col("doc_id") < 50).select("sh").distinct()
      val hits = sh.filter(col("doc_id") >= 50).join(broadcast(ev), "sh")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") >= 50).select(col("doc_id"))
        .join(hits.withColumn("hit", lit(true)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("contaminated"))
    }, decontaminateSql),

    Contract("doc_dup_components", { implicit in =>
      // near-dup pairs -> transitive closure -> cluster label per document:
      // the keep-one-per-cluster primitive (Dedup.components, iterative
      // min-label propagation). Oracled end-to-end: the pair stage is the
      // SQL-replicable bigram-Jaccard and the closure a recursive CTE.
      graft.dedup.Dedup.components(
          bigramJaccardPairs(t("documents")).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("component"))
    }, dupComponentsSql),

    Contract("doc_dup_components_logstar", { implicit in =>
      // same function as doc_dup_components through the O(log n)
      // large-star/small-star contraction (the adversarial-diameter path);
      // shares the recursive-CTE oracle because the outputs must be equal
      graft.dedup.Dedup.componentsLogStar(
          bigramJaccardPairs(t("documents")).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("component"))
    }, dupComponentsSql),

    Contract("doc_minhash_pairs", { implicit in =>
      Dedup.minhashPairs(t("documents"), threshold = 0.3)
        .select(col("doc_a"), col("doc_b")) // drop float jaccard from compare
    }, s"""$bandCandidatesSql
         $shingleOverlapSql
         SELECT c.doc_a, c.doc_b
         FROM cand c
         LEFT JOIN i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         LEFT JOIN n na ON na.doc_id = c.doc_a
         LEFT JOIN n nb ON nb.doc_id = c.doc_b
         WHERE (COALESCE(na.n, 0) = 0 AND COALESCE(nb.n, 0) = 0)
            OR COALESCE(i.ni, 0) * 10 >=
               (COALESCE(na.n, 0) + COALESCE(nb.n, 0) - COALESCE(i.ni, 0)) * 3"""),

    Contract("doc_dedup_telemetry", { implicit in =>
      // no silent caps: per-run LSH bucket stats + exact dropped-pair count
      Dedup.capTelemetry(Dedup.minhashBands(t("documents")))
    }, """WITH b AS (SELECT band, band_hash, COUNT(*) AS n
                    FROM read_parquet('{OUT}/aux_minhash_bands/*.parquet') GROUP BY band, band_hash)
         SELECT COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
           CAST(SUM(CASE WHEN n > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_buckets,
           CAST(SUM(CASE WHEN n > 1000 THEN n * (n - 1) // 2 - 499500 ELSE 0 END) AS BIGINT) AS dropped_candidate_pairs
         FROM b"""),

    Contract("doc_minhash_calibration", { implicit in =>
      // estimator-vs-truth calibration inside the LSH candidate region:
      // integer-exact (matching signature slots, exact shingle inter/union)
      // so the curve reproduces bit-for-bit; the oracle re-derives pairs,
      // slot matches, and exact Jaccard from the aux dumps in DuckDB
      Dedup.minhashCalibration(t("documents"))
    }, s"""$bandCandidatesSql
         sg AS (SELECT doc_id, slot, sig FROM read_parquet('{OUT}/aux_minhash_sigs/*.parquet')),
         m AS (SELECT doc_a, doc_b, COUNT(*) AS matching_slots
               FROM cand JOIN sg x ON x.doc_id = doc_a
                         JOIN sg y ON y.doc_id = doc_b AND y.slot = x.slot AND y.sig = x.sig
               GROUP BY doc_a, doc_b),
         $shingleOverlapSql,
         p AS (SELECT c.doc_a, c.doc_b,
                      CAST(COALESCE(m.matching_slots, 0) AS INTEGER) AS matching_slots,
                      COALESCE(i.ni, 0) AS inter,
                      COALESCE(na.n, 0) + COALESCE(nb.n, 0) - COALESCE(i.ni, 0) AS un
               FROM cand c
               LEFT JOIN m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
               LEFT JOIN i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
               LEFT JOIN n na ON na.doc_id = c.doc_a
               LEFT JOIN n nb ON nb.doc_id = c.doc_b)
         SELECT matching_slots, COUNT(*) AS n_pairs,
                CAST(SUM(inter) AS BIGINT) AS sum_inter,
                CAST(SUM(un) AS BIGINT) AS sum_union
         FROM p GROUP BY matching_slots"""),

    Contract("doc_dedup_incremental", { implicit in =>
      // per-ingest-batch catch-up dedup: every 4th doc plays the NEW batch,
      // the rest the existing corpus; only cross (new, old) pairs are banded,
      // joined, and exact-verified — the old corpus is never re-paired with
      // itself (the per-batch cost a 100 TB crawl pipeline pays per ingest)
      val docs = t("documents")
      Dedup.incrementalPairs(
          docs.filter(col("doc_id") % 4 === 0),
          docs.filter(col("doc_id") % 4 =!= 0), threshold = 0.3)
        .select(col("doc_new"), col("doc_old")) // drop float jaccard from compare
    }, incrementalDedupSql),

    // the stored-index path must reproduce the recompute path EXACTLY, so it
    // legitimately shares the oracle (the independent SQL re-derivation
    // cannot tell which side computed the bands)
    Contract("doc_dedup_index", { implicit in =>
      // the STORED-INDEX form of doc_dedup_incremental (the actual per-
      // ingest shape at 100 TB): the existing corpus's band rows are
      // materialized ONCE as a (band, band_hash)-bucketed table, and the
      // new batch's candidate join consumes that bucketing exchange-free
      // (DedupIndexSpec locks the plan). Same split, same threshold, same
      // oracle — the stored path must reproduce the recompute path exactly.
      val docs = t("documents")
      val table = "graft_band_index_" + new java.io.File(in.dir).getName.replace('.', '_')
      graft.util.Warehouse.dropTable(spark, table)
      val oldSide = docs.filter(col("doc_id") % 4 =!= 0)
      Dedup.writeBandIndex(oldSide, table)
      Dedup.incrementalPairsIndexed(
          docs.filter(col("doc_id") % 4 === 0), oldSide, table, threshold = 0.3)
        .select(col("doc_new"), col("doc_old"))
    }, incrementalDedupSql),

    Contract("doc_simhash_pairs", { implicit in =>
      Dedup.simhashPairs(t("documents"), maxHamming = 10)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }, """WITH s AS (SELECT doc_id, simhash FROM read_parquet('{OUT}/aux_simhashes/*.parquet')),
         b AS (SELECT doc_id, simhash, t.band, (simhash >> (16 * t.band)) & 65535 AS key
               FROM s, (SELECT UNNEST([0,1,2,3]) AS band) t),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa, c.doc_id AS doc_b, c.simhash AS sb
                  FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 10"""),

    Contract("doc_bloom_decontaminate", { implicit in =>
      import in.spark.implicits._
      // decontamination through a broadcast Bloom prefilter: the eval
      // shingle set compresses to ~1.2 bytes/item at 1% fpp, so at corpus
      // scale the train side drops to ~fpp of its shingles MAP-SIDE before
      // any join; the exact verify join then removes false positives, so
      // the output equals doc_decontaminate exactly (same oracle). This is
      // the 100 TB shape when the eval set outgrows a broadcast hash join
      // but its bloom still fits (10^9 shingles ≈ 1.2 GB).
      val docs = t("documents")
      val sh = docs.withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 4)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(ws) - 3), i -> array_join(slice(ws, i, 4), ' '))"))).as("sh"))
      val ev = sh.filter(col("doc_id") < 50).select("sh").distinct()
      val bloom = ev.stat.bloomFilter("sh", math.max(ev.count(), 100L), 0.01)
      val bBloom = spark.sparkContext.broadcast(bloom)
      val candidates = sh.filter(col("doc_id") >= 50)
        .as[(Long, String)]
        .filter(r => bBloom.value.mightContainString(r._2))
        .toDF("doc_id", "sh")
      val hits = candidates.join(broadcast(ev), "sh").select("doc_id").distinct()
      docs.filter(col("doc_id") >= 50).select(col("doc_id"))
        .join(hits.withColumn("hit", lit(true)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("contaminated"))
    }, decontaminateSql),

    Contract("doc_sample_stratified", { implicit in =>
      // deterministic stratified sampling: per-language keep rates applied
      // via a content-derived bucket (two md5 hex chars → 0..99), so the
      // sample is reproducible, join-free (broadcast rate map) and
      // rerun-stable at any parallelism — never rand()
      val rates = Seq(("en", 60L), ("de", 35L), ("fr", 35L), ("es", 25L))
      val rateCol = rates.foldLeft(lit(10L)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      t("documents").select(
        col("doc_id"), col("lang"),
        ((ascii(substring(md5(col("text")), 1, 1)) * 256 +
          ascii(substring(md5(col("text")), 2, 1))) % 100 < rateCol).as("sampled"))
    }, """SELECT doc_id, lang,
           (ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1))) % 100 <
             (CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 35 WHEN 'fr' THEN 35
                        WHEN 'es' THEN 25 ELSE 10 END) AS sampled
         FROM documents"""),

    Contract("doc_mixture_sample", { implicit in =>
      // temperature-weighted source mixing (the mT5/Pile alpha-sampling
      // staple, alpha = 0.5): per-language quotas proportional to
      // n_docs^alpha, flattening the head languages. Arithmetic is
      // ENGINE-EXACT by construction: the only float op is one
      // floor(sqrt(n)*1e6) per language (IEEE-identical everywhere);
      // weights, the denominator, and the quota split are then pure
      // integers — no cross-row float sums to diverge between engines.
      // Selection inside each language is by content digest (md5), so the
      // sample is deterministic at any parallelism. Scale shape: the
      // constant rank cap (quota <= total budget) filters BEFORE the
      // dynamic quota join, so the per-lang window plans as a map-side
      // WindowGroupLimit — each task ships at most 200 rows per language,
      // and the 5-partition lang shuffle carries tasks*200 rows, never the
      // corpus.
      val budget = 200L
      val docs = t("documents").select("doc_id", "lang", "text")
      val weights = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      // denominator via a global window over the PER-LANGUAGE aggregate
      // (O(languages) rows on one partition — never the corpus), keeping the
      // contract-wide no-cross-join plan guard intact
      val quotas = weights
        .withColumn("w_tot", sum("w").over(Window.partitionBy()))
        .select(col("lang"), expr(s"($budget * w) DIV w_tot").as("quota"))
      docs
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))))
        .filter(col("rk") <= budget) // static cap -> map-side WindowGroupLimit
        .join(quotas, "lang")
        .filter(col("rk") <= col("quota"))
        .select("doc_id", "lang", "quota")
    }, """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
              w AS (SELECT lang,
                           CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS w
                    FROM c),
              q AS (SELECT lang,
                           CAST((200 * w) // (SELECT SUM(w) FROM w) AS BIGINT) AS quota
                    FROM w),
              r AS (SELECT doc_id, lang,
                           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
                    FROM documents)
         SELECT r.doc_id, r.lang, q.quota
         FROM r JOIN q USING (lang) WHERE r.rk <= q.quota"""),

    Contract("doc_shuffle_global", { implicit in =>
      // deterministic global training-order shuffle — see
      // [[shuffleGlobalPos]]; the block fan is DERIVED from the corpus row
      // count (r7): the former fixed 2-hex prefix meant corpus/256 rows in
      // one task's window sort (~400 GB/task at 100 TB)
      val docs = t("documents")
      shuffleGlobalPos(docs, shufflePrefixLen(docs.count()))
    }, """SELECT doc_id, ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS pos
         FROM documents"""),

    Contract("doc_mixture_upsample", { implicit in =>
      // the other half of mT5 alpha-sampling: with the target budget ABOVE
      // the corpus size (here 2x), low-resource languages' quotas EXCEED
      // their doc counts and the sampler must repeat documents — each doc
      // at rank rk (digest order, same as doc_mixture_sample) appears in
      // full epochs 0..n_full-1 plus epoch n_full iff rk <= quota mod
      // n_docs, so every language emits exactly `quota` rows and repeats
      // are digest-deterministic at any parallelism. The ranking exchange
      // carries (doc_id, lang, digest) — never text (curation discipline);
      // quotas stay integer-exact (one IEEE sqrt per language).
      val docs = t("documents")
        .select(col("doc_id"), col("lang"), md5(col("text")).as("d"))
      val quotas = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
        .withColumn("w_tot", sum("w").over(Window.partitionBy()))
        .withColumn("n_tot", sum("n_docs").over(Window.partitionBy()))
        .select(col("lang"),
          expr("((2 * n_tot * w) DIV w_tot) DIV n_docs").as("n_full"),
          expr("((2 * n_tot * w) DIV w_tot) % n_docs").as("rem"))
      docs
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("d"), col("doc_id"))))
        .join(quotas, "lang")
        .withColumn("e_max",
          expr("n_full + (CASE WHEN rk <= rem THEN 1 ELSE 0 END) - 1"))
        .filter(col("e_max") >= 0) // sequence() must never see a negative bound
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(CAST(0 AS BIGINT), e_max)")).as("epoch"))
    }, """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
              w AS (SELECT lang, n_docs,
                           CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS w
                    FROM c),
              q AS (SELECT lang, n_docs,
                           CAST((2 * (SELECT SUM(n_docs) FROM c) * w)
                                // (SELECT SUM(w) FROM w) AS BIGINT) AS quota
                    FROM w),
              r AS (SELECT doc_id, lang,
                           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
                    FROM documents),
              j AS (SELECT r.doc_id, r.lang, r.rk,
                           q.quota // q.n_docs AS n_full, q.quota % q.n_docs AS rem
                    FROM r JOIN q USING (lang))
         SELECT doc_id, lang,
                CAST(unnest(range(0, n_full + CASE WHEN rk <= rem THEN 1 ELSE 0 END)) AS BIGINT) AS epoch
         FROM j"""),

    Contract("doc_source_quota", { implicit in =>
      // per-source quota capping (boilerplate-farm control): keep the 20
      // lowest-doc_id documents per source; plans as a map-side
      // WindowGroupLimit — each task truncates its own source runs before
      // the exchange, so a source with 10^8 docs ships 20 rows per task,
      // not 10^8
      val w = Window.partitionBy("source").orderBy("doc_id")
      t("documents").select("doc_id", "source")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("doc_id"), col("source"), col("rn"))
    }, """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents) t WHERE rn <= 20"""),

    Contract("doc_langid_eval", { implicit in =>
      import in.spark.implicits._
      // model-eval pattern: confusion matrix of the frozen langid heuristic
      // against the corpus's labeled lang column
      val pred = t("documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, TextOps.langId(text)) })
        .toDF("doc_id", "lang_pred")
      t("documents").select("doc_id", "lang").join(pred, "doc_id")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
    }, s"""SELECT d.lang, f.lang_pred, COUNT(*) AS n_docs
         FROM documents d
         JOIN read_parquet('$GoldenDir/frozen/{SF}/doc_langid.parquet') f USING (doc_id)
         GROUP BY d.lang, f.lang_pred"""),

    Contract("doc_oov_rate", { implicit in =>
      // out-of-vocabulary rate against the corpus head vocabulary (a
      // quality/domain-shift signal CCNet-style pipelines compute before
      // LM scoring): pass 1 builds the top-K vocabulary (freq DESC, token —
      // a total order, so the K boundary is reproducible cross-engine),
      // pass 2 scores every document against it. The vocabulary is
      // driver-free and BROADCAST into the scoring join — at 100 TB the
      // corpus streams twice but never shuffles on token
      val toks = t("documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(16).select("tok")
      toks.join(broadcast(vocab.withColumn("iv", lit(1))), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
    }, """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1)
                        ORDER BY cnt DESC, tok LIMIT 16)
         SELECT toks.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         FROM toks LEFT JOIN vocab ON vocab.tok = toks.tok
         GROUP BY 1""")
  )

  override val aux: Seq[Aux] = Seq(

    // dedup signature stages (doc_minhash_pairs / doc_simhash_pairs /
    // doc_dedup_telemetry oracles re-derive banding+verification from these)
    Aux("aux_minhash_bands", { implicit in =>
      Dedup.minhashBands(t("documents"))
    }),

    Aux("aux_shingles", { implicit in =>
      import in.spark.implicits._
      t("documents").select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, txt) =>
          TextOps.shingleHashes(txt).iterator.map(h => (id, h)) })
        .toDF("doc_id", "shingle_hash")
    }),

    Aux("aux_minhash_sigs", { implicit in =>
      import in.spark.implicits._
      // full per-slot OPH signatures (64 rows/doc) so the oracle can count
      // matching slots per candidate pair entirely inside DuckDB; derives
      // from Dedup.minhashSigs — the ONE signature code path
      Dedup.minhashSigs(t("documents"))
        .flatMap { case (id, sig) =>
          sig.iterator.zipWithIndex.map { case (v, slot) => (id, slot, v) } }
        .toDF("doc_id", "slot", "sig")
    }),

    Aux("aux_simhashes", { implicit in =>
      Dedup.simhashes(t("documents"))
    })
  )
}
