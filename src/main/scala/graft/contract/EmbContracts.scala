package graft.contract

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup
import graft.text.TextOps

/** Training-data ops over the `embeddings` table: exact, LSH and IVF
  * nearest neighbours, hard negatives and cosine dedup. */
object EmbContracts extends Family {

  val contracts: Seq[Contract] = Seq(

    Contract("emb_knn_brute", { implicit in =>
      val emb = t("embeddings")
      Ann.bruteTopK(emb, Ann.headQueries(emb, 20), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
    }, """WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings ORDER BY vec_id LIMIT 20)
         SELECT qid AS query_id, vec_id, rank FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC, e.vec_id ASC) AS rank
           FROM q, embeddings e WHERE e.vec_id <> q.qid) t WHERE rank <= 5"""),

    Contract("emb_hard_negatives", { implicit in =>
      // contrastive-training hard negatives: for each labeled head query,
      // the 5 most-similar DIFFERENT-label vectors (filter BEFORE ranking —
      // post-filtering a plain top-k would under-fill); exact single scan
      val emb = t("embeddings")
      Ann.hardNegatives(emb, Ann.headLabeledQueries(emb, 20), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
    }, """WITH q AS (SELECT vec_id qid, embedding qe, label ql
                    FROM embeddings ORDER BY vec_id LIMIT 20)
         SELECT qid AS query_id, vec_id, rank FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC, e.vec_id ASC) AS rank
           FROM q, embeddings e
           WHERE e.vec_id <> q.qid AND e.label <> q.ql) t WHERE rank <= 5"""),

    Contract("emb_hard_negatives_indexed", { implicit in =>
      // the same mining protocol run OFF THE STORED IVF INDEX: labels ride
      // the index rows (written at build), probes prune list=<i>
      // directories at the file index — the shape where the corpus is
      // indexed once and mined per training epoch. Oracle re-derives the
      // probed-candidate join from aux_ivf_lists/aux_ivf_probes + the
      // different-label test.
      val emb = t("embeddings")
      val idx = freshTmpDir(s"graft_ivf_hn_${new java.io.File(in.dir).getName}")
      Ann.buildIvfIndex(emb, idx)
      Ann.hardNegativesIndexed(spark, idx, Ann.headLabeledQueries(emb, 20), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
    }, """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
                    FROM embeddings ORDER BY vec_id LIMIT 20),
              vl AS (SELECT vec_id, list FROM read_parquet('{OUT}/aux_ivf_lists/*.parquet')),
              pl AS (SELECT query_id, probe_list FROM read_parquet('{OUT}/aux_ivf_probes/*.parquet')),
              cand AS (SELECT DISTINCT pl.query_id, vl.vec_id
                       FROM pl JOIN vl ON vl.list = pl.probe_list
                       WHERE vl.vec_id <> pl.query_id),
              scored AS (SELECT c.query_id, c.vec_id,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                             ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                                      c.vec_id ASC) AS rank
                         FROM cand c JOIN q ON q.qid = c.query_id
                                     JOIN embeddings e ON e.vec_id = c.vec_id
                         WHERE e.label <> q.ql)
         SELECT query_id, vec_id, rank FROM scored WHERE rank <= 5"""),

    // candidate set from the dumped bucket/probe assignments; scoring and
    // ranking re-derived in DuckDB (same list_cosine_similarity ordering
    // contract as emb_knn_brute — the cosine itself never leaves the engine)
    Contract("emb_knn_lsh", { implicit in =>
      val emb = t("embeddings")
      Ann.lshTopK(emb, Ann.headQueries(emb, 20), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
    }, """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 20),
              vb AS (SELECT vec_id, bucket FROM read_parquet('{OUT}/aux_emb_buckets/*.parquet')),
              pb AS (SELECT query_id, probe_bucket FROM read_parquet('{OUT}/aux_emb_probes/*.parquet')),
              cand AS (SELECT DISTINCT pb.query_id, vb.vec_id
                       FROM pb JOIN vb ON vb.bucket = pb.probe_bucket
                       WHERE vb.vec_id <> pb.query_id),
              scored AS (SELECT c.query_id, c.vec_id,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                             ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                                      c.vec_id ASC) AS rank
                         FROM cand c JOIN q ON q.qid = c.query_id
                                     JOIN embeddings e ON e.vec_id = c.vec_id)
         SELECT query_id, vec_id, rank FROM scored WHERE rank <= 5"""),

    Contract("emb_knn_ivf", { implicit in =>
      val emb = t("embeddings")
      Ann.ivfTopK(emb, Ann.headQueries(emb, 20), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
    }, """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 20),
              vl AS (SELECT vec_id, list FROM read_parquet('{OUT}/aux_ivf_lists/*.parquet')),
              pl AS (SELECT query_id, probe_list FROM read_parquet('{OUT}/aux_ivf_probes/*.parquet')),
              cand AS (SELECT DISTINCT pl.query_id, vl.vec_id
                       FROM pl JOIN vl ON vl.list = pl.probe_list
                       WHERE vl.vec_id <> pl.query_id),
              scored AS (SELECT c.query_id, c.vec_id,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                             ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC,
                                      c.vec_id ASC) AS rank
                         FROM cand c JOIN q ON q.qid = c.query_id
                                     JOIN embeddings e ON e.vec_id = c.vec_id)
         SELECT query_id, vec_id, rank FROM scored WHERE rank <= 5"""),

    Contract("emb_pairs_cosine", { implicit in =>
      // brute cosine pairs over a bounded head sample through the NATIVE
      // graft_cosine expression (CosineExpr): Spark's higher-order
      // functions (aggregate/zip_with) evaluate interpreted lambdas outside
      // whole-stage codegen and allocate an intermediate array per row —
      // the native expression is one static call fused into the join's
      // codegen span, with the SAME index-order double accumulation
      // (CosineExprSpec pins bit-equality to the HOF formulation).
      // Threshold 0.357 sits in a 3e-3-wide gap of the sf0.01 cosine
      // distribution, so engine float-accumulation differences cannot flip
      // a pair. Scale path: Dedup.embeddingPairs.
      graft.functions.CosineExpr.register(spark)
      val e = t("embeddings").filter(col("vec_id") < 120)
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .filter(graft.functions.CosineExpr.graft_cosine(col("ea"), col("eb")) >= 0.357)
        .select(col("vec_a"), col("vec_b"))
    }, """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 120 AND b.vec_id < 120
           AND list_cosine_similarity(a.embedding, b.embedding) >= 0.357"""),

    // bucket pairs + threshold sweep re-derived from the bucket dump; the
    // float comparisons are safe cross-engine because every cosine sits
    // >= 7e-4 from the nearest threshold on this corpus (measured), six
    // orders of magnitude beyond any accumulation-order divergence
    Contract("emb_dedup_cosine", { implicit in =>
      // threshold sweep summary (the raw pair list is usually empty on
      // non-duplicated corpora; the sweep always yields rows)
      val pairs = Dedup.embeddingPairs(t("embeddings"), threshold = 0.0)
      pairs.agg(
        count(lit(1)).as("bucket_pairs"),
        sum(when(col("cosine") >= 0.5, 1L).otherwise(0L)).as("ge_050"),
        sum(when(col("cosine") >= 0.8, 1L).otherwise(0L)).as("ge_080"),
        sum(when(col("cosine") >= 0.95, 1L).otherwise(0L)).as("ge_095"))
    }, """WITH vb AS (SELECT vec_id, bucket FROM read_parquet('{OUT}/aux_emb_buckets/*.parquet')),
              capped AS (SELECT vec_id, bucket FROM (
                SELECT vec_id, bucket,
                       ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
                FROM vb) WHERE rn <= 1000),
              p AS (SELECT a.vec_id AS va, b.vec_id AS vbb
                    FROM capped a JOIN capped b
                    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              c AS (SELECT list_cosine_similarity(ea.embedding, eb.embedding) AS cos
                    FROM p JOIN embeddings ea ON ea.vec_id = p.va
                           JOIN embeddings eb ON eb.vec_id = p.vbb)
         SELECT COUNT(*) AS bucket_pairs,
                CAST(SUM(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS ge_050,
                CAST(SUM(CASE WHEN cos >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS ge_080,
                CAST(SUM(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS ge_095
         FROM c WHERE cos >= 0.0"""),

    Contract("emb_label_knn_purity", { implicit in =>
      val emb = t("embeddings")
      val top1 = Ann.bruteTopK(emb, Ann.headQueries(emb, 50), k = 1)
      val labels = emb.select(col("vec_id"), col("label"))
      top1.join(labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed("label", "q_label"), "query_id")
        .join(labels.withColumnRenamed("label", "n_label"), "vec_id")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L)).as("n_same_label"))
    }, """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS q_label
                    FROM embeddings ORDER BY vec_id LIMIT 50),
         r AS (SELECT q.qid, q.q_label, e.label AS n_label,
                 ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(q.qe, e.embedding) DESC, e.vec_id ASC) AS rnk
               FROM q, embeddings e WHERE e.vec_id <> q.qid)
         SELECT COUNT(*) AS n_queries,
                CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label
         FROM r WHERE rnk = 1""")
  )

  override val aux: Seq[Aux] = Seq(

    // LSH bucket assignment (frozen hyperplane hash, spec-locked) + the
    // multi-probe set of the head queries: the emb_knn_lsh oracle re-derives
    // candidate join, scoring, and ranking from these in DuckDB
    Aux("aux_emb_buckets", { implicit in =>
      import in.spark.implicits._
      t("embeddings").select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions(_.map { case (id, v) => (id, TextOps.hyperplaneBucket(v, 10)) })
        .toDF("vec_id", "bucket")
    }),

    Aux("aux_emb_probes", { implicit in =>
      import in.spark.implicits._
      val probes = Ann.headQueries(t("embeddings"), 20).toSeq.flatMap { case (qid, qv) =>
        val b = TextOps.hyperplaneBucket(qv, 10)
        (b +: (0 until 10).map(i => b ^ (1 << i))).distinct.map(pb => (qid, pb))
      }
      probes.toDF("query_id", "probe_bucket")
    }),

    // IVF analog of the LSH dumps (same frozen-assignment + re-derived-join
    // oracle pattern; centroids deterministic, parameters = emb_knn_ivf's)
    Aux("aux_ivf_lists", { implicit in =>
      Ann.listAssignments(t("embeddings"))
    }),

    Aux("aux_ivf_probes", { implicit in =>
      val emb = t("embeddings")
      Ann.queryProbes(emb, Ann.headQueries(emb, 20))
    })
  )
}
