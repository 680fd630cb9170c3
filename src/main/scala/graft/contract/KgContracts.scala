package graft.contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.{Vocab => V}
import graft.operators.Triangles
import graft.pipeline.{EncodedGraphTable, KgPipeline}
import graft.synth.PagesSynth

/** The web-text KG pipeline (north rule) and the graph queries over it,
  * on the synthesized corpus of the scale's page count. */
object KgContracts extends Family {

  /** Per-page entity cap before co-mention pair expansion (mirrored by
    * [[cappedLinksSql]] and [[cappedMentionsSql]] on the oracle side). Far
    * above the honest per-page entity counts of the corpus — it exists to
    * bound the damage a link-farm page can do, not to sample. */
  val CoMentionHubCap = 64

  /** Shared (subj, pred, obj) view for the BGP contract queries,
    * localCheckpointed: Bgp compiles one scan per pattern, and without
    * the cut the whole encode→decode lineage would re-run once per
    * pattern (the kg_comention_lift discipline applied to the pattern
    * family). Always the dictionary-encoded decode path — the cheap one;
    * `withOntology` unions in the once-per-corpus ontology triples (the
    * rdf:name chain target) rather than switching to the slower
    * string-world pipeline (the two are spec-locked multiset-identical). */
  private def bgpTriples(withOntology: Boolean = false)(implicit in: Inputs): DataFrame = {
    val n = nPages
    val decoded = KgPipeline.decodeTriples(KgPipeline.encodedTriples(spark, n), n).toDF()
    val base =
      if (withOntology) decoded.unionAll(KgPipeline.ontologyTriples(spark).toDF())
      else decoded
    base.select(col("subj"), col("pred"),
      coalesce(col("obj_iri"), col("obj_lit")).as("obj")).localCheckpoint()
  }

  /** Distinct (url, entity_iri) links of the synthesized corpus: the shared
    * front end of the co-mention graph queries. localCheckpointed once per
    * query, never across queries: the per-url pair self-join references the
    * links twice, and without the cut the synth+extract+link chain runs once
    * per side. */
  private def comentionLinks(implicit in: Inputs): DataFrame =
    KgPipeline.links(
      KgPipeline.extracted(PagesSynth.pages(spark, nPages)),
      PagesSynth.aliasMap).toDF().select("url", "entity_iri").distinct()
      .localCheckpoint()

  /** The co-mention edges (src < dst) of [[comentionLinks]], hub-capped
    * BEFORE pair expansion (the dedup MaxBucket discipline):
    * Triangles.groupedPairs bounds a page's C(k,2) fan-out at
    * C(CoMentionHubCap, 2). Oracle side: [[linkEdgesSql]]. */
  private def comentionPairs(implicit in: Inputs): DataFrame =
    Triangles.groupedPairs(comentionLinks, "url", "entity_iri", CoMentionHubCap)

  /** The (page_id, ent_id) mention rows of the dictionary-encoded stream. */
  private def encMentions(implicit in: Inputs): DataFrame =
    KgPipeline.encodedTriples(spark, nPages).toDF()
      .filter(col("pred_id") === KgPipeline.PredMentions)
      .select(col("page_id"), col("ent_id"))

  /** [[comentionPairs]] in id space, over [[encMentions]]. Oracle side:
    * [[mentionEdgesSql]]. */
  private def encPairs(implicit in: Inputs): DataFrame =
    Triangles.groupedPairs(encMentions, "page_id", "ent_id", CoMentionHubCap)

  /** The page-capped co-mention link set over the aux_links dump, as the
    * CTEs `l0` (distinct links) and `l` (each page's first CoMentionHubCap
    * entities): what every string-world co-mention oracle starts from. */
  private val cappedLinksSql =
    s"""l0 AS MATERIALIZED (SELECT DISTINCT url, entity_iri
                     FROM read_parquet('{OUT}/aux_links/*.parquet')),
              l AS (SELECT url, entity_iri FROM (
                      SELECT url, entity_iri,
                             ROW_NUMBER() OVER (PARTITION BY url ORDER BY entity_iri) AS rn
                      FROM l0) WHERE rn <= $CoMentionHubCap)"""

  /** [[cappedLinksSql]] and its distinct co-mention edges (src < dst) as
    * the CTE named `e`: the oracle side of [[comentionPairs]]. */
  private def linkEdgesSql(e: String): String =
    s"""$cappedLinksSql,
              $e AS MATERIALIZED (SELECT DISTINCT a.entity_iri AS src, b.entity_iri AS dst
                     FROM l a JOIN l b ON a.url = b.url AND a.entity_iri < b.entity_iri)"""

  /** The page-capped mention set over the aux_enc_triples dump, as the CTEs
    * `m` (distinct mentions) and `l` (each page's first CoMentionHubCap
    * entities): what every id-space co-mention oracle starts from. */
  private val cappedMentionsSql =
    s"""m AS (SELECT DISTINCT page_id, ent_id
                  FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
                  WHERE pred_id = 4),
            l AS (SELECT page_id, ent_id FROM (
                    SELECT page_id, ent_id,
                           ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY ent_id) AS rn
                    FROM m) WHERE rn <= $CoMentionHubCap)"""

  /** [[cappedMentionsSql]] and its distinct co-mention edges as the CTE `e`:
    * the oracle side of [[encPairs]]. */
  private val mentionEdgesSql =
    s"""$cappedMentionsSql,
            e AS MATERIALIZED (
                  SELECT DISTINCT a.ent_id AS src, b.ent_id AS dst
                  FROM l a JOIN l b ON a.page_id = b.page_id AND a.ent_id < b.ent_id)"""

  /** kg_pagerank oracle: the integer-arithmetic update is engine-exact, so
    * all `iters` rounds unroll into plain CTEs over the aux_links dump —
    * the full iterative computation is independently re-derived in DuckDB. */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      s"""WITH ${linkEdgesSql("e")},
              sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
              deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
              r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg)"""
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (SELECT d.node,
               CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_micro
             FROM deg d LEFT JOIN (
               SELECT sym.dst AS node, SUM(p.rank_micro // dg.deg) AS c
               FROM sym JOIN r${k - 1} p ON p.node = sym.src
                        JOIN deg dg ON dg.node = sym.src
               GROUP BY sym.dst) s ON s.node = d.node)"""
    }.mkString(",\n")
    s"$head,\n$rounds\nSELECT node AS entity_iri, rank_micro FROM r$iters"
  }

  /** kg_kcore oracle: k-core peeling is CONFLUENT (unique fixpoint), so a
    * fixed `rounds`-deep unrolling reaches the same subgraph the engine's
    * converge-when-stable loop does — provided rounds ≥ the peel depth,
    * which `KCoreSpec` pins for this corpus family. Each round keeps edges
    * whose both endpoints have symmetric degree ≥ k.
    *
    * Every per-round CTE is `AS MATERIALIZED`: each round references its
    * predecessor three times, and DuckDB's default CTE INLINING would make
    * the evaluation tree 3^rounds (measured: unusable past ~4 rounds, then
    * fd exhaustion on the re-opened parquet glob). Materialization makes
    * the unrolling linear — the SQL analog of the engine's per-round
    * lineage cut. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT src AS n FROM (SELECT src, dst FROM e${r - 1}
                                 UNION ALL SELECT dst, src FROM e${r - 1})
               GROUP BY 1 HAVING COUNT(*) >= $k),
          e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
               JOIN d$r a ON e.src = a.n
               JOIN d$r b ON e.dst = b.n)"""
    }.mkString(",\n")
    s"""WITH ${linkEdgesSql("e0")},
$peels
SELECT src AS entity_iri, COUNT(*) AS core_deg
FROM (SELECT src, dst FROM e$rounds UNION ALL SELECT dst, src FROM e$rounds)
GROUP BY 1"""
  }

  /** kg_label_prop oracle: synchronous LPA is a pure function of the edge
    * set and the horizon (min-label tie-break), so each round unrolls to a
    * neighbor-label count + a windowed argmax. MATERIALIZED per round (see
    * kcoreOracleSql — inlining re-evaluates predecessors exponentially). */
  private def labelPropOracleSql(iters: Int): String = {
    val head =
      s"""WITH ${linkEdgesSql("e")},
              sym AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
              r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)"""
    val rounds = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT sym.dst AS node, p.label AS label, COUNT(*) AS cnt
               FROM sym JOIN r${k - 1} p ON p.node = sym.src GROUP BY 1, 2),
          r$k AS MATERIALIZED (SELECT node, MIN(label) AS label FROM (
               SELECT node, label, cnt, MAX(cnt) OVER (PARTITION BY node) AS mx
               FROM c$k) WHERE cnt = mx GROUP BY node)"""
    }.mkString(",\n")
    s"$head,\n$rounds\nSELECT node AS entity_iri, label AS community FROM r$iters"
  }

  /** kg_shortest_paths oracle: the same fixed `rounds` BFS expansions,
    * unrolled. MATERIALIZED per round (see kcoreOracleSql — inlining would
    * re-evaluate predecessors exponentially); the anti join against the
    * visited set is DuckDB's native ANTI JOIN. */
  private def bfsOracleSql(rounds: Int, nSeeds: Int): String = {
    val head =
      s"""WITH ${linkEdgesSql("e0")},
              sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
              seeds AS (SELECT DISTINCT src AS seed FROM sym ORDER BY seed LIMIT $nSeeds),
              f0 AS MATERIALIZED (SELECT seed, seed AS node, 0 AS dist FROM seeds),
              v0 AS MATERIALIZED (SELECT * FROM f0)"""
    val expansions = (1 to rounds).map { d =>
      s"""f$d AS MATERIALIZED (
             SELECT c.seed, c.node, $d AS dist FROM (
               SELECT DISTINCT f.seed, s.dst AS node
               FROM f${d - 1} f JOIN sym s ON f.node = s.src) c
             ANTI JOIN v${d - 1} v ON v.seed = c.seed AND v.node = c.node),
          v$d AS MATERIALIZED (SELECT * FROM v${d - 1} UNION ALL SELECT * FROM f$d)"""
    }.mkString(",\n")
    s"""$head,
$expansions
SELECT seed, dist, COUNT(*) AS n_entities FROM v$rounds GROUP BY 1, 2"""
  }

  /** Shared graph head of the walk oracles: the capped co-mention edges of
    * [[mentionEdgesSql]], symmetrized, one walk seed per node. */
  private val walkGraphHead =
    s"""WITH $mentionEdgesSql,
            sym AS MATERIALIZED (
                  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
            w0 AS MATERIALIZED (SELECT DISTINCT src AS seed, src AS node FROM sym)"""

  /** kg_random_walks oracle: [[walkGraphHead]], then every walk step
    * unrolled — step t picks the neighbor minimizing ((seed·40503 +
    * t·69069 + v·97561) mod 1000003, v), exactly
    * [[graft.operators.RandomWalks]]' rule. */
  private def walkOracleSql(steps: Int): String = {
    val stepsSql = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT seed, node FROM (
            SELECT w.seed, s.dst AS node,
                   ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY
                     (CAST(w.seed AS BIGINT) * 40503 + $t * 69069
                      + CAST(s.dst AS BIGINT) * 97561) % 1000003, s.dst) AS rn
            FROM w${t - 1} w JOIN sym s ON w.node = s.src) WHERE rn = 1)"""
    }.mkString(",\n")
    s"$walkGraphHead,\n$stepsSql,\nwalks AS (${walksUnion(steps)})\n"
  }

  /** The node2vec walk oracle: same graph head, the 3-case second-order
    * bias re-derived per unrolled step — hash · (p·10⁶ | 10⁶ | q·10⁶) for
    * return / prev-neighbor (LEFT JOIN flag) / distance-2 candidates. */
  private def node2vecOracleSql(steps: Int, pM: Long, qM: Long): String = {
    val step1 =
      """w1 AS MATERIALIZED (SELECT seed, prev, node FROM (
            SELECT w.seed, w.node AS prev, s.dst AS node,
                   ROW_NUMBER() OVER (PARTITION BY w.seed ORDER BY
                     (CAST(w.seed AS BIGINT) * 40503 + 1 * 69069
                      + CAST(s.dst AS BIGINT) * 97561) % 1000003, s.dst) AS rn
            FROM w0 w JOIN sym s ON w.node = s.src) WHERE rn = 1)"""
    val rest = (2 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT seed, prev, node FROM (
            SELECT c.seed, c.node AS prev, c.dst AS node,
                   ROW_NUMBER() OVER (PARTITION BY c.seed ORDER BY c.hw, c.dst) AS rn
            FROM (
              SELECT w.seed, w.node, s.dst,
                     ((CAST(w.seed AS BIGINT) * 40503 + $t * 69069
                       + CAST(s.dst AS BIGINT) * 97561) % 1000003)
                     * (CASE WHEN s.dst = w.prev THEN $pM
                             WHEN d.src IS NOT NULL THEN 1000000
                             ELSE $qM END) AS hw
              FROM w${t - 1} w JOIN sym s ON w.node = s.src
              LEFT JOIN sym d ON d.src = w.prev AND d.dst = s.dst
            ) c) WHERE rn = 1)"""
    }.mkString(",\n")
    s"$walkGraphHead,\n$step1,\n$rest,\nwalks AS (${walksUnion(steps)})\n"
  }

  /** the walk rows (seed, step, node) of the unrolled steps w0 … w`steps` */
  private def walksUnion(steps: Int): String =
    (0 to steps).map(t =>
      s"SELECT CAST(seed AS BIGINT) AS seed, $t AS step, CAST(node AS BIGINT) AS node FROM w$t")
      .mkString("\nUNION ALL ")

  /** the node2vec (p = 0.5, q = 2) walks of kg_node2vec_walks and
    * kg_node2vec_skipgrams, in micro-units */
  private val node2vecSql = node2vecOracleSql(4, pM = 500000L, qM = 2000000L)

  /** (center, context) pair counts within a ±2-step window over `walks` */
  private val skipGramsSql =
    """SELECT a.node AS center, b.node AS context, COUNT(*) AS n_pairs
         FROM walks a JOIN walks b
           ON a.seed = b.seed AND a.step <> b.step AND ABS(a.step - b.step) <= 2
         GROUP BY 1, 2"""

  /** Per-entity count of the detected mentions (aux_mentions) linked to
    * their alias's top-1 entity (prior DESC, entity_iri ASC; aux_aliases),
    * as the column `alias`: the oracle of both linker paths. */
  private def linkCountSql(alias: String): String =
    s"""WITH best AS (SELECT alias_norm, entity_iri FROM (
           SELECT alias_norm, entity_iri,
             ROW_NUMBER() OVER (PARTITION BY alias_norm ORDER BY prior DESC, entity_iri ASC) AS rn
           FROM read_parquet('{OUT}/aux_aliases/*.parquet')) WHERE rn = 1)
         SELECT b.entity_iri, COUNT(*) AS $alias
         FROM read_parquet('{OUT}/aux_mentions/*.parquet') m JOIN best b USING (alias_norm)
         GROUP BY b.entity_iri"""

  // the stored deletion-key index is a faster PATH to the same fuzzy
  // resolution (spec-locked identical) — one oracle for both
  private val fuzzyLinkSql =
    """WITH al AS (SELECT alias_norm, entity_iri, prior
                     FROM read_parquet('{OUT}/aux_aliases/*.parquet')),
              an AS (SELECT DISTINCT alias_norm FROM al),
              best AS (SELECT alias_norm, entity_iri, prior FROM (
                         SELECT alias_norm, entity_iri, prior,
                                ROW_NUMBER() OVER (PARTITION BY alias_norm
                                  ORDER BY prior DESC, entity_iri) AS rn
                         FROM al) WHERE rn = 1),
              s AS (SELECT DISTINCT
                      substr(alias_norm, 1, length(alias_norm) // 2 - 1)
                        || substr(alias_norm, length(alias_norm) // 2 + 1) AS surface
                    FROM an WHERE length(alias_norm) >= 4),
              sk AS (SELECT surface, surface AS k FROM s
                     UNION
                     SELECT surface, substr(surface, 1, i - 1) || substr(surface, i + 1) AS k
                     FROM (SELECT surface, unnest(range(1, length(surface) + 1)) AS i FROM s)),
              ak AS (SELECT alias_norm, alias_norm AS k FROM an
                     UNION
                     SELECT alias_norm, substr(alias_norm, 1, i - 1) || substr(alias_norm, i + 1) AS k
                     FROM (SELECT alias_norm, unnest(range(1, length(alias_norm) + 1)) AS i FROM an)),
              cand AS (SELECT DISTINCT sk.surface, ak.alias_norm
                       FROM sk JOIN ak USING (k)),
              v AS (SELECT surface, alias_norm,
                           CAST(levenshtein(surface, alias_norm) AS BIGINT) AS lev
                    FROM cand WHERE levenshtein(surface, alias_norm) <= 1),
              r AS (SELECT v.surface, v.alias_norm, b.entity_iri, v.lev,
                           ROW_NUMBER() OVER (PARTITION BY v.surface
                             ORDER BY v.lev, b.prior DESC, b.entity_iri, v.alias_norm) AS rn
                    FROM v JOIN best b USING (alias_norm))
         SELECT surface, alias_norm, entity_iri, lev FROM r WHERE rn = 1"""

  val contracts: Seq[Contract] = Seq(

    Contract("kg_triples_by_pred", { implicit in =>
      KgPipeline.triples(spark, nPages)
        .groupBy("pred").agg(count(lit(1)).as("n_triples"))
    }, """WITH p AS (SELECT COUNT(*) AS n FROM read_parquet('{OUT}/aux_extracted/*.parquet')),
              l AS (SELECT COUNT(*) AS n FROM read_parquet('{OUT}/aux_links/*.parquet'))
         SELECT pred, CAST(n AS BIGINT) AS n_triples FROM (
           SELECT 'rdf:type' AS pred, p.n + 6 + 400 AS n FROM p
           UNION ALL SELECT 'web:lang', p.n FROM p
           UNION ALL SELECT 'web:warc_ts', p.n FROM p
           UNION ALL SELECT 'web:n_chars', p.n FROM p
           UNION ALL SELECT 'web:mentions', l.n FROM l
           UNION ALL SELECT 'graft:range', 1
           UNION ALL SELECT 'rdf:name', 400)"""),

    Contract("kg_top_entities", { implicit in =>
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, nPages))
      KgPipeline.links(ext, PagesSynth.aliasMap)
        .groupBy("entity_iri").agg(count(lit(1)).as("n_mentions"))
    }, linkCountSql("n_mentions")),

    // the distributed part of extract-identity is the frozen-hash extract_ok
    // flag (non-SQL); the oracle re-aggregates it from the per-page dump so
    // the count/sum layer is independently recomputed
    Contract("kg_extract_identity", { implicit in =>
      KgPipeline.extracted(PagesSynth.pages(spark, nPages))
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("extract_ok"), 1L).otherwise(0L)).as("n_byte_identical"))
    }, """SELECT COUNT(*) AS n_pages,
                CAST(SUM(CASE WHEN extract_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_identical
         FROM read_parquet('{OUT}/aux_extracted/*.parquet')"""),

    Contract("kg_link_relational", { implicit in =>
      import in.spark.implicits._
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, nPages))
      val bc = spark.sparkContext.broadcast(MentionDetect.buildDictionary(PagesSynth.aliasMap.keys))
      val mentions = ext.mapPartitions(_.flatMap(p => MentionDetect.detect(p.url, p.text, bc.value)))
      // coalesce(1): the alias index HERE is a driver-local 444-row
      // constant, but LocalTableScan parallelizes it to defaultParallelism
      // — 32 tasks of 14 rows each feeding the min_by aggregation (r7,
      // measured 0.5s of task time for 444 rows). Right-size the input to
      // the data; linkRelational itself is unchanged and scales when the
      // aliases are a real table.
      Linker.linkRelational(mentions, PagesSynth.aliases(spark).toDF().coalesce(1))
        .groupBy("entity_iri").agg(count(lit(1)).as("n_links"))
    }, linkCountSql("n_links")),

    Contract("kg_comention_triangles", { implicit in =>
      // entity co-mention graph (edge = two entities linked on the same
      // page) -> exact triangle count via degree-ordered orientation
      // (Triangles.count: hub-proof wedge generation, no cross products)
      Triangles.count(comentionPairs)
    }, s"""WITH ${linkEdgesSql("e")}
         SELECT COUNT(*) AS n_triangles
         FROM e e1
         JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
         JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst"""),

    Contract("kg_degree_hist", { implicit in =>
      // degree distribution of the co-mention graph (the first thing anyone
      // plots over a new KG): canonical edges → per-node degree → histogram
      val edges = Triangles.canonical(comentionPairs)
      edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    }, s"""WITH ${linkEdgesSql("e")},
              d AS (SELECT node, COUNT(*) AS degree FROM (
                      SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t
                    GROUP BY node)
         SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY degree"""),

    Contract("kg_pagerank", { implicit in =>
      // entity importance over the co-mention graph: fixed-iteration
      // PageRank in exact integer (micro-rank) arithmetic — deterministic
      // across partitionings AND engines, so the oracle can re-derive all
      // five rounds from the aux_links dump in plain SQL (unrolled CTEs).
      // Same capped edge derivation as kg_comention_triangles.
      graft.operators.PageRank.ranks(comentionPairs, iters = 5)
        .withColumnRenamed("node", "entity_iri")
    }, pagerankOracleSql(5)),

    Contract("kg_two_hop", { implicit in =>
      // 2-hop neighborhood over the co-mention graph from each of the 5
      // lexicographically-first entities: the KG traversal staple, two
      // equi-join expansions + distinct (no cross products; at 100 TB the
      // bucketed-by-subject layout makes these joins shuffle-free —
      // KgPipelineSpec locks that property)
      val edges = Triangles.canonical(comentionPairs).localCheckpoint()
      val sym = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("seed"))
        .unionAll(edges.select(col("dst").as("seed")))
        .distinct().orderBy("seed").limit(5)
      val hop1 = seeds.join(sym, col("seed") === col("src")).select(col("seed"), col("dst").as("n1"))
      val hop2 = hop1.join(sym.withColumnRenamed("src", "n1").withColumnRenamed("dst", "n2"), "n1")
      hop1.select(col("seed"), col("n1").as("entity"))
        .unionAll(hop2.select(col("seed"), col("n2").as("entity")))
        .filter(col("entity") =!= col("seed"))
        .distinct()
        .groupBy("seed").agg(count(lit(1)).as("n_within_2_hops"))
    }, s"""WITH ${linkEdgesSql("e")},
              sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
              seeds AS (SELECT DISTINCT src AS seed FROM sym ORDER BY seed LIMIT 5),
              h1 AS (SELECT seed, dst AS n1 FROM seeds JOIN sym ON sym.src = seed),
              h2 AS (SELECT h1.seed, sym.dst AS n2 FROM h1 JOIN sym ON sym.src = h1.n1),
              reach AS (SELECT seed, n1 AS entity FROM h1
                        UNION SELECT seed, n2 FROM h2)
         SELECT seed, COUNT(*) AS n_within_2_hops
         FROM reach WHERE entity <> seed GROUP BY seed"""),

    Contract("kg_stored_neighbors", { implicit in =>
      // co-mention neighborhoods computed OVER THE STORED GRAPH TABLE: the
      // pipeline's triples land in the subject-BUCKETED layout first, and
      // the traversal then self-joins the stored table on subj (= page)
      // with the mention-predicate filter pushed into the parquet scan —
      // the end-to-end proof the bucketed layout pays off (the page-keyed
      // join and the page-level dedup both run WITHOUT an exchange;
      // PlanQualitySpec locks it). Output: for each of the 3
      // lexicographically-first entities, its co-mention neighbors with
      // shared-page counts.
      val n = nPages
      val table = s"graft_stored_graph_$n"
      graft.util.Warehouse.dropTable(spark, table)
      new graft.pipeline.GraphSink.BucketedTable(buckets = 32).write(KgPipeline.triples(spark, n), table)
      val g = spark.table(table)
      val edges = g.filter(col("pred") === "web:mentions")
        .select(col("subj").as("page"), col("obj_iri").as("ent")).distinct()
      val seeds = edges.select(col("ent").as("seed")).distinct().orderBy("seed").limit(3)
      edges.join(seeds, col("ent") === col("seed"))
        .select(col("page"), col("seed"))
        .join(edges.withColumnRenamed("ent", "neighbor"), "page")
        .filter(col("neighbor") =!= col("seed"))
        .groupBy("seed", "neighbor").agg(countDistinct(col("page")).as("n_pages"))
    }, """WITH e AS (SELECT DISTINCT url AS page, entity_iri AS ent
                    FROM read_parquet('{OUT}/aux_links/*.parquet')),
              seeds AS (SELECT DISTINCT ent AS seed FROM e ORDER BY seed LIMIT 3),
              se AS (SELECT a.page, s.seed FROM e a JOIN seeds s ON a.ent = s.seed)
         SELECT se.seed, b.ent AS neighbor, CAST(COUNT(DISTINCT se.page) AS BIGINT) AS n_pages
         FROM se JOIN e b ON b.page = se.page AND b.ent <> se.seed
         GROUP BY 1, 2"""),

    Contract("kg_cdc_changes", { implicit in =>
      // CDC over the snapshot sink, end-to-end: snapshot 1 is the corpus
      // with every mention of entities whose IRI ends in '3' withheld (a
      // partially-ingested crawl), snapshot 2 the full corpus; readChanges
      // must surface EXACTLY the withheld mention triples as inserts with
      // multiset-exact counts (an entity mentioned twice on a page carries
      // _n = 2). The oracle re-derives the withheld set independently from
      // the aux_links dump. This upgrades the sink's CDC path from
      // spec-locked to oracled.
      val n = nPages
      // a commit writes one file per input task, and the synthesized pages
      // come in up to 4 × cores small ranges: fold them to one task per core
      // first (a narrow coalesce, still no exchange)
      val full = KgPipeline.triples(spark, n).coalesce(spark.sparkContext.defaultParallelism)
      val prev = full.filter(!(col("pred") === "web:mentions" &&
        col("obj_iri").endsWith("3")))
      val target = freshTmpDir(s"graft_cdc_$n")
      val sink = new graft.pipeline.GraphSink.Snapshotted
      sink.write(prev, target)
      sink.write(full, target)
      val ids = sink.snapshots(spark, target)
      // mention triples are span-distinct (obj_lit carries the span), so a
      // page re-mentioning an entity surfaces as two changed triples; roll
      // the delta up per (page, entity) edge — counts stay multiset-exact
      sink.readChanges(spark, target, ids.head, ids.last)
        .groupBy(col("subj"), col("pred"), col("obj_iri"), col("_change_type"))
        .agg(sum(col("_n")).as("_n"))
    }, """SELECT url AS subj, 'web:mentions' AS pred, entity_iri AS obj_iri,
                'insert' AS _change_type, COUNT(*) AS _n
         FROM read_parquet('{OUT}/aux_links/*.parquet')
         WHERE entity_iri LIKE '%3'
         GROUP BY 1, 2, 3"""),

    Contract("kg_warc_roundtrip", { implicit in =>
      // the Common-Crawl interchange on-ramp, end-to-end: the page corpus
      // serialized as member-per-record gzipped WARC files, read back
      // through the lenient per-file-task parser, and fingerprinted. The
      // oracle compares against aux_pages — dumped straight from the
      // synthesized corpus, never touching the Warc code — so url,
      // capture timestamp (µs-exact), and body bytes (md5) must all
      // survive the container round trip.
      val n = nPages
      val target = freshTmpDir(s"graft_warc_$n")
      graft.sources.Warc.write(PagesSynth.pages(spark, n), target)
      graft.sources.Warc.read(spark, target)
        .select(col("url"), unix_micros(col("warc_ts")).as("ts_us"),
          md5(col("html")).as("html_md5"))
    }, """SELECT url, ts_us, html_md5
         FROM read_parquet('{OUT}/aux_pages/*.parquet')"""),

    Contract("kg_validate_range", { implicit in =>
      import in.spark.implicits._
      // ontology range-conformance gate over the emitted graph (the
      // publish-time integrity check), with DETERMINISTIC planted
      // violations — mention edges rewritten onto unregistered entity
      // IRIs — proving the gate fires: the conforming corpus contributes
      // ZERO violations (every linked entity carries rdf:type web:Entity),
      // so the output is exactly the planted set, which the oracle
      // re-derives independently from the aux_links dump. The range
      // declarations come from the graph's own graft:range triples.
      val n = nPages
      val base = KgPipeline.triples(spark, n)
      val links = KgPipeline.links(
        KgPipeline.extracted(PagesSynth.pages(spark, n)), PagesSynth.aliasMap)
      val planted = links.toDF().filter(col("entity_iri").endsWith("7"))
        .select(col("url").as("subj"), lit("web:mentions").as("pred"),
          concat(lit("bogus:"), col("entity_iri")).as("obj_iri"),
          lit(null).cast("string").as("obj_lit"),
          lit(null).cast("string").as("obj_type"))
        .as[graft.model.Triple]
      graft.operators.Validate.rangeViolations(base.unionAll(planted))
        .select("subj", "pred", "obj_iri").distinct()
    }, """SELECT DISTINCT url AS subj, 'web:mentions' AS pred,
                'bogus:' || entity_iri AS obj_iri
         FROM read_parquet('{OUT}/aux_links/*.parquet')
         WHERE entity_iri LIKE '%7'"""),

    Contract("kg_encoded_degree", { implicit in =>
      // mention-degree per entity computed ENTIRELY in id space over the
      // dictionary-encoded STORED table: the integer pred_id filter pushes
      // into the parquet scan (min/max stats + dictionary pages — the cheap
      // scan string tables cannot match at 100 TB, plan-locked), the
      // aggregation groups fixed-width ints, and no string is ever decoded.
      // The table is written first with its dictionary sidecars riding
      // along (page/entity dicts AS DATA).
      val n = nPages
      val tmp = freshTmpDir(s"graft_enc_$n") + "/g"
      EncodedGraphTable.write(KgPipeline.encodedTriples(spark, n),
        PagesSynth.pageDict(spark, n), PagesSynth.entityDict(spark), tmp)
      EncodedGraphTable.readEncoded(spark, tmp)
        .filter(col("pred_id") === KgPipeline.PredMentions)
        .groupBy("ent_id").agg(count(lit(1)).as("n_mentions"))
    }, """SELECT ent_id, COUNT(*) AS n_mentions
         FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
         WHERE pred_id = 4 GROUP BY 1"""),

    Contract("kg_clustered_rect", { implicit in =>
      // rectangle query over the Z-ORDER CLUSTERED stored table — the
      // access pattern the layout exists for: a range predicate on BOTH
      // dimensions (a page shard x an entity band) pushes into the scan and
      // skips most row groups on footer min/max stats, because the Morton
      // sort gives every row group a small rectangle in (page, entity)
      // space (measured in ClusteredLayoutSpec: >= 2x fewer row groups
      // scanned on either dimension alone). Results are layout-invariant;
      // the oracle re-aggregates the same rectangle from the encoded dump.
      val n = nPages
      val tmp = freshTmpDir(s"graft_clus_$n") + "/g"
      EncodedGraphTable.writeClustered(KgPipeline.encodedTriples(spark, n),
        PagesSynth.pageDict(spark, n), PagesSynth.entityDict(spark), tmp)
      val maxPage = n - 1
      EncodedGraphTable.readEncoded(spark, tmp)
        .filter(col("pred_id") === KgPipeline.PredMentions &&
          col("page_id").between(maxPage / 4, maxPage / 2) &&
          col("ent_id").between(100, 300))
        .groupBy("ent_id").agg(count(lit(1)).as("n_mentions"))
    }, """WITH t AS (SELECT * FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')),
              b AS (SELECT MAX(page_id) // 4 AS lo, MAX(page_id) // 2 AS hi FROM t)
         SELECT ent_id, COUNT(*) AS n_mentions
         FROM t, b
         WHERE pred_id = 4 AND page_id BETWEEN b.lo AND b.hi
           AND ent_id BETWEEN 100 AND 300
         GROUP BY 1"""),

    Contract("kg_kcore", { implicit in =>
      // 3-core of the co-mention graph (iterative peel until every node
      // keeps >= 3 in-core neighbors): the KG-denoising staple — fringe
      // entities and single-link noise peel away. The fixpoint is confluent
      // (unique whatever the peel schedule), which is what lets the oracle
      // re-derive it as a FIXED 12-round SQL unrolling while the engine
      // converges adaptively. Same capped edge derivation as kg_pagerank.
      graft.operators.KCore.nodes(comentionPairs, k = 3)
        .withColumnRenamed("node", "entity_iri")
    }, kcoreOracleSql(3, 12)),

    Contract("kg_label_prop", { implicit in =>
      // community detection over the co-mention graph: fixed-horizon
      // SYNCHRONOUS label propagation with min-label tie-break — the
      // entity-clustering step of KG canonicalization. Synchronous update +
      // total-order tie-break make round `iters` a pure function of the
      // edge set, so the oracle re-derives all 4 rounds in unrolled
      // MATERIALIZED CTEs. Same capped edge derivation as kg_pagerank.
      graft.operators.LabelProp.communities(comentionPairs, iters = 4)
        .withColumnRenamed("node", "entity_iri")
    }, labelPropOracleSql(4)),

    Contract("kg_shortest_paths", { implicit in =>
      // multi-source BFS hop distances to a FIXED 6-hop horizon over the
      // co-mention graph (the general form of kg_two_hop): per seed, how
      // many entities sit at each hop distance. Fixed rounds = no
      // convergence clause, so the oracle unrolls the same 6 expansions
      // as MATERIALIZED CTEs and matches at any graph diameter.
      val canonEdges = Triangles.canonical(comentionPairs).localCheckpoint()
      val seeds = canonEdges.select(col("src").as("seed"))
        .unionAll(canonEdges.select(col("dst").as("seed")))
        .distinct().orderBy("seed").limit(3)
      graft.operators.ShortestPaths.distances(canonEdges, seeds, maxDist = 6)
        .groupBy("seed", "dist").agg(count(lit(1)).as("n_entities"))
    }, bfsOracleSql(6, 3)),

    Contract("kg_entity_assoc", { implicit in =>
      // entity-association strength inputs (the PMI numerator and both
      // denominators as EXACT integers — the log ratio itself is a
      // consumer-side float): co-mention page count per entity pair plus
      // each side's page count, all over the same capped link set so the
      // counts are mutually consistent. The cap is the ONE shared
      // Triangles.cappedMembers derivation every co-mention query uses
      // (map-side WindowGroupLimit, plan-locked); denominator joins carry
      // no hint — AQE broadcasts them while the entity vocabulary is small
      // and falls back to shuffle when it is not (a web-scale KG has
      // 10^7-10^9 entities; a forced broadcast would OOM the driver there).
      val capped = Triangles.cappedMembers(comentionLinks, "url", "entity_iri", CoMentionHubCap)
      val pairs = capped.as("a")
        .join(capped.as("b"), col("a.url") === col("b.url") &&
          col("a.entity_iri") < col("b.entity_iri"))
        .groupBy(col("a.entity_iri").as("e1"), col("b.entity_iri").as("e2"))
        .agg(count(lit(1)).as("n_both"))
      val pageCounts = capped.groupBy("entity_iri").agg(count(lit(1)).as("n"))
      pairs
        .join(pageCounts.select(col("entity_iri").as("e1"), col("n").as("n_e1")), "e1")
        .join(pageCounts.select(col("entity_iri").as("e2"), col("n").as("n_e2")), "e2")
        .select("e1", "e2", "n_both", "n_e1", "n_e2")
    }, s"""WITH $cappedLinksSql,
              p AS (SELECT a.entity_iri AS e1, b.entity_iri AS e2, COUNT(*) AS n_both
                    FROM l a JOIN l b ON a.url = b.url AND a.entity_iri < b.entity_iri
                    GROUP BY 1, 2),
              c AS (SELECT entity_iri, COUNT(*) AS n FROM l GROUP BY 1)
         SELECT p.e1, p.e2, p.n_both, c1.n AS n_e1, c2.n AS n_e2
         FROM p JOIN c c1 ON c1.entity_iri = p.e1
                JOIN c c2 ON c2.entity_iri = p.e2"""),

    // kg_url_canonical: messifier and canonicalizer both re-derived in
    // DuckDB over the aux_extracted url dump — the oracle replays the
    // planted mess (keyed on the page ordinal in the url) and the RFC 3986
    // normalization rules independently
    Contract("kg_url_canonical", { implicit in =>
      // URL canonicalization before IRI minting (graft.functions.UrlCanon:
      // scheme/host case, default ports, fragments, utm params, trailing
      // slashes), proven by DETERMINISTIC round-trip: each page's clean URL
      // is mapped through one of six planted messifications (keyed on the
      // page ordinal, so the oracle replays it), canonicalized back, and
      // compared — per mess-case totals make any rule regression visible as
      // a dropped n_roundtrip. All built-ins, whole-stage-codegen'd,
      // map-side until the 6-group aggregate.
      val n = nPages
      val urls = PagesSynth.pages(spark, n).toDF().select("url")
      val ord = regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
      val c = pmod(ord, lit(6L))
      val scheme = regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
      val host = regexp_extract(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
      val rest = regexp_extract(col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
      val messy = when(c === 1, concat(upper(scheme), lit("://"), upper(host), rest))
        .when(c === 2, concat(scheme, lit("://"), host, lit(":443"), rest))
        .when(c === 3, concat(col("url"), lit("#sec-2")))
        .when(c === 4, concat(col("url"), lit("?utm_source=feed&utm_medium=cpc")))
        .when(c === 5, concat(col("url"), lit("/")))
        .otherwise(col("url"))
      urls.select(c.as("mess_case"),
          (graft.functions.UrlCanon.canonical(messy) === col("url")).as("rt"))
        .groupBy("mess_case").agg(count(lit(1)).as("n_pages"),
          sum(when(col("rt"), 1L).otherwise(0L)).as("n_roundtrip"))
    }, """WITH p AS (SELECT url,
                  CAST(regexp_extract(url, '/p/([0-9]+)$', 1) AS BIGINT) % 6 AS mess_case,
                  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS host,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
           FROM read_parquet('{OUT}/aux_extracted/*.parquet')),
              m AS (SELECT url, mess_case,
                  CASE mess_case
                    WHEN 1 THEN upper(scheme) || '://' || upper(host) || rest
                    WHEN 2 THEN scheme || '://' || host || ':443' || rest
                    WHEN 3 THEN url || '#sec-2'
                    WHEN 4 THEN url || '?utm_source=feed&utm_medium=cpc'
                    WHEN 5 THEN url || '/'
                    ELSE url END AS messy
           FROM p),
              x AS (SELECT url, mess_case,
                  lower(regexp_extract(messy, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS cs,
                  lower(regexp_extract(messy, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS ch0,
                  regexp_extract(messy, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS cr0
           FROM m),
              y AS (SELECT url, mess_case,
                  cs || '://' ||
                  (CASE WHEN cs = 'https' THEN regexp_replace(ch0, ':443$', '')
                        WHEN cs = 'http' THEN regexp_replace(ch0, ':80$', '')
                        ELSE ch0 END) ||
                  regexp_replace(regexp_replace(regexp_replace(
                    cr0, '#.*$', ''), '\?utm_[^&#]*(&utm_[^&#]*)*$', ''), '/+$', '') AS canon
           FROM x)
         SELECT mess_case, COUNT(*) AS n_pages,
                CAST(SUM(CASE WHEN canon = url THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
         FROM y GROUP BY 1"""),

    // kg_neg_samples: the sampler is a pure integer function of the edge
    // set, so DuckDB re-derives the capped edges, every candidate, and the
    // filtered-protocol anti-join from the encoded dump independently
    Contract("kg_neg_samples", { implicit in =>
      // deterministic FILTERED negative sampling for KG-embedding training
      // (the TransE-family corrupted-triple generator), ENTIRELY IN ID
      // SPACE over the dictionary-encoded mention stream: canonical
      // co-mention edges (same hub-capped derivation family as the other
      // graph queries, here keyed on integer ids), then 3 tail-corruption
      // candidates per positive from a mixed-congruential function of
      // (src, dst, k) mod vocab — map-side only — with the filtered
      // protocol's anti-join against the true edge set. Reproducible
      // across engines, so the oracle re-derives every candidate and the
      // filter in plain SQL from the encoded dump.
      val edges = Triangles.canonical(encPairs)
      graft.operators.NegativeSampling.tailCorrupt(edges, negsPerEdge = 3)
    }, s"""WITH $mentionEdgesSql,
              v AS (SELECT GREATEST(MAX(src), MAX(dst)) + 1 AS n_vocab FROM e),
              c AS (SELECT e.src, e.dst, k.k,
                           (CAST(e.src AS BIGINT) * 40503
                            + CAST(e.dst AS BIGINT) * 69069
                            + k.k * 97561) % v.n_vocab AS neg
                    FROM e, v, (SELECT UNNEST(range(1, 4)) AS k) k)
         SELECT CAST(c.src AS INTEGER) AS src_id, CAST(c.dst AS INTEGER) AS dst_id,
                CAST(c.k AS INTEGER) AS k, CAST(c.neg AS INTEGER) AS neg_id
         FROM c
         WHERE c.neg <> c.src AND c.neg <> c.dst
           AND NOT EXISTS (SELECT 1 FROM e t
                           WHERE t.src = LEAST(c.src, c.neg)
                             AND t.dst = GREATEST(c.src, c.neg))"""),

    Contract("kg_random_walks", { implicit in =>
      // deterministic DeepWalk-style walk corpus over the co-mention
      // entity graph (id space; same hub-capped edge derivation as
      // kg_neg_samples): 4 steps, one walk per node — the graph-embedding
      // training sentences, exactly re-derivable in SQL (an RNG walker
      // never could be)
      val edges = Triangles.canonical(encPairs)
      graft.operators.RandomWalks.walks(edges, steps = 4)
    }, walkOracleSql(4) + "SELECT seed, step, node FROM walks"),

    Contract("kg_node2vec_walks", { implicit in =>
      // node2vec-biased walk corpus (Grover & Leskovec: p=0.5 favors
      // returns, q=2 favors staying near prev) over the SAME hub-capped
      // co-mention graph as kg_random_walks — the standard DeepWalk→
      // node2vec upgrade for KG embeddings; the oracle re-derives the
      // 3-case bias in unrolled SQL, and p=q=1 reproduces kg_random_walks
      // exactly (spec-locked)
      val edges = Triangles.canonical(encPairs)
      graft.operators.RandomWalks.node2vecWalks(edges, steps = 4, p = 0.5, q = 2.0)
    }, node2vecSql + "SELECT seed, step, node FROM walks"),

    Contract("kg_node2vec_skipgrams", { implicit in =>
      // the node2vec training corpus end-to-end: biased walks -> (center,
      // context) pair counts in a ±2 window — what actually feeds the
      // embedder; shares skipGrams with the DeepWalk path, the oracle
      // re-derives the biased walks then the window self-join
      val edges = Triangles.canonical(encPairs)
      graft.operators.RandomWalks.skipGrams(
        graft.operators.RandomWalks.node2vecWalks(edges, steps = 4, p = 0.5, q = 2.0),
        window = 2)
    }, node2vecSql + skipGramsSql),

    Contract("kg_fuzzy_link_indexed", { implicit in =>
      // the SAME resolution as kg_fuzzy_link, run against the STORED
      // deletion-key alias index (expansion paid once per dictionary,
      // candidate join consumes the bucketing exchange-free — spec-locked);
      // identical output, so the two queries share one oracle
      val aliases = PagesSynth.aliases(spark).toDF()
      val corrupted = aliases.select(col("alias_norm")).distinct()
        .filter(length(col("alias_norm")) >= 4)
        .select(expr(
          "concat(substr(alias_norm, 1, length(alias_norm) DIV 2 - 1), " +
            "substr(alias_norm, length(alias_norm) DIV 2 + 1))").as("surface"))
        .distinct()
      val table = "graft_fuzzy_alias_index"
      graft.util.Warehouse.dropTable(spark, table)
      graft.link.FuzzyLink.writeAliasIndex(aliases, table)
      graft.link.FuzzyLink.resolveIndexed(corrupted, aliases, table)
    }, fuzzyLinkSql),

    Contract("kg_fuzzy_link", { implicit in =>
      // typo-robust entity linking: every alias (len >= 4) corrupted by
      // deleting its middle character, then resolved back through SymSpell
      // deletion-neighborhood blocking + exact levenshtein verification
      // (equi-join blocking with recall 1.0 at distance 1 — property-locked
      // by FuzzyLinkSpec); top-1 per corrupted surface on the
      // (lev, prior DESC, iri, alias) total order
      val aliases = PagesSynth.aliases(spark).toDF()
      val corrupted = aliases.select(col("alias_norm")).distinct()
        .filter(length(col("alias_norm")) >= 4)
        .select(expr(
          "concat(substr(alias_norm, 1, length(alias_norm) DIV 2 - 1), " +
            "substr(alias_norm, length(alias_norm) DIV 2 + 1))").as("surface"))
        .distinct()
      graft.link.FuzzyLink.resolve(corrupted, aliases)
    }, fuzzyLinkSql),

    Contract("kg_link_prediction", { implicit in =>
      // missing-link candidates over the co-mention graph: top 50 non-edge
      // pairs by common-neighbor count (the KG-completion baseline) — the
      // wedge expansion reuses the hub-capped groupedPairs discipline, the
      // top-k plans as TakeOrderedAndProject
      // no call-site canonical: LinkPredict owns canonicalization (the
      // Triangles.count convention) — a second distinct() here would just
      // double the shuffle
      val edges = encPairs.select(col("src").cast("long"), col("dst").cast("long"))
      graft.operators.LinkPredict.commonNeighbors(edges, CoMentionHubCap, k = 50)
    }, (walkGraphHead +
      """, adj AS (SELECT src, dst FROM (
               SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
               FROM sym) WHERE rn <= 64),
            wedge AS (SELECT a.dst AS src, b.dst AS dst
                      FROM adj a JOIN adj b ON a.src = b.src AND a.dst < b.dst),
            cn AS (SELECT src, dst, COUNT(*) AS n_common FROM wedge GROUP BY 1, 2),
            cand AS (SELECT cn.src, cn.dst, cn.n_common
                     FROM cn LEFT JOIN e ON e.src = cn.src AND e.dst = cn.dst
                     WHERE e.src IS NULL)
         SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
                CAST(n_common AS BIGINT) AS n_common
         FROM cand ORDER BY n_common DESC, src, dst LIMIT 50""")),

    Contract("kg_sameas_canonical", { implicit in =>
      // entity canonicalization (the north rule's IRI-canonicalization
      // stage, cluster form): entities sharing a surface alias are
      // owl:sameAs candidates; the transitive closure (Dedup.components —
      // the shared min-label machinery) collapses each cluster onto its
      // lexicographically-least IRI. Only entities with at least one
      // sameAs peer appear (singletons already ARE canonical). Pair
      // expansion rides the hub-capped groupedPairs discipline, so one
      // pathological alias shared by 10^4 entities cannot quadratic-blow
      val pairs = Triangles.groupedPairs(
        PagesSynth.aliases(spark).toDF().select(col("alias_norm"), col("entity_iri")),
        "alias_norm", "entity_iri", CoMentionHubCap)
      graft.dedup.Dedup.components(pairs, "src", "dst")
        .select(col("id").as("entity_iri"), col("component").as("canonical"))
    }, """WITH RECURSIVE
         al AS (SELECT DISTINCT alias_norm, entity_iri
                FROM read_parquet('{OUT}/aux_aliases/*.parquet')),
         cap AS (SELECT alias_norm, entity_iri FROM (
                   SELECT alias_norm, entity_iri,
                          ROW_NUMBER() OVER (PARTITION BY alias_norm ORDER BY entity_iri) AS rn
                   FROM al) WHERE rn <= 64),
         p AS (SELECT DISTINCT a.entity_iri AS src, b.entity_iri AS dst
               FROM cap a JOIN cap b
                 ON a.alias_norm = b.alias_norm AND a.entity_iri < b.entity_iri),
         sym AS (SELECT src AS a, dst AS b FROM p UNION SELECT dst, src FROM p),
         r(x, y) AS (SELECT a, b FROM sym
                     UNION SELECT r.x, sym.b FROM r JOIN sym ON r.y = sym.a)
         SELECT x AS entity_iri, LEAST(x, MIN(y)) AS canonical FROM r GROUP BY x"""),

    Contract("kg_link_prediction_ra", { implicit in =>
      // resource-allocation variant (Zhou et al.): common neighbors
      // weighted 1/deg as the integer micro-weight 10^12 DIV deg —
      // low-degree bridges outrank hubs, arithmetic engine-exact
      val edges = encPairs.select(col("src").cast("long"), col("dst").cast("long"))
      graft.operators.LinkPredict.resourceAllocation(edges, CoMentionHubCap, k = 50)
    }, (walkGraphHead +
      """, deg AS (SELECT src AS z, COUNT(*) AS deg FROM sym GROUP BY 1),
            adj AS (SELECT src, dst FROM (
               SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
               FROM sym) WHERE rn <= 64),
            wedge AS (SELECT a.src AS z, a.dst AS u, b.dst AS v
                      FROM adj a JOIN adj b ON a.src = b.src AND a.dst < b.dst),
            ww AS (SELECT w.u, w.v, CAST(1000000000000 // d.deg AS BIGINT) AS wt
                   FROM wedge w JOIN deg d ON d.z = w.z),
            ra AS (SELECT u AS src, v AS dst, CAST(SUM(wt) AS BIGINT) AS ra_micro
                   FROM ww GROUP BY 1, 2),
            cand AS (SELECT ra.src, ra.dst, ra.ra_micro
                     FROM ra LEFT JOIN e ON e.src = ra.src AND e.dst = ra.dst
                     WHERE e.src IS NULL)
         SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, ra_micro
         FROM cand ORDER BY ra_micro DESC, src, dst LIMIT 50""")),

    Contract("kg_triple_split", { implicit in =>
      // KG-embedding eval protocol (the TransE-family standard): edges
      // split 80/10/10 by content digest, then valid/test edges with an
      // endpoint UNSEEN in train are dropped — a model cannot rank an
      // entity it never trained on, and leaving them in corrupts the metric
      val edges = Triangles.canonical(encPairs)
        .select(col("src").cast("long"), col("dst").cast("long"))
      val dg = md5(concat(col("src").cast("string"), lit(":"), col("dst").cast("string")))
      val withSplit = edges
        .withColumn("bkt",
          (ascii(substring(dg, 1, 1)) * 256 + ascii(substring(dg, 2, 1))) % 100)
        .withColumn("split",
          when(col("bkt") < 80, "train").when(col("bkt") < 90, "valid").otherwise("test"))
        .select("src", "dst", "split")
        .localCheckpoint() // referenced three times below
      val trainEnts = withSplit.filter(col("split") === "train")
        .select(explode(array(col("src"), col("dst"))).as("ent")).distinct()
      withSplit.filter(col("split") === "train").unionAll(
        withSplit.filter(col("split") =!= "train")
          .join(trainEnts.withColumnRenamed("ent", "src"), Seq("src"), "left_semi")
          .join(trainEnts.withColumnRenamed("ent", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst", "split"))
    }, (walkGraphHead +
      """, sp AS (SELECT src, dst,
                CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'valid'
                     ELSE 'test' END AS split
              FROM (SELECT src, dst,
                      (ascii(substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 1)) * 256
                       + ascii(substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 2, 1))) % 100 AS bkt
                    FROM e)),
            te AS (SELECT DISTINCT src AS ent FROM sp WHERE split = 'train'
                   UNION
                   SELECT DISTINCT dst AS ent FROM sp WHERE split = 'train')
         SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, split
         FROM sp
         WHERE split = 'train'
            OR (src IN (SELECT ent FROM te) AND dst IN (SELECT ent FROM te))""")),

    Contract("kg_mention_contexts", { implicit in =>
      import in.spark.implicits._
      // NER/entity-linking training-data extraction: a ±20-char context
      // window around every detected mention, emitted INLINE in the same
      // narrow detection pass (the text is already in hand — no join, no
      // shuffle ships the corpus); the oracle re-derives the windows by
      // joining the mention and text dumps
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, nPages))
      val bc = spark.sparkContext.broadcast(MentionDetect.buildDictionary(PagesSynth.aliasMap.keys))
      ext.mapPartitions { it =>
        val dict = bc.value
        it.flatMap { p =>
          // window arithmetic in CODE POINTS (the oracle's substr units) —
          // UTF-16 charAt windows would desync on any supplementary-plane
          // character, the exact bug class the BPE pair query fixed
          val total = p.text.codePointCount(0, p.text.length)
          MentionDetect.detect(p.url, p.text, dict).iterator.map { mn =>
            val cpS = p.text.codePointCount(0, mn.span_start)
            val cpE = cpS + p.text.codePointCount(mn.span_start, mn.span_end)
            val from = math.max(0, cpS - 20)
            val to = math.min(total, cpE + 20)
            (p.url, mn.span_start, p.text.substring(
              p.text.offsetByCodePoints(0, from), p.text.offsetByCodePoints(0, to)))
          }
        }
      }.toDF("url", "span_start", "context")
    }, """WITH m AS (SELECT url, span_start, cp_start, cp_end
                    FROM read_parquet('{OUT}/aux_mentions/*.parquet')),
              x AS (SELECT url, text FROM read_parquet('{OUT}/aux_extracted/*.parquet'))
         SELECT m.url, m.span_start,
                substr(x.text, greatest(0, m.cp_start - 20) + 1,
                       least(length(x.text), m.cp_end + 20)
                         - greatest(0, m.cp_start - 20)) AS context
         FROM m JOIN x USING (url)"""),

    Contract("kg_walk_skipgrams", { implicit in =>
      // the embedder's input: (center, context) pair counts within a
      // ±2-step window over the kg_random_walks corpus — one walk-keyed
      // self-join (≤ 5 rows per key) + one pair aggregation
      val edges = Triangles.canonical(encPairs)
      graft.operators.RandomWalks.skipGrams(
        graft.operators.RandomWalks.walks(edges, steps = 4), window = 2)
    }, walkOracleSql(4) + skipGramsSql),

    Contract("kg_heavy_entities", { implicit in =>
      // heavy entities per language: entities owning > 1/32 of their
      // language's mention stream. Sketch-prune + exact-verify: a
      // per-group Misra-Gries sketch (graft_heavy_hitters, k=64 — a
      // native TypedImperativeAggregate with bounded O(k) mergeable state,
      // partial-aggregated map-side) nominates candidates; its guarantee
      // (nothing above n/(k+1) = n/65 is ever dropped) makes the candidate
      // set a superset of the n/32 threshold, and one exact count over the
      // candidate-pruned stream makes the OUTPUT exact and
      // partition-invariant even though the sketch itself is neither. At
      // 100 TB the sketch pass replaces an exact full aggregation whose
      // per-group state is O(vocabulary).
      val n = nPages
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, n)).toDF().select("url", "lang")
      val links = KgPipeline.links(
        KgPipeline.extracted(PagesSynth.pages(spark, n)), PagesSynth.aliasMap)
        .toDF().select("url", "entity_iri")
      val stream = links.join(ext, "url").select("lang", "entity_iri").localCheckpoint()
      graft.functions.MisraGriesAgg.register(spark)
      val cands = stream.groupBy("lang")
        .agg(graft.functions.MisraGriesAgg.graft_heavy_hitters(col("entity_iri"), 64).as("sketch"))
        .select(col("lang"), explode(map_keys(col("sketch"))).as("entity_iri"))
      val totals = stream.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      stream.join(cands, Seq("lang", "entity_iri"))
        .groupBy("lang", "entity_iri").agg(count(lit(1)).as("n_mentions"))
        .join(totals, "lang")
        .filter(col("n_mentions") * 32 > col("n_lang"))
        .select("lang", "entity_iri", "n_mentions")
    }, """WITH s AS (SELECT e.lang, l.entity_iri
                    FROM read_parquet('{OUT}/aux_links/*.parquet') l
                    JOIN read_parquet('{OUT}/aux_extracted/*.parquet') e USING (url)),
              tot AS (SELECT lang, COUNT(*) AS n FROM s GROUP BY lang)
         SELECT s.lang, s.entity_iri, CAST(COUNT(*) AS BIGINT) AS n_mentions
         FROM s JOIN tot USING (lang)
         GROUP BY s.lang, s.entity_iri, tot.n
         HAVING COUNT(*) * 32 > tot.n"""),

    // P/R re-derived in DuckDB: distinct + three-way intersection join over
    // the produced-link and synthetic-gold dumps; both divisions are IEEE
    // double over exact counts on both engines
    Contract("kg_link_precision_recall", { implicit in =>
      import in.spark.implicits._
      val n = nPages
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, n))
      val produced = KgPipeline.links(ext, PagesSynth.aliasMap)
        .select(col("url"), col("surface"), col("entity_iri")).distinct()
      val gold = PagesSynth.golds(spark, n)
        .select(col("url"), col("surface"), col("entity_iri")).distinct()
      val tp = produced.intersect(gold).count().toDouble
      val p = if (produced.count() == 0) 1.0 else tp / produced.count()
      val r = if (gold.count() == 0) 1.0 else tp / gold.count()
      Seq((p, r)).toDF("precision", "recall")
    }, """WITH produced AS (SELECT DISTINCT url, surface, entity_iri
                           FROM read_parquet('{OUT}/aux_links/*.parquet')),
              gold AS (SELECT DISTINCT url, surface, entity_iri
                       FROM read_parquet('{OUT}/aux_golds/*.parquet')),
              tp AS (SELECT COUNT(*) AS c FROM produced JOIN gold
                     USING (url, surface, entity_iri)),
              np AS (SELECT COUNT(*) AS c FROM produced),
              ng AS (SELECT COUNT(*) AS c FROM gold)
         SELECT CASE WHEN np.c = 0 THEN CAST(1.0 AS DOUBLE)
                     ELSE CAST(tp.c AS DOUBLE) / np.c END AS precision,
                CASE WHEN ng.c = 0 THEN CAST(1.0 AS DOUBLE)
                     ELSE CAST(tp.c AS DOUBLE) / ng.c END AS recall
         FROM tp, np, ng"""),

    Contract("kg_merge_incremental", { implicit in =>
      // SCD-1 snapshot merge (the Iceberg MERGE INTO shape on the session-
      // catalog substitute): base snapshot + deterministic delta (every
      // 7th doc re-crawled with updated text) → latest version per key via
      // one shuffle on the key + a row_number window. The output contract
      // is the content DIGEST, so it is computed in the narrow pass BEFORE
      // the merge shuffle — only (key, digest, version) cross the exchange
      // (a merge whose consumers need the payload necessarily ships it;
      // this one doesn't, so it must not). At 100 TB the same plan
      // merge-on-reads against the base's bucketed layout.
      val docs = t("documents")
      val base = docs.select(col("doc_id"), md5(col("text")).as("text_md5"), lit(1L).as("version"))
      val delta = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), md5(concat(col("text"), lit(" v2"))).as("text_md5"), lit(2L).as("version"))
      val w = Window.partitionBy("doc_id").orderBy(desc("version"))
      base.unionByName(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("text_md5"), col("version"))
    }, """WITH u AS (
           SELECT doc_id, text, 1 AS version FROM documents
           UNION ALL
           SELECT doc_id, text || ' v2' AS text, 2 AS version FROM documents WHERE doc_id % 7 = 0),
         r AS (SELECT doc_id, md5(text) AS text_md5, CAST(version AS BIGINT) AS version,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
               FROM u)
         SELECT doc_id, text_md5, version FROM r WHERE rn = 1"""),

    Contract("kg_property_table", { implicit in =>
      // the classic RDF PROPERTY-TABLE materialization (Abadi's SW-Store /
      // Sempala-on-Spark shape): pivot the vertical (subj, pred, obj) layout
      // into one wide row per subject — single-valued predicates as columns,
      // the multi-valued web:mentions as a count. A star query that would
      // need one self-join per predicate on the triple table becomes a
      // single scan here; the pivot itself is ONE hash aggregation
      // (map-side partials, conditional aggregates — no join, no explode),
      // which is the property-table build you'd actually run at 10^12
      // triples before serving entity-centric queries
      val n = nPages
      KgPipeline.encodedTriples(spark, n).toDF()
        .groupBy("page_id")
        .agg(
          max(when(col("pred_id") === KgPipeline.PredLang, col("lit"))).as("lang_id"),
          max(when(col("pred_id") === KgPipeline.PredWarcTs, col("lit"))).as("warc_ts_ms"),
          max(when(col("pred_id") === KgPipeline.PredNChars, col("lit"))).as("n_chars"),
          sum(when(col("pred_id") === KgPipeline.PredMentions, 1L).otherwise(0L)).as("n_mentions"))
    }, """SELECT page_id,
                MAX(CASE WHEN pred_id = 1 THEN lit END) AS lang_id,
                MAX(CASE WHEN pred_id = 2 THEN lit END) AS warc_ts_ms,
                MAX(CASE WHEN pred_id = 3 THEN lit END) AS n_chars,
                CAST(SUM(CASE WHEN pred_id = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_mentions
         FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
         GROUP BY 1"""),

    Contract("kg_void_stats", { implicit in =>
      // VoID dataset statistics (the W3C dataset-descriptor vocabulary):
      // per predicate, triple count + distinct subjects + distinct objects —
      // exactly the cardinalities a SPARQL/join optimizer feeds its cost
      // model. One pass, one aggregation; the two COUNT(DISTINCT)s share a
      // single Expand-based aggregate rather than two self-joins. The
      // object key is predicate-dependent (mentions → entity id, literal
      // predicates → the literal), mirroring decodeColumns' object rule
      val n = nPages
      KgPipeline.encodedTriples(spark, n).toDF()
        .withColumn("obj_key",
          when(col("pred_id") === KgPipeline.PredMentions, col("ent_id").cast("long"))
            .otherwise(col("lit")))
        .groupBy("pred_id")
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("page_id")).as("n_subjects"),
          countDistinct(col("obj_key")).as("n_objects"))
    }, """SELECT pred_id,
                CAST(COUNT(*) AS BIGINT) AS n_triples,
                CAST(COUNT(DISTINCT page_id) AS BIGINT) AS n_subjects,
                CAST(COUNT(DISTINCT CASE WHEN pred_id = 4 THEN CAST(ent_id AS BIGINT)
                                         ELSE lit END) AS BIGINT) AS n_objects
         FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
         GROUP BY 1"""),

    Contract("kg_comention_lift", { implicit in =>
      // association strength between co-mentioned entities: integer-micro
      // LIFT (= PMI without the log, rank-equivalent per fixed corpus):
      // lift = P(a,b) / (P(a) P(b)) over pages, computed as
      // ((n_pair * 10^6) DIV deg_a) * n_pages DIV deg_b — integer DIV only,
      // so the engine and the oracle agree bit-for-bit (at real corpus
      // scale you'd compute the log-space double; the integer form exists
      // for exact cross-engine comparison and keeps the same ranking).
      // All three statistics derive from ONE shared hub-capped mention
      // list (Triangles.cappedMembers — the same cap every co-mention
      // operator uses), localCheckpointed because it feeds three branches
      val l = Triangles.cappedMembers(encMentions, "page_id", "ent_id", CoMentionHubCap)
        .localCheckpoint()
      val pairs = l.as("a").join(l.as("b"),
          col("a.page_id") === col("b.page_id") && col("a.ent_id") < col("b.ent_id"))
        .groupBy(col("a.ent_id").as("src"), col("b.ent_id").as("dst"))
        .agg(count(lit(1)).as("n_pair"))
      val deg = l.groupBy("ent_id").agg(count(lit(1)).as("deg"))
      // the 1-row page total joins on a constant key: an EQUI join, so it
      // plans as a BroadcastHashJoin and the contract-wide no-cross-join
      // plan guard stays intact (a bare crossJoin — or a foldable lit(1)
      // key, which Catalyst constant-folds out of the condition — would
      // plan BroadcastNestedLoopJoin even for one row, and non-nullable
      // arithmetic like n*0 folds too; pmod(n, 1) has no folding rule)
      val total = l.agg(countDistinct(col("page_id")).as("n_pages"))
        .withColumn("__one", pmod(col("n_pages"), lit(1L)).cast("int"))
      pairs
        .join(deg.select(col("ent_id").as("src"), col("deg").as("sdeg")), "src")
        .join(deg.select(col("ent_id").as("dst"), col("deg").as("ddeg")), "dst")
        .withColumn("__one", pmod(col("n_pair"), lit(1L)).cast("int"))
        .join(broadcast(total), "__one")
        .withColumn("lift_micro", expr("((n_pair * 1000000) DIV sdeg) * n_pages DIV ddeg"))
        .orderBy(desc("lift_micro"), asc("src"), asc("dst"))
        .limit(50)
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
          col("n_pair"), col("lift_micro"))
    }, s"""WITH $cappedMentionsSql,
              p AS (SELECT a.ent_id AS src, b.ent_id AS dst, CAST(COUNT(*) AS BIGINT) AS n_pair
                    FROM l a JOIN l b ON a.page_id = b.page_id AND a.ent_id < b.ent_id
                    GROUP BY 1, 2),
              d AS (SELECT ent_id, CAST(COUNT(*) AS BIGINT) AS deg FROM l GROUP BY 1),
              tot AS (SELECT CAST(COUNT(DISTINCT page_id) AS BIGINT) AS n_pages FROM l),
              sc AS (SELECT p.src, p.dst, p.n_pair,
                            ((p.n_pair * 1000000) // ds.deg) * tot.n_pages // dd.deg AS lift_micro
                     FROM p JOIN d ds ON ds.ent_id = p.src
                            JOIN d dd ON dd.ent_id = p.dst, tot)
         SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, n_pair,
                CAST(lift_micro AS BIGINT) AS lift_micro
         FROM sc ORDER BY lift_micro DESC, src, dst LIMIT 50"""),

    Contract("kg_bgp_star", { implicit in =>
      // SPARQL basic graph pattern, star shape with a constant-object
      // filter: ?page web:lang "en" . ?page web:mentions ?ent — compiled
      // by Bgp.solve into one filtered scan per pattern + one equi-join
      // on the shared ?page variable (strategy left to AQE). The BGP is
      // THE RDF query primitive; this is the declarative corpus-scale
      // form of the reference engine's per-document lookups
      val tr = bgpTriples()
      graft.operators.Bgp.solve(tr, Seq(
          graft.operators.Bgp.Pattern("?page", V.WebLang, "en"),
          graft.operators.Bgp.Pattern("?page", V.WebMentions, "?ent")))
        .groupBy("ent").agg(countDistinct(col("page")).as("n_pages"))
    }, """WITH enc AS (SELECT * FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')),
              en AS (SELECT page_id FROM enc WHERE pred_id = 1 AND lit = 0),
              m AS (SELECT page_id, ent_id FROM enc WHERE pred_id = 4)
         SELECT 'ent:e' || ent_id AS ent,
                CAST(COUNT(DISTINCT m.page_id) AS BIGINT) AS n_pages
         FROM m JOIN en USING (page_id)
         GROUP BY 1"""),

    Contract("kg_bgp_chain", { implicit in =>
      // BGP chain across two triple sources: ?page web:mentions ?ent .
      // ?ent rdf:name ?name — the object of one pattern joins the SUBJECT
      // of the next (page triples chain into ontology triples), bag
      // semantics preserved (a page mentioning an entity twice contributes
      // two bindings, SPARQL's default)
      val tr = bgpTriples(withOntology = true)
      graft.operators.Bgp.solve(tr, Seq(
          graft.operators.Bgp.Pattern("?page", V.WebMentions, "?ent"),
          graft.operators.Bgp.Pattern("?ent", V.RdfName, "?name")))
        .groupBy("name").agg(count(lit(1)).as("n_mentions"))
    }, """WITH m AS (SELECT ent_id FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
                    WHERE pred_id = 4),
              e AS (SELECT ent_id, name FROM read_parquet('{OUT}/aux_entities/*.parquet'))
         SELECT e.name, CAST(COUNT(*) AS BIGINT) AS n_mentions
         FROM m JOIN e USING (ent_id)
         GROUP BY 1"""),

    Contract("kg_bgp_optional", { implicit in =>
      // SPARQL OPTIONAL: ?page web:lang ?l . OPTIONAL { ?page web:mentions
      // ?ent } — pages with no mentions survive with a null ?ent (a plain
      // BGP would drop them); rolled up per language into total pages and
      // mention-less pages. The optional group compiles to ONE left
      // equi-join on the shared ?page variable
      val tr = bgpTriples()
      graft.operators.Bgp.solveOptional(tr,
          Seq(graft.operators.Bgp.Pattern("?page", V.WebLang, "?l")),
          Seq(Seq(graft.operators.Bgp.Pattern("?page", V.WebMentions, "?ent"))))
        .groupBy(col("l").as("lang"))
        .agg(countDistinct(col("page")).as("n_pages"),
          countDistinct(when(col("ent").isNull, col("page"))).as("n_no_mentions"))
    }, """WITH enc AS (SELECT * FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')),
              lp AS (SELECT page_id,
                            CASE lit WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
                                     WHEN 3 THEN 'es' ELSE 'nl' END AS lang
                     FROM enc WHERE pred_id = 1),
              m AS (SELECT DISTINCT page_id FROM enc WHERE pred_id = 4)
         SELECT lp.lang, CAST(COUNT(DISTINCT lp.page_id) AS BIGINT) AS n_pages,
                CAST(COUNT(DISTINCT CASE WHEN m.page_id IS NULL
                                         THEN lp.page_id END) AS BIGINT) AS n_no_mentions
         FROM lp LEFT JOIN m USING (page_id)
         GROUP BY 1"""),

    Contract("kg_bgp_construct", { implicit in =>
      // SPARQL CONSTRUCT as a rule engine: CONSTRUCT { ?a web:coMentioned
      // ?b } WHERE { ?p web:mentions ?a . ?p web:mentions ?b, ?a < ?b } —
      // premise bindings from the BGP, conclusion triples from the
      // template, distinct at materialization (the rule's closure). The
      // synthetic corpus's per-page mention lists are bounded (~4), so the
      // page-keyed self-join is safe uncapped here; a corpus with
      // link-farm pages routes through the hub-capped co-mention
      // derivations instead (CoMentionHubCap)
      val tr = bgpTriples()
      val premise = graft.operators.Bgp.solve(tr, Seq(
          graft.operators.Bgp.Pattern("?p", V.WebMentions, "?a"),
          graft.operators.Bgp.Pattern("?p", V.WebMentions, "?b")))
        .filter(col("a") < col("b"))
      graft.operators.Bgp.construct(premise, Seq(
          graft.operators.Bgp.Pattern("?a", "web:coMentioned", "?b")))
        .distinct()
    }, """WITH m AS (SELECT DISTINCT page_id, 'ent:e' || ent_id AS ent
                    FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
                    WHERE pred_id = 4)
         SELECT DISTINCT a.ent AS subj, 'web:coMentioned' AS pred, b.ent AS obj
         FROM m a JOIN m b ON a.page_id = b.page_id AND a.ent < b.ent"""),

    Contract("kg_bgp_minus", { implicit in =>
      // SPARQL MINUS: ?page web:mentions ?ent MINUS { ?page web:lang "en" }
      // — mention bindings on non-English pages only, via one left-anti
      // join on the shared ?page variable; rolled up per entity
      val tr = bgpTriples()
      graft.operators.Bgp.solveMinus(tr,
          Seq(graft.operators.Bgp.Pattern("?page", V.WebMentions, "?ent")),
          Seq(graft.operators.Bgp.Pattern("?page", V.WebLang, "en")))
        .groupBy("ent").agg(countDistinct(col("page")).as("n_pages"))
    }, """WITH enc AS (SELECT * FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')),
              en AS (SELECT page_id FROM enc WHERE pred_id = 1 AND lit = 0),
              m AS (SELECT page_id, ent_id FROM enc WHERE pred_id = 4)
         SELECT 'ent:e' || ent_id AS ent,
                CAST(COUNT(DISTINCT page_id) AS BIGINT) AS n_pages
         FROM m
         WHERE page_id NOT IN (SELECT page_id FROM en)
         GROUP BY 1"""),

    Contract("kg_forget_subjects", { implicit in =>
      import in.spark.implicits._
      // right-to-be-forgotten propagation: materialize the graph as a
      // snapshotted table, FORGET every 10th page's url (a takedown batch,
      // shipped as a Dataset — never a driver list), read the new current
      // snapshot back. The delete is a versioned commit: older snapshots
      // still hold the rows until retention expires them (erasure =
      // forget + expire); the read applies the takedown as one left-anti
      // join on the subject key
      val n = nPages
      val sink = new graft.pipeline.GraphSink.Snapshotted
      val out = freshTmpDir(s"graft_forget_${new java.io.File(in.dir).getName}")
      // one file per core, not per synthesized page range (see kg_cdc_changes)
      sink.write(KgPipeline.decodeTriples(KgPipeline.encodedTriples(spark, n), n)
        .coalesce(spark.sparkContext.defaultParallelism), out)
      val takedown = spark.range(0, n).filter(col("id") % 10 === 0)
        .map(i => PagesSynth.urlAt(i, n))
      sink.forget(spark, out, takedown)
      sink.read(spark, out).groupBy("pred").agg(count(lit(1)).as("n_triples"))
    }, """SELECT CASE pred_id WHEN 0 THEN 'rdf:type' WHEN 1 THEN 'web:lang'
                             WHEN 2 THEN 'web:warc_ts' WHEN 3 THEN 'web:n_chars'
                             ELSE 'web:mentions' END AS pred,
                CAST(COUNT(*) AS BIGINT) AS n_triples
         FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
         WHERE page_id % 10 <> 0
         GROUP BY 1"""),

    Contract("kg_nquads_roundtrip", { implicit in =>
      // N-Quads interchange with provenance named graphs: every decoded
      // triple labeled with its crawl segment (graft:seg_<page_id DIV
      // 1000>), serialized to N-Quads text, read BACK through the lenient
      // parser, counted per graph — the sink must be lossless including
      // the graph term, and the per-graph counts must equal the encoded
      // table's per-segment counts. The named graph is the lineage unit:
      // any triple traces to exactly one ingest segment, so one bad crawl
      // segment can be dropped/reprocessed without touching the rest
      val n = nPages
      val quads = KgPipeline.decodeQuads(KgPipeline.encodedTriples(spark, n), n)
      val out = freshTmpDir(s"graft_nquads_${new java.io.File(in.dir).getName}")
      graft.pipeline.NTriples.Quads.write(quads, out)
      graft.pipeline.NTriples.Quads.read(spark, out)
        .groupBy("graph").agg(count(lit(1)).as("n_triples"))
    }, """SELECT 'graft:seg_' || CAST(page_id // 1000 AS VARCHAR) AS graph,
                CAST(COUNT(*) AS BIGINT) AS n_triples
         FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
         GROUP BY 1"""),

    Contract("kg_mention_reified", { implicit in =>
      import in.spark.implicits._
      // RDF reification of mention provenance (the standard rdf:Statement
      // vocabulary): each web:mentions triple becomes a statement node
      // carrying subject/predicate/object plus the span literals — the
      // per-triple lineage record, with DETERMINISTIC statement IRIs
      // (page_id + span), never blank nodes, so re-runs mint identical
      // statements (the reference's blank-node-free discipline,
      // RDF.cityJSON's stable-IRI rule applied to provenance). Narrow
      // 6-way flatMap in the same pass that reads the encoded row — no
      // join, no shuffle
      val n = nPages
      KgPipeline.encodedTriples(spark, n)
        .filter(_.pred_id == KgPipeline.PredMentions)
        .mapPartitions(_.flatMap { t =>
          val url = PagesSynth.urlAt(t.page_id, n)
          val s0 = t.lit >>> 32; val s1 = t.lit & 0xffffffffL
          val stmt = s"graft:stmt_${t.page_id}_${s0}_${s1}"
          Iterator(
            (stmt, "rdf:type", "rdf:Statement"),
            (stmt, "rdf:subject", url),
            (stmt, "rdf:predicate", "web:mentions"),
            (stmt, "rdf:object", PagesSynth.entityIri(t.ent_id)),
            (stmt, "web:spanStart", s0.toString),
            (stmt, "web:spanEnd", s1.toString))
        }).toDF("stmt", "pred", "obj")
    }, """WITH m AS (SELECT page_id, ent_id,
                           lit // 4294967296 AS s0, lit % 4294967296 AS s1
                    FROM read_parquet('{OUT}/aux_enc_triples/*.parquet')
                    WHERE pred_id = 4),
              d AS (SELECT page_id, url FROM read_parquet('{OUT}/aux_page_ids/*.parquet')),
              b AS (SELECT 'graft:stmt_' || page_id || '_' || s0 || '_' || s1 AS stmt,
                           page_id, ent_id, s0, s1 FROM m)
         SELECT stmt, pred, obj FROM (
           SELECT stmt, 'rdf:type' AS pred, 'rdf:Statement' AS obj FROM b
           UNION ALL SELECT stmt, 'rdf:subject', d.url FROM b JOIN d USING (page_id)
           UNION ALL SELECT stmt, 'rdf:predicate', 'web:mentions' FROM b
           UNION ALL SELECT stmt, 'rdf:object', 'ent:e' || ent_id FROM b
           UNION ALL SELECT stmt, 'web:spanStart', CAST(s0 AS VARCHAR) FROM b
           UNION ALL SELECT stmt, 'web:spanEnd', CAST(s1 AS VARCHAR) FROM b)""")
  )

  override val aux: Seq[Aux] = Seq(

    // link-join inputs: mention stream + alias index (kg_* oracles)
    Aux("aux_mentions", { implicit in =>
      import in.spark.implicits._
      val ext = KgPipeline.extracted(PagesSynth.pages(spark, nPages))
      val bc = spark.sparkContext.broadcast(MentionDetect.buildDictionary(PagesSynth.aliasMap.keys))
      // span_start/span_end are UTF-16 offsets (the detector's native
      // units); cp_start/cp_end are the same spans in CODE POINTS, computed
      // here while the text is in hand — the units DuckDB's substr speaks,
      // so context-window oracles stay exact on supplementary-plane text
      ext.mapPartitions(_.flatMap { p =>
        MentionDetect.detect(p.url, p.text, bc.value).iterator.map { mn =>
          val cpS = p.text.codePointCount(0, mn.span_start)
          val cpE = cpS + p.text.codePointCount(mn.span_start, mn.span_end)
          (mn.url, mn.span_start, mn.span_end, mn.surface, mn.alias_norm, cpS, cpE)
        }
      }).toDF("url", "span_start", "span_end", "surface", "alias_norm", "cp_start", "cp_end")
    }),

    Aux("aux_aliases", { implicit in => PagesSynth.aliases(spark).toDF() }),

    // page fingerprints straight from the synthesized corpus (the
    // kg_warc_roundtrip oracle's independent side — no Warc code involved)
    Aux("aux_pages", { implicit in =>
      PagesSynth.pages(spark, nPages).toDF()
        .select(col("url"), unix_micros(col("warc_ts")).as("ts_us"),
          md5(col("html")).as("html_md5"))
    }),

    // the dictionary-encoded triple stream (kg_encoded_degree's oracle
    // re-aggregates it in DuckDB — integer columns end to end)
    Aux("aux_enc_triples", { implicit in => KgPipeline.encodedTriples(spark, nPages).toDF() }),

    // entity dictionary with canonical names (the rdf:name ontology
    // literals) for the BGP-chain oracle
    Aux("aux_entities", { implicit in =>
      import in.spark.implicits._
      spark.range(0, PagesSynth.NumEntities.toLong)
        .mapPartitions(_.map(i =>
          (i.toInt, PagesSynth.entityIri(i.toInt), PagesSynth.canonicalAlias(i.toInt))))
        .toDF("ent_id", "iri", "name")
    }),

    // page dictionary (page_id -> url): lets oracles re-derive any
    // page_id-keyed result in terms of the string-world subjects (the ONE
    // definition the encoded table's sidecar also writes)
    Aux("aux_page_ids", { implicit in => PagesSynth.pageDict(spark, nPages) }),

    // per-stage outputs whose CARDINALITIES the kg_triples_by_pred oracle
    // recomputes against the emission contract
    Aux("aux_extracted", { implicit in =>
      KgPipeline.extracted(PagesSynth.pages(spark, nPages))
        .toDF().select(col("url"), col("lang"), col("extract_ok"), col("text"))
    }),

    Aux("aux_links", { implicit in =>
      KgPipeline.links(
        KgPipeline.extracted(PagesSynth.pages(spark, nPages)),
        PagesSynth.aliasMap).toDF().select(col("url"), col("surface"), col("entity_iri"))
    }),

    // synthetic ground-truth links (kg_link_precision_recall oracle re-derives
    // P/R from this dump + aux_links entirely inside DuckDB)
    Aux("aux_golds", { implicit in =>
      PagesSynth.golds(spark, nPages)
        .toDF().select(col("url"), col("surface"), col("entity_iri"))
    })
  )
}
