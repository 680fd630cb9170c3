package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Link, Mention}

/** Entity-link scoring against the alias index.
  *
  * Two equivalent paths:
  *
  *  - [[resolve]]: the narrow fast path used by the pipeline. All candidates
  *    for a mention share its alias key, so top-1 selection is local — the
  *    broadcast map carries candidates pre-sorted best-first and the winner
  *    is `head`. Zero shuffles.
  *
  *  - [[linkRelational]]: the declarative equivalent (broadcast hash join +
  *    max_by), exposed through SparkEntry for the DuckDB oracle and for
  *    plans where the alias index outgrows a local map. Deterministic
  *    tie-break on (prior desc, entity_iri asc).
  *
  * Contract: both paths emit one output row per INPUT MENTION ROW (no
  * dedup) — callers own span uniqueness. MentionDetect's greedy
  * non-overlapping scan emits unique (url, span) rows by construction
  * (locked by `MentionDetectSpec`), so the two paths stay equivalent.
  */
object Linker {

  def resolve(mention: Mention, aliasMap: Map[String, Vector[(String, Double)]]): Option[Link] =
    Option(best(mention.alias_norm, aliasMap)).map { case (iri, prior) =>
      Link(mention.url, mention.span_start, mention.span_end, mention.surface, iri, prior)
    }

  /** the top-1 (entity_iri, prior) for an alias key, or null if it has none */
  def best(aliasNorm: String, aliasMap: Map[String, Vector[(String, Double)]]): (String, Double) =
    aliasMap.getOrElse(aliasNorm, null) match { case null => null; case c => c.head }

  def linkRelational(mentions: Dataset[Mention], aliases: DataFrame): DataFrame = {
    // Score is mention-independent (prior), so top-1 per mention == top-1 per
    // alias: reduce the SMALL side first (O(|aliases|)) instead of a per-
    // mention aggregation — min_by over struct keys plans as SortAggregate,
    // which would sort-shuffle the whole mention stream. After the reduction
    // the join strategy is deliberately left to the optimizer: at dictionary
    // scale AQE picks broadcast (locked by `LinkerPlanSpec`), and at a
    // web-scale alias table (10^8+ rows) it degrades to a shuffle join
    // instead of a forced-broadcast driver OOM.
    // (With context-dependent scores the per-mention agg returns; keep it
    // two-phase partial/final and off the struct-key path in that case.)
    val best = aliases
      .groupBy("alias_norm")
      .agg(min_by(
        struct(col("entity_iri"), col("prior")),
        struct((col("prior") * -1).as("negPrior"), col("entity_iri"))).as("best"))
      .select(col("alias_norm"),
        col("best.entity_iri").as("entity_iri"), col("best.prior").as("score"))
    mentions.join(best, "alias_norm")
      .select(
        col("url"), col("span_start"), col("span_end"), col("surface"),
        col("entity_iri"), col("score"))
  }
}
