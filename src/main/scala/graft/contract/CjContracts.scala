package graft.contract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cj.CityJsonSource

/** CityJSON reference semantics, distributed: the corpus named by
  * `spark.graft.cj.corpus`, read through the `cityjson` source. The
  * oracles read the checked-in goldens. */
object CjContracts extends Family {

  /** the corpus through the `cityjson` source, as its `output` rows:
    * triples, logs or docs */
  private def cj(output: String)(implicit in: Inputs): DataFrame =
    spark.read.format("cityjson").option("output", output)
      .load(CityJsonSource.corpusDir(spark))

  private def cjTriplesByPred(implicit in: Inputs): DataFrame =
    cj("triples").groupBy("pred").agg(count(lit(1)).as("n_triples"))

  private val triplesByPredSql =
    s"""SELECT pred, COUNT(*) AS n_triples
         FROM read_ndjson_auto('$GoldenDir/*.triples.ndjson')
         GROUP BY pred"""

  val contracts: Seq[Contract] = Seq(

    Contract("cj_triples_by_pred", { implicit in => cjTriplesByPred }, triplesByPredSql),

    // the same read, kept as its own contract query with the same oracle
    Contract("cj_triples_by_pred_dsv2", { implicit in => cjTriplesByPred }, triplesByPredSql),

    Contract("cj_doc_stats", { implicit in => cj("docs") },
      raw"""SELECT 'cj:' || fixture AS doc_iri, CAST(triples AS BIGINT) AS n_triples,
              CAST(error_logs AS BIGINT) AS n_errors, FALSE AS failed
         FROM read_csv('$GoldenDir/SUMMARY.tsv', delim='\t', header=true)"""),

    Contract("cj_log_categories", { implicit in =>
      // the CLI's per-category log dedup (Main.cpp:63-65) as a relational op
      // dedup on (level, category) — matches the oracle's DISTINCT exactly;
      // a category-only dedup would keep a nondeterministic level if a
      // category string ever appeared at two levels
      cj("logs")
        .dropDuplicates("level", "category")
        .groupBy("level").agg(count(lit(1)).as("n_categories"))
    }, raw"""SELECT level, COUNT(*) AS n_categories FROM (
           SELECT DISTINCT level, category
           FROM read_csv('$GoldenDir/*.logs.tsv', delim='\t', header=true, quote=''))
         GROUP BY level""")
  )
}
