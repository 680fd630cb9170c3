package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.contract._
import graft.pipeline.KgPipeline
import graft.synth.PagesSynth

/** Driver contract index: one [[graft.contract.Contract]] per implemented
  * operator (SURVEY.md §2 + the training-data ops), each a Spark build
  * beside the DuckDB SQL that re-derives it, kept in one file per query
  * family (`graft.contract.*Contracts`). The maps below are derived from
  * the families, keyed by query and dump name, for Verify, Bench, Probe
  * and the specs. */
object SparkEntry {

  val families: Seq[Family] = Seq(
    KgContracts, DocContracts, EvContracts, QContracts, EmbContracts, MmContracts, CjContracts)

  val contracts: Seq[Contract] = families.flatMap(_.contracts)
  val auxes: Seq[Aux] = families.flatMap(_.aux)

  private def run(build: Inputs => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => build(Inputs(spark, dir))

  /** query name -> build over (session, scale directory) */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    contracts.map(c => c.name -> run(c.build)).toMap

  /** query name -> DuckDB oracle SQL (`{OUT}` and `{SF}` are substituted
    * by Verify) */
  val oracleSql: Map[String, String] = contracts.map(c => c.name -> c.oracle).toMap

  /** aux dump name -> build: the inputs the oracles re-derive from */
  val auxDumps: Map[String, (SparkSession, String) => DataFrame] =
    auxes.map(a => a.name -> run(a.build)).toMap

  /** Flagship: the full web-text KG pipeline on the sf0.001-scaled corpus. */
  def entry(spark: SparkSession): DataFrame =
    KgPipeline.triples(spark, PagesSynth.pageCount("sf0.001")).toDF()
}
