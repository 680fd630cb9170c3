package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.synth.PagesSynth

/** What a contract build reads: the session and the scale directory. */
final case class Inputs(spark: SparkSession, dir: String) {
  /** the scale's `name` table */
  def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
}

/** One contract query: its Spark build and the DuckDB SQL that
  * re-derives its result. Column names and types are aligned on both
  * sides (the checker hash-compares values after sorting columns by name);
  * money sums go through exact cents (bigint).
  *
  * Three oracle families beyond plain ANSI rewrites:
  *  - `{OUT}/aux_*` parquet (written by Verify from the [[Aux]] dumps): the
  *    oracle re-derives a distributed join/agg from its dumped inputs.
  *  - `golden/...`: checked-in golden fixtures (emitter regression
  *    locks, loaded into DuckDB).
  *  - `golden/frozen/{SF}/...` ([[Family.frozenSql]]): frozen expected
  *    outputs of non-SQL-expressible pure functions (generated once by
  *    `graft.tools.GenFrozen`, reviewed, committed — a drift lock).
  * Verify substitutes `{OUT}` with its output directory and `{SF}` with the
  * scale directory's name. */
final case class Contract(name: String, build: Inputs => DataFrame, oracle: String)

/** An auxiliary input dump written by Verify beside the query results, so
  * oracles can RECOMPUTE a distributed op in DuckDB from its inputs. The
  * dumped values themselves are frozen-function outputs already locked by
  * specs (TextOps/MentionDetect); the oracle independently re-derives the
  * JOIN/AGGREGATION/THRESHOLD logic on top. */
final case class Aux(name: String, build: Inputs => DataFrame)

/** One query family: its contracts, the aux dumps its oracles read, and
  * what every build gets from its implicit [[Inputs]]. */
trait Family {
  def contracts: Seq[Contract]
  def aux: Seq[Aux] = Nil

  protected implicit def spark(implicit in: Inputs): SparkSession = in.spark
  protected def t(name: String)(implicit in: Inputs): DataFrame = in.t(name)

  /** The checked-in goldens as an absolute path, since the oracle SQL runs
    * outside this JVM: `golden` under the working directory, which is the
    * repository root, as for `GenGolden` and `GenFrozen`. */
  protected val GoldenDir: String = new java.io.File("golden").getAbsolutePath

  /** The oracle of a pure function DuckDB cannot express: its frozen
    * expected output, `golden/frozen/<dir>/<query>.parquet` (`dir` is
    * `{SF}` for the sweep's scale, `common` for scale-free inputs). */
  protected def frozenSql(dir: String, query: String): String =
    s"SELECT * FROM read_parquet('$GoldenDir/frozen/$dir/$query.parquet')"

  /** the synthesized web corpus's page count at this scale */
  protected def nPages(implicit in: Inputs): Long = PagesSynth.pageCount(in.dir)

  /** Fixed scratch path under /tmp, cleared before reuse: contract queries
    * that materialize a table write to ONE deterministic location per
    * scale — repeated Verify runs replace it instead of accumulating a
    * fresh createTempDirectory copy per invocation. */
  protected def freshTmpDir(name: String): String = {
    val loc = new java.io.File("/tmp", name)
    if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    loc.toString
  }
}
