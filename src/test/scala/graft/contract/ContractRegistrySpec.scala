package graft.contract

import org.scalatest.funsuite.AnyFunSuite
import graft.{Bench, SparkEntry}

/** The contract registry's shape, hermetic: reads the families and the
  * derived maps only, and runs no Spark job. */
class ContractRegistrySpec extends AnyFunSuite {

  private val queryNames = SparkEntry.contracts.map(_.name)
  private val auxNames = SparkEntry.auxes.map(_.name)

  private def dups(names: Seq[String]): Seq[String] =
    names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }.toSeq.sorted

  test("query and aux names are unique across all families") {
    // a duplicate would silently collapse in the derived maps, and Verify
    // dumps queries and aux inputs into one directory
    assert(dups(queryNames).isEmpty)
    assert(dups(auxNames).isEmpty)
    assert(dups(queryNames ++ auxNames).isEmpty)
  }

  test("the contract holds 135 queries, 135 oracles and 17 aux dumps") {
    assert(queryNames.size === 135)
    assert(SparkEntry.queries.size === 135)
    assert(SparkEntry.oracleSql.size === 135)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.auxDumps.size === 17)
    assert(SparkEntry.contracts.forall(_.oracle.trim.nonEmpty))
  }

  test("every aux dump an oracle reads is registered, and every aux dump is read") {
    val read = SparkEntry.oracleSql.values
      .flatMap(sql => """\{OUT\}/(aux_[a-z0-9_]+)/""".r.findAllMatchIn(sql).map(_.group(1)))
      .toSet
    assert(read.nonEmpty)
    assert((read -- auxNames).isEmpty, s"oracles read unregistered dumps: ${read -- auxNames}")
    assert((auxNames.toSet -- read).isEmpty, s"dumps no oracle reads: ${auxNames.toSet -- read}")
  }

  test("every benched query is registered") {
    assert(Bench.benchQueries.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
