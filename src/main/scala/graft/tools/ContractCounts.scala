package graft.tools

/** Prints the driver-contract sizes straight from SparkEntry (the single
  * source of truth) — consumed by tools/update_counts.sh so README numbers
  * are generated, never hand-maintained (they drifted once). */
object ContractCounts {
  def main(args: Array[String]): Unit = {
    val queries = graft.SparkEntry.queries.size
    val oracles = graft.SparkEntry.oracleSql.size
    println(s"""{"contract_counts":true,"queries":$queries,"oracles":$oracles,"aux_dumps":${graft.SparkEntry.auxDumps.size}}""")
  }
}
