package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level contract: the driver's correctness gate only checks
  * queries that ship an oracle, so a query silently missing its oracleSql
  * entry would pass every round unverified. Pin the invariant: every
  * `queries` name has an oracle (the rows-only allowlist is currently
  * EMPTY — grow it only with a documented reason), and every oracle names
  * a real query (no orphans after a rename).
  */
class SparkEntrySpec extends AnyFunSuite {

  /** Queries intentionally without a DuckDB oracle (driver records a weaker
    * rows-only check). Empty by policy since round 5.
    */
  private val rowsOnlyAllowed: Set[String] = Set.empty

  test("every query ships a DuckDB oracle (or is explicitly rows-only)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val unoracled = q -- o -- rowsOnlyAllowed
    assert(unoracled.isEmpty,
      s"queries without an oracle (add oracleSql or allowlist with a reason): ${unoracled.toSeq.sorted.mkString(", ")}")
  }

  test("no orphan oracles after renames") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles with no query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("no duplicate names across operator modules") {
    val maps = SparkEntry.modules.map(_.queries.keySet)
    val total = maps.map(_.size).sum
    assert(total === SparkEntry.queries.size,
      s"module name collision: modules sum to $total but the merged registry has ${SparkEntry.queries.size}")
  }
}
