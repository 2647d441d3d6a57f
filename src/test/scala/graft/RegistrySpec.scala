package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract of the query registry, checked without running any query: the
  * declared set has exactly 145 entries (a duplicate key in the `Map(...)`
  * literal silently drops a query), and every DuckDB oracle belongs to a
  * declared query. */
class RegistrySpec extends AnyFunSuite {

  test("SparkEntry declares 145 queries and every oracle names one of them") {
    assert(SparkEntry.queries.size == 145)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.toSeq.sorted}")
  }
}
