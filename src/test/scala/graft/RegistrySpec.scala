package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract of the query registry, checked without running any query: the
  * declared set has exactly 145 entries (a duplicate name in the spec list
  * silently drops a query), every query has a DuckDB oracle and every oracle
  * a query, and the oracle text is byte-identical to the pinned digests. */
class RegistrySpec extends AnyFunSuite {

  test("SparkEntry declares 145 queries and every oracle names one of them") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.size == 145)
    assert(q == o, s"queries without an oracle: ${(q -- o).toSeq.sorted}; " +
      s"oracle SQL without a query: ${(o -- q).toSeq.sorted}")
  }

  /** `golden/oracle_sql.sha256` holds one `name sha256(oracleSql(name))`
    * line per query (UTF-8, before Verify's `__SFHASH__` substitution, with
    * every `SparkEntry.FixtureDir` replaced by `__FIXTUREDIR__`, so the
    * digests do not depend on where the checkout lies). A refactor of the
    * query modules must leave every digest as it is; an intended oracle
    * change regenerates the file and says so. */
  test("oracle SQL text matches the pinned SHA-256 digests") {
    val in = getClass.getResourceAsStream("/golden/oracle_sql.sha256")
    assert(in != null, "missing golden resource oracle_sql.sha256")
    val pinned = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(name, digest) = l.split(' ')
        name -> digest
      }.toMap
    val actual = SparkEntry.oracleSql.map { case (name, sql) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      name -> md.digest(sql.replace(SparkEntry.FixtureDir, "__FIXTUREDIR__")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    val differ = (pinned.keySet ++ actual.keySet).toSeq.sorted
      .filter(n => pinned.get(n) != actual.get(n))
    assert(differ.isEmpty, s"oracle SQL differs from the pinned digest for: ${differ.mkString(", ")}")
  }
}
