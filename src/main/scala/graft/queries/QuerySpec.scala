package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the Spark plan it builds over an sf
  * directory, and the DuckDB SQL that replays it cross-engine. The oracle is
  * by-name, so listing the specs (as `SparkEntry.queries` does) builds no
  * oracle text. Column names are aliased identically on both sides;
  * float-valued outputs are scaled to exact integers (…_ppm/…_cents)
  * computed from bit-identical double pipelines so hashes match across
  * engines. */
private[graft] final class QuerySpec(val name: String,
    val run: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

private[graft] object QuerySpec {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracle: => String): QuerySpec = new QuerySpec(name, run, oracle)
}

/** A deterministic parquet fixture under `SparkEntry.FixtureDir`, written
  * once per JVM on first use. A query reads it through [[apply]] and its
  * oracle reads the same files through [[path]], so the name is stated once.
  * `path` is resolved on every call, never cached: a caller that points
  * FixtureDir elsewhere gets fresh fixtures there. */
private[queries] final class Fixture(val name: String,
    write: (SparkSession, String) => Unit) {
  def path: String = s"${graft.SparkEntry.FixtureDir}/$name"

  /** Writes the fixture if this JVM has not yet, and returns its path. */
  def apply(s: SparkSession): String = Fixture.materialize(path)(write(s, _))
}

private[queries] object Fixture {
  private val written = scala.collection.mutable.Set[String]()

  /** The lock is held across the write (concurrent Verify threads must not
    * read a half-written fixture), and a fixture counts as written only once
    * `write` returns. Writers may materialize the fixtures they derive from:
    * the lock is reentrant. */
  private def materialize(path: String)(write: String => Unit): String = synchronized {
    if (!written.contains(path)) {
      write(path)
      written += path
    }
    path
  }
}
