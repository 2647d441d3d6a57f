package graft

import graft.core.FixtureGen
import graft.operators.Extraction
import graft.sources.{Snapshot, TranscriptGen}

/** spark-submit-style entry for the full north-rule pipeline:
  * synthesize (or read) the transcript table → salted/skew-aware extraction →
  * checkpointed, chunk-aligned snapshot write with per-chunk lineage +
  * extraction metrics.
  *
  * Usage: ExtractJob <workDir> [numConvs] [cores] [numChunks]; `cores`
  * defaults to the available processors.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "target/extract-job"
    val numConvs = if (args.length > 1) args(1).toInt else 2000
    val cores = if (args.length > 2) args(2).toInt else Sessions.machineCores
    val numChunks = if (args.length > 3) args(3).toInt else 32

    val spark = Sessions.local("graft-extract", cores)
    import spark.implicits._

    val rawPath = s"$workDir/raw"
    val profile = FixtureGen.Profile(numConvs = numConvs)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(rawPath)))
      TranscriptGen.materialize(spark, profile, rawPath, cores)

    val turns = spark.read.parquet(rawPath).as[graft.core.Turn]
    // monsterThreshold BELOW the fixture's heavy conversation size (default
    // monsterTurns = 1200 < Config's default 2000), so that an input small
    // enough to hold no heavy conversation skips the spread. The commit
    // spreads over at most numChunks tasks and aligns them with the
    // snapshot's chunks, so the staged write needs no exchange.
    val cfg = Extraction.Config(numPartitions = cores,
      monsterThreshold = 1000L)
    val metrics = Extraction.commit(turns, s"$workDir/extracted", cfg, numChunks,
      tag = "", append = false)
    println(s"committed snapshot with metrics: $metrics")
    println(Snapshot.manifestJson(s"$workDir/extracted").take(600))
    spark.stop()
  }
}
