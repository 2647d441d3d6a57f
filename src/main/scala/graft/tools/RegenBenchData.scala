package graft.tools

import graft.Sessions
import graft.core.FixtureGen
import graft.sources.TranscriptGen

/** Regenerate the cached scaling-bench input tables (also done lazily by
  * graft.Bench). 256 evenly-sized files: the scan stage's effective
  * parallelism is bounded by parquet row-group count (one per file here) —
  * with only 32 files the map stage was straggler-bound at 32 cores. */
object RegenBenchData {
  // Under the harness lock: (1) a 32-core materialization overlapping a
  // background sampler's timed window would contaminate it; (2) the
  // lock-acquisition orphan sweep only knows a /dev/shm/spark-local dir is
  // LIVE while its owner holds the lock — an unlocked session here could
  // have its blockmgr dir swept mid-run by a concurrent lock holder (the
  // no-open-fd + mtime guard is not an invariant of a live session).
  def main(args: Array[String]): Unit = ScalingHarness.withHarnessLock {
    val spark = Sessions.local("graft-regen-bench-data", harnessScratch = true)
    try {
      TranscriptGen.materialize(spark,
        FixtureGen.Profile(numConvs = ScalingHarness.ScalingConvs),
        ScalingHarness.ScalingPath, parallelism = 256)
      TranscriptGen.materialize(spark,
        FixtureGen.Profile(numConvs = ScalingHarness.WarmupConvs, seed = 7L),
        ScalingHarness.WarmupPath, parallelism = 64)
      println("REGEN done")
    } finally spark.stop()
  }
}
