package graft

import graft.operators.Extraction

/** One EXECUTOR-SHAPED process of the multi-process scaling sample
  * (ScalingHarness.multiProcessOnce): a `local[cores]` JVM that extracts a
  * disjoint 1/shardCount file-modulo shard of the scaling table. Children
  * warm up independently, then barrier on stdin so every shard's timed run
  * starts together (like executors picking up tasks of one stage).
  *
  * args: cores rawPath warmupPath shardIdx shardCount numPartitions
  * protocol: prints "SHARDREADY", waits for a stdin line, runs the timed
  * shard, prints "SHARDWALL <sec>". */
object BenchShard {
  def main(args: Array[String]): Unit = {
    val Array(cores, rawPath, warmupPath, shardIdxS, shardCountS, partsS) = args
    val (shardIdx, shardCount, parts) = (shardIdxS.toInt, shardCountS.toInt, partsS.toInt)
    val spark = Sessions.local(s"graft-shard-$shardIdx-of-$shardCount", cores.toInt,
      harnessScratch = true)
    import spark.implicits._

    def shardFiles(path: String): Seq[String] = {
      val fs = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      fs.zipWithIndex.collect { case (f, i) if i % shardCount == shardIdx => f }.toSeq
    }
    def run(path: String): Unit =
      Extraction.extract(
          spark.read.parquet(shardFiles(path): _*).as[graft.core.Turn],
          Extraction.Config(numPartitions = math.max(parts / shardCount, cores.toInt)))
        .write.format("noop").mode("overwrite").save()

    run(warmupPath)
    println("SHARDREADY")
    System.out.flush()
    scala.io.StdIn.readLine() // barrier: parent releases all shards at once
    // min of 2 timed runs (extractionRun's convention): washes one-off
    // scheduler/GC ramps without hiding steady-state contention
    val wall = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      run(rawPath)
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"SHARDWALL $wall%.4f")
    System.out.flush()
    // exit barrier: siblings may still be mid-timed-run — exiting now would
    // free this shard's cores (uncovered by the parent's node-load spinner)
    // and grant the survivors idle-box turbo, inflating walls.max-based
    // efficiency; the parent releases all shards after the last report
    scala.io.StdIn.readLine()
    spark.stop()
  }
}
