package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the tools (BenchOne, BenchShard, ExtractJob,
  * PlanAudit, RegenBenchData). `Bench` and `Verify` keep their own. */
object Sessions {
  /** The machine's width: every tool's default core count. */
  def machineCores: Int = Runtime.getRuntime.availableProcessors

  /** A `local[cores]` session quiet at ERROR level, with one shuffle
    * partition per core, AQE on and UTC timestamps. The shuffle buffers and
    * input split size are Bench's, so the scaling children measure the plan
    * Bench runs. `harnessScratch` puts Spark's scratch under
    * `/dev/shm/spark-local`, the directory whose orphans the scaling
    * harness sweeps: set it for every process that runs under the harness
    * lock. */
  def local(appName: String, cores: Int = machineCores,
            harnessScratch: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.shuffle.spill.diskWriteBufferSize", "1m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark =
      (if (harnessScratch) b.config("spark.local.dir", "/dev/shm/spark-local") else b)
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
