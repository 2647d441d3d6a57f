package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything one measured JVM knows about its run. Workloads record
  * operations (`op`), scalar values (`set`) and spans (`trace`); the run
  * record is written as one JSON file that run.py turns into metrics. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val dir: String, val cores: Int,
                val dataDir: String, val record: Boolean) {
  val trace = new Trace(traced)
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private val values = mutable.LinkedHashMap[String, Any]()
  private var excludedMs = 0.0
  private var setupEndMs = 0.0
  private var current: Option[SparkSession] = None
  val config = mutable.LinkedHashMap[String, Any]()

  def path(name: String): String = s"$dir/$name"
  def set(k: String, v: Any): Unit = values(k) = v

  /** A fresh session at `local[cores]`, replacing any previous one. */
  def session(cores: Int): SparkSession = {
    stopSession()
    val s = Session.create(cores, dir)
    trace.attach(s.sparkContext)
    config ++= Session.describe(s)
    current = Some(s)
    s
  }

  def stopSession(): Unit = {
    current.foreach { s => trace.drain(); s.stop() }
    current = None
  }

  /** Input generation and oracle work: excluded from `setup_s`. */
  def excluded[T](body: => T): T = {
    val t0 = trace.nowMs
    try body finally excludedMs += trace.nowMs - t0
  }

  /** Marks the end of the untimed warm pass, which ends set-up. */
  def warmDone(): Unit = if (setupEndMs == 0.0) setupEndMs = trace.nowMs

  /** Runs one operation. `body` returns whether its output check passed
    * plus any fields to record; an exception is a failed operation. */
  def op(kind: String, name: String = "", timed: Boolean = true)(
      body: => (Boolean, Map[String, Any])): Boolean = {
    val t0 = trace.nowMs
    val (ok, fields, err) =
      try {
        val (ok, f) = trace.span(s"$kind $name".trim) {
          val (ok, f) = body
          (ok, if (traced) f + ("span" -> trace.current) else f)
        }
        (ok, f, None)
      }
      catch { case e: Throwable =>
        (false, Map.empty[String, Any],
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    val ms = trace.nowMs - t0
    ops += (Map("kind" -> kind, "name" -> name, "timed" -> timed, "ok" -> ok,
      "ms" -> ms, "error" -> err) ++ fields)
    System.err.println(f"[graftbench] ${if (ok) "ok" else "FAILED"} $kind $name $ms%.1f ms" +
      (if (ok) "" else s" ${err.getOrElse(fields)}"))
    ok
  }

  /** Adds fields to the most recent operation's record. */
  def annotate(fields: Map[String, Any]): Unit =
    if (ops.nonEmpty) ops(ops.size - 1) = ops.last ++ fields

  /** Runs `body` until `seconds` have passed and at least `min` times. */
  def repeat(seconds: Double, min: Int)(body: => Unit): Unit = {
    val end = trace.nowMs + seconds * 1000
    var n = 0
    while (n < min || trace.nowMs < end) { body; n += 1 }
  }

  def write(out: String, launchMs: Double): Unit = {
    trace.drain()
    val body = Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "launch_ms" -> launchMs, "setup_end_ms" -> setupEndMs, "excluded_ms" -> excludedMs,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "vm_hwm_kb" -> Main.vmHwmKb(),
      "config" -> config, "values" -> values, "ops" -> ops)
    val spans = trace.all.map(_.toJson(s"$workload-$seed")).mkString("[", ",\n", "]")
    Files.writeString(Paths.get(out), body.dropRight(1) + ",\"spans\":" + spans + "}\n")
  }
}

/** The session `graft.Bench` uses, at `local[cores]`, with every path it
  * would write (local dir, warehouse, Hadoop temp) inside the run directory. */
object Session {
  def create(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.shuffle.spill.diskWriteBufferSize", "1m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def describe(s: SparkSession): Seq[(String, String)] = {
    val keep = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.local.dir", "spark.shuffle.file.buffer", "spark.shuffle.unsafe.file.output.buffer",
      "spark.shuffle.spill.diskWriteBufferSize", "spark.sql.files.maxPartitionBytes",
      "spark.sql.session.timeZone", "spark.ui.enabled", "spark.sql.warehouse.dir",
      "spark.sql.artifact.isolation.enabled", "spark.shuffle.sort.bypassMergeThreshold",
      "spark.sql.codegen.cache.maxEntries")
    keep.flatMap(k => s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k)).map(k -> _))
  }
}

object Main {
  def vmHwmKb(): Long = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0L
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
    *   --dir RUNDIR --out FILE --cores C --launch-ms T [--data DIR] [--record 0|1] */
  def main(args: Array[String]): Unit = {
    val kv = mutable.Map[String, String]()
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val ctx = new Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("dir"), kv("cores").toInt, kv.getOrElse("data", ""),
      kv.get("record").contains("1"))
    val gc0 = gcMs()
    val cg0 = org.apache.spark.graftbench.Internals.codegen()
    ctx.workload match {
      case "extract_skewed" => ExtractSkewed.run(ctx)
      case "commit_incremental" => CommitIncremental.run(ctx)
      case "query_sweep" => QuerySweep.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cg1 = org.apache.spark.graftbench.Internals.codegen()
    ctx.set("jvm_gc_ms", gcMs() - gc0)
    ctx.set("codegen_compiles", cg1._1 - cg0._1)
    ctx.set("codegen_ms", cg1._2 - cg0._2)
    if (ctx.traced) ctx.set("fsm_turns_per_s_1thread",
      Oracle.singleThreadRate(graft.core.FixtureGen.Profile(numConvs = 2000, seed = ctx.seed), 2000))
    ctx.write(kv("out"), kv("launch-ms").toDouble)
    ctx.stopSession()
  }
}
