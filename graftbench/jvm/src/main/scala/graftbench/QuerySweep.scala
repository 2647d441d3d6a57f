package graftbench

import java.lang.reflect.Modifier
import scala.util.Random
import graft.SparkEntry
import graft.operators.Dedup

/** A fixed share of the `SparkEntry.queries` entries, one at a time, in an
  * order the seed permutes, each under the frozen `graft.Bench` protocol:
  * after Bench's small warm-up, one cold timed run per query into a noop
  * sink, with cache release and GC outside the timer.
  * After its first timed run, every `CheckEvery`-th query (which ones
  * rotates with the seed) is executed once more, untimed, for its result
  * digest, row count and schema, which run.py checks against the expected
  * file. A recording run (`ctx.record`) runs and checks every query. */
object QuerySweep {
  /** Every `QueryShare`-th query in name order is timed: a fixed share of
    * the registry keeps a cold sweep inside a run's time budget. */
  val QueryShare = 5
  val CheckEvery = 3

  def run(ctx: Ctx): Unit = {
    redirectFixtureDir(ctx.path("qfix"))
    val spark = ctx.session(ctx.cores)
    val queries = SparkEntry.queries
    val share = if (ctx.record) 1 else QueryShare
    val names = queries.keys.toSeq.sorted.zipWithIndex.collect { case (q, i) if i % share == 0 => q }
    val order = new Random(ctx.seed).shuffle(names)
    val checkEvery = if (ctx.record) 1 else CheckEvery
    val checked = names.zipWithIndex.collect {
      case (q, i) if (i + ctx.seed) % checkEvery == 0 => q
    }.toSet
    val d = ctx.dataDir

    // graft.Bench's warm-up: one-time session costs land outside every query
    spark.range(1 << 16).selectExpr("sum(id % 7) as s").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$d/lineitem.parquet").limit(1024).write.format("noop").mode("overwrite").save()
    ctx.warmDone()

    var pass = 0
    ctx.repeat(ctx.seconds, 1) {
      order.foreach { q =>
        Dedup.releaseCaches()
        System.gc()
        var df: org.apache.spark.sql.DataFrame = null
        ctx.op("query", q) {
          df = ctx.trace.span("build")(queries(q)(spark, d))
          if (ctx.traced) ctx.trace.span("plan")(df.queryExecution.executedPlan)
          ctx.trace.span("exec")(df.write.format("noop").mode("overwrite").save())
          (true, Map("pass" -> pass))
        }
        if (pass == 0 && df != null && checked(q)) ctx.op("query_check", q, timed = false) {
          val got = Digest.ofRows(df)
          (true, Map("digest" -> got.hex, "rows" -> got.count, "schema" -> df.schema.catalogString))
        }
      }
      pass += 1
    }
  }

  /** `SparkEntry.FixtureDir` is a constant absolute path; the fixture
    * parquet it names is written, read and deleted during the sweep. Point
    * it into the run directory before any query runs, and refuse to run if
    * that did not take. */
  def redirectFixtureDir(to: String): Unit = {
    val module = SparkEntry.getClass
    val instance = module.getField("MODULE$").get(null)
    val field = try Some(module.getDeclaredField("FixtureDir"))
      catch { case _: NoSuchFieldException => None }
    field.filter(_.getType == classOf[String]).foreach { f =>
      if (Modifier.isStatic(f.getModifiers)) {
        val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
        u.setAccessible(true)
        val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
        unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), to)
      } else {
        f.setAccessible(true)
        f.set(instance, to)
      }
    }
    val now = try Some(module.getMethod("FixtureDir").invoke(instance).toString)
      catch { case _: NoSuchMethodException => None }
    now.foreach(v => require(v == to || !v.startsWith("/"),
      s"SparkEntry.FixtureDir is still $v; refusing to write outside the run directory"))
  }
}
