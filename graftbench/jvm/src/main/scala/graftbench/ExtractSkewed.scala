package graftbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, pmod, xxhash64}
import graft.core.{FixtureGen, Turn}
import graft.operators.Extraction
import graft.sources.TranscriptGen

/** Skew-aware extraction over a generated transcript table with the
  * profile's default skew (every 200th conversation has 1,200 rules), at
  * `local[cores]`. A traced run adds the scan and exchange+sort prefixes of
  * the job's plan, and the same job at `local[1]` over the first quarter of
  * the conversations. Every pass is checked against the oracle digest. */
object ExtractSkewed {
  val TurnSchema = Encoders.product[Turn].schema
  val WarmPasses = 5

  def run(ctx: Ctx): Unit = {
    val n = ctx.cores
    val full = FixtureGen.Profile(numConvs = 6000, seed = ctx.seed)
    val quarter = full.copy(numConvs = full.numConvs / 4)
    val fullPath = ctx.path("transcripts")
    val quarterPath = ctx.path("transcripts-quarter")

    var spark = ctx.session(n)
    val want = ctx.excluded {
      TranscriptGen.materialize(spark, full, fullPath, n)
      Oracle.digest(full, 0, full.numConvs, n)
    }
    ctx.set("turns", want.count)

    // ExtractJob's configuration: one partition per core, monsters above 1,000 turns
    val cfg = Extraction.Config(numPartitions = n, monsterThreshold = 1000L)
    def pass(s: SparkSession, cores: Int, path: String, want: Digest, kind: String,
             timed: Boolean): Unit =
      ctx.op(kind, timed = timed) {
        val turns = s.read.schema(TurnSchema).parquet(path).as(Encoders.product[Turn])
        val results = ctx.trace.span("build")(
          Extraction.extractSkewAware(turns, cfg.copy(numPartitions = cores)))
        val got = ctx.trace.span("exec")(Digest.ofTurns(results))
        (got == want, Map("turns" -> got.count, "digest" -> got.hex, "want" -> want.hex))
      }

    // warm pass: the first few jobs of a JVM run well above the steady
    // time while the JIT compiles, so a fixed number of them stay untimed
    for (_ <- 1 to WarmPasses) pass(spark, n, fullPath, want, "extract", timed = false)
    ctx.warmDone()
    ctx.repeat(ctx.seconds, 3)(pass(spark, n, fullPath, want, "extract", timed = true))

    if (ctx.traced) {
      val wantQuarter = ctx.excluded {
        TranscriptGen.materialize(spark, quarter, quarterPath, n)
        Oracle.digest(quarter, 0, quarter.numConvs, n)
      }
      ctx.set("turns_quarter", wantQuarter.count)
      // the scan and exchange+sort prefixes of the skew path's own plan
      // (Extraction.extractSkewAware with monsters present), each to a noop
      // sink: the same projection, broadcast join of the monster ids and
      // range exchange into n + monsters partitions, without the FSM
      val turns = spark.read.schema(TurnSchema).parquet(fullPath)
      val pruned = turns.select(col("conv_id"), col("turn_idx"), col("text"))
      val monsters = turns.groupBy(col("conv_id")).count()
        .filter(col("count") > cfg.monsterThreshold)
        .select("conv_id").collect().map(_.getString(0)).sorted
      val midx = spark.createDataFrame(monsters.zipWithIndex.toSeq).toDF("conv_id", "_midx")
      val pkey = coalesce(col("_midx") + n, pmod(xxhash64(col("conv_id")), lit(n)).cast("int"))
      val sorted = pruned.join(broadcast(midx), Seq("conv_id"), "left")
        .select(col("conv_id"), col("turn_idx"), col("text"), pkey.as("_pkey"))
        .repartitionByRange(n + monsters.length, col("_pkey"))
        .sortWithinPartitions(col("conv_id"), col("turn_idx"))
        .drop("_pkey")
      ctx.set("monsters", monsters.length)
      for (_ <- 1 to 3) {
        ctx.op("probe_scan", timed = false) {
          pruned.write.format("noop").mode("overwrite").save(); (true, Map.empty)
        }
        ctx.op("probe_exchange_sort", timed = false) {
          sorted.write.format("noop").mode("overwrite").save(); (true, Map.empty)
        }
      }

      // scaling: the same job at local[1] over the first quarter
      spark = ctx.session(1)
      pass(spark, 1, quarterPath, wantQuarter, "extract_1", timed = false)
      ctx.repeat(ctx.seconds / 2, 3)(pass(spark, 1, quarterPath, wantQuarter, "extract_1", timed = true))
    }
  }
}
