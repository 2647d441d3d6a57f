package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, lit, substring, when}
import graft.core.{FixtureGen, Turn, TurnResult}
import graft.operators.Extraction
import graft.sources.{Snapshot, TranscriptGen}

/** A base snapshot, then a series of small batches of new
  * conversations, each committed with `Extraction.incrementalCommit` and
  * followed by a point lookup of a just-committed or an older conversation.
  * A round ends with the replay of an already-committed tag and a check of
  * the whole table against the oracle. */
object CommitIncremental {
  def run(ctx: Ctx): Unit = {
    val n = ctx.cores
    val baseConvs = 1000
    val batchConvs = 20
    val batches = 10
    val chunks = 4
    val p = FixtureGen.Profile(numConvs = baseConvs + batches * batchConvs, seed = ctx.seed)
    val cfg = Extraction.Config(numPartitions = n, monsterThreshold = 1000L)
    val input = ctx.path("input")
    val rng = new scala.util.Random(ctx.seed)

    val spark = ctx.session(n)
    // batch -1 is the base; batch j holds conversations
    // [base + j * batchConvs, base + (j + 1) * batchConvs)
    val (wantBase, wantBatch) = ctx.excluded {
      val idx = substring(col("conv_id"), 5, 16).cast("long")
      TranscriptGen.generate(spark, p, n)
        .withColumn("batch", when(idx < baseConvs, lit(-1L))
          .otherwise(((idx - baseConvs) / batchConvs).cast("long")))
        .write.partitionBy("batch").parquet(input)
      (Oracle.digest(p, 0, baseConvs, n),
        (0 until batches).map(j => Oracle.digest(p, baseConvs + j.toLong * batchConvs,
          baseConvs + (j + 1L) * batchConvs, n)))
    }
    def read(j: Int): Dataset[Turn] =
      spark.read.schema(ExtractSkewed.TurnSchema).parquet(s"$input/batch=$j").as(Encoders.product[Turn])
    val inputBytes = bytes(Paths.get(input), uniqueInodes = false)
    ctx.set("input_bytes", inputBytes)
    ctx.set("turns", wantBase.count + wantBatch.map(_.count).sum)

    def lookup(table: String, conv: Long, timed: Boolean): Unit = {
      val want = Oracle.convDigest(p, conv)
      var frame: DataFrame = null
      ctx.op("lookup", f"conv$conv%08d", timed) {
        frame = Snapshot.readWhere(spark, table, col("conv_id") === f"conv$conv%08d")
        val got = Digest.fold(frame.as(Encoders.product[TurnResult]).collect().iterator.map(Digest.hashTurn))
        (got == want, Map("rows" -> got.count))
      }
      if (ctx.traced && frame != null) ctx.annotate(Map(
        "files_read" -> frame.inputFiles.length, "files_in_version" -> filesInVersion(table)))
    }

    def commit(table: String, j: Int, timed: Boolean): Map[String, Long] = {
      var metrics = Map.empty[String, Long]
      ctx.op("commit", s"b$j", timed) {
        metrics = Extraction.incrementalCommit(read(j), table, cfg, chunks, s"b$j")
        (metrics.get("turns").contains(wantBatch(j).count), Map("turns" -> wantBatch(j).count))
      }
      if (ctx.traced) ctx.annotate(Map("files_in_version" -> filesInVersion(table)))
      metrics
    }

    // One round: the base is committed without a tag, as ExtractJob writes
    // its first snapshot (a tagged commit to a table directory that does not
    // exist yet throws NoSuchFileException: the tag lookup lists the
    // directory), then each batch with a lookup after it, the replay of an
    // already-committed tag, and a check of the whole table.
    def round(table: String, timed: Boolean): Unit = {
      ctx.op("commit_base", timed = false) {
        val m = Extraction.incrementalCommit(read(-1), table, cfg, chunks)
        (m.get("turns").contains(wantBase.count), Map.empty)
      }
      val committed = mutable.Map[Int, Map[String, Long]]()
      for (j <- 0 until batches) {
        committed(j) = commit(table, j, timed)
        // alternately a conversation of this batch and an older one
        val lo = baseConvs + j.toLong * batchConvs
        lookup(table, if (j % 2 == 0) lo + rng.nextInt(batchConvs) else (rng.nextDouble() * lo).toLong,
          timed)
      }
      val k = batches / 2
      ctx.op("replay", s"b$k", timed) {
        val before = Snapshot.committedVersion(table)
        val m = Extraction.incrementalCommit(read(k), table, cfg, chunks, s"b$k")
        (m == committed(k) && Snapshot.committedVersion(table) == before, Map.empty)
      }
      ctx.op("table_digest", timed = false) {
        val got = Digest.ofTurns(Snapshot.read(spark, table).as(Encoders.product[TurnResult]))
        val want = wantBatch.foldLeft(wantBase)(_ + _)
        (got == want, Map("digest" -> got.hex, "want" -> want.hex))
      }
      ctx.set("files_in_version", filesInVersion(table))
      ctx.set("stored_bytes_per_input_byte",
        bytes(Paths.get(table), uniqueInodes = true).toDouble / inputBytes)
    }

    // Commit times keep falling over the first few dozen commits of a JVM
    // while the JIT compiles. One whole untimed round warms it up, and at
    // least two timed rounds keep the mix of samples the same from run to run.
    round(ctx.path("table-warm"), timed = false)
    ctx.warmDone()
    var rounds = 0
    ctx.repeat(ctx.seconds, 2) { round(ctx.path(s"table-$rounds"), timed = true); rounds += 1 }
  }

  private def files(dir: Path): Seq[Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally st.close()
  }

  /** Parquet data files of the table's committed version. */
  def filesInVersion(table: String): Int =
    Snapshot.committedVersion(table).map { k =>
      files(Paths.get(table, s"v$k")).count(_.getFileName.toString.endsWith(".parquet"))
    }.getOrElse(0)

  /** Bytes of the files under `dir`; with `uniqueInodes`, a file reached
    * through several hard links counts once. */
  def bytes(dir: Path, uniqueInodes: Boolean): Long = {
    val fs = files(dir)
    val distinct =
      if (!uniqueInodes) fs
      else fs.groupBy(f => Files.getAttribute(f, "unix:ino")).values.map(_.head).toSeq
    distinct.map(Files.size).sum
  }
}
