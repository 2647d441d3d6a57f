package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Snapshot

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDir(name: String): String = {
    val p = Files.createTempDirectory(name)
    p.toString
  }

  test("write → read roundtrip with manifest metrics and lineage") {
    import spark.implicits._
    val df0 = (0 until 1000).map(i => (s"c${i % 37}", i, s"v$i")).toDF("conv_id", "n", "v")
    val obs = org.apache.spark.sql.Observation("m")
    val df = df0.observe(obs, count(lit(1)).as("rows_in"))
    val table = freshDir("snap")
    val metrics = Snapshot.write(df, table, "conv_id", 5, observation = Some(obs))
    assert(metrics == Map("rows_in" -> 1000L))
    val back = Snapshot.read(spark, table)
    assert(back.count() == 1000)
    assert(back.columns.toSet == Set("conv_id", "n", "v"))
    val manifest = Snapshot.manifestJson(table)
    assert(manifest.contains("\"rows_in\":1000"))
    assert(manifest.contains("\"chunks\""))
    // re-invoking the same snapshot id is a committed no-op that still
    // honors the metrics return contract (recovered from the manifest)
    assert(Snapshot.write(df0, table, "conv_id", 5, snapshotId = 0) ==
      Map("rows_in" -> 1000L))
    assert(Snapshot.read(spark, table).count() == 1000)

    // a metric key carrying marker/JSON framing chars is REJECTED up front
    // (fail-loud like requireSafeTag): the old silent '='→'_' fold let two
    // distinct Observation names collide and lose a value on resume
    val obs2 = org.apache.spark.sql.Observation("m2")
    val df2 = df0.observe(obs2, count(lit(1)).as("rows=all"))
    val e = intercept[IllegalArgumentException] {
      Snapshot.write(df2, table, "conv_id", 5, observation = Some(obs2),
        snapshotId = 7)
    }
    assert(e.getMessage.contains("framing"))
    // the rejected commit left no manifest behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifest-v7.json")))
  }

  /** Chunk id → names of the parquet files in each `_chunk=<id>` of `dir`. */
  private def chunkFiles(dir: java.nio.file.Path): Map[Long, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("_chunk=")).map { cd =>
        cd.getFileName.toString.stripPrefix("_chunk=").toLong ->
          Files.list(cd).iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSeq
      }.toMap
  }

  /** The index of the task that wrote a data file: Spark names it
    * `part-<index>-…`, and promotion may prefix `s<k>-`/`u<k>-`. */
  private def taskOf(file: String): Long =
    file.substring(file.indexOf("part-") + 5).takeWhile(_ != '-').toLong

  /** One file a chunk, written by the task of the chunk's own index — so
    * no two chunks shared a task. */
  private def assertOneTaskPerChunk(files: Map[Long, Seq[String]]): Unit =
    files.foreach { case (c, names) =>
      assert(names.size == 1, s"expected 1 file in _chunk=$c, got $names")
      assert(taskOf(names.head) == c, s"_chunk=$c was written by task ${names.head}")
    }

  test("write: staging hash-distributes — one file per chunk from a wide upstream") {
    import spark.implicits._
    // 16 upstream partitions: pre-r6 staging wrote up to 16 files PER chunk.
    // A Murmur3 exchange on the chunk id folds chunks into shared tasks
    // (4 → 3, 16 → 10, 32 → 20); the exact-id exchange gives every chunk
    // the task of its own index
    val rows = (0 until 2000).map(i => (s"c${i % 257}", i))
    val df = rows.toDF("conv_id", "n").repartition(16)
    Seq(4, 16, 32).foreach { numChunks =>
      val table = freshDir(s"snap-onefile-$numChunks")
      val jobTasks = TestSpark.jobTasksOf(Snapshot.write(df, table, "conv_id", numChunks))
      assert(jobTasks.last == numChunks, s"staging job tasks: $jobTasks")
      val files = chunkFiles(Paths.get(table, "v0"))
      assert(files.keySet == (0L until numChunks).toSet)
      assertOneTaskPerChunk(files)
      val back = Snapshot.read(spark, table).as[(String, Int)].collect().sorted.toSeq
      assert(back == rows.sorted)
    }
  }

  test("upsert: every rewritten chunk's u<k>- file comes from its own task") {
    import spark.implicits._
    val table = freshDir("snap-upsert-tasks")
    val rows = (0 until 2000).map(i => (s"c${i % 257}", i))
    Snapshot.write(rows.toDF("conv_id", "n"), table, "conv_id", numChunks = 16)
    // every 5th key, from a wide batch: most chunks are rewritten
    val batch = (0 until 257 by 5).map(i => (s"c$i", -i))
    val got = Snapshot.upsert(batch.toDF("conv_id", "n").repartition(8), table)
    val rewritten = chunkFiles(Paths.get(table, "v1"))
      .filter { case (_, names) => names.exists(_.startsWith("u1-")) }
    assert(rewritten.size == got("rewritten_chunks") && rewritten.size > 4)
    assertOneTaskPerChunk(rewritten)
    val upserted = batch.map(_._1).toSet
    val want = rows.filterNot(r => upserted(r._1)) ++ batch
    assert(Snapshot.read(spark, table).as[(String, Int)].collect().sorted.toSeq == want.sorted)
  }

  test("compact: one file per chunk, identical content, expiry keeps CURRENT readable") {
    import spark.implicits._
    val table = freshDir("snap-compact")
    // fragmented ingestion: the staging path exchanges by the exact
    // chunk id (one file per chunk regardless of upstream width — the r6
    // writer change), so fragmentation comes the way it does in production:
    // incremental APPENDS each adding per-chunk s<k>- part files
    val rows = (0 until 2000).map(i => (s"c${i % 11}", i))
    Snapshot.write(rows.take(800).toDF("conv_id", "n"), table, "conv_id",
      numChunks = 4)
    Snapshot.append(rows.slice(800, 1400).toDF("conv_id", "n"), table,
      "conv_id", numChunks = 4)
    Snapshot.append(rows.drop(1400).toDF("conv_id", "n"), table,
      "conv_id", numChunks = 4)
    def filesOf(version: Int): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(table, s"v$version")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    }
    val before = filesOf(2).size
    assert(before > 4, s"fragmented fixture expected, got $before files")
    Snapshot.compact(spark, table)
    // new CURRENT, one file per chunk, byte-identical content
    assert(Snapshot.manifestJson(table).replace(" ", "").contains("\"snapshot\":3"))
    val after = filesOf(3).size
    assert(after == 4, s"expected 1 file per chunk, got $after")
    val a = Snapshot.read(spark, table).as[(String, Int)].collect().sorted.toSeq
    val b = Snapshot.read(spark, table, version = 2).as[(String, Int)].collect().sorted.toSeq
    assert(a == b, "compaction must not change table content")
    // expiry: drop all but CURRENT; old versions gone, CURRENT still reads
    val expired = Snapshot.expireSnapshots(table, keep = 1)
    assert(expired == Seq(0, 1, 2))
    assert(!Files.exists(Paths.get(table, "v0")))
    assert(Snapshot.read(spark, table).count() == 2000)
  }

  test("resume after kill mid-commit: no duplicate, no missing chunks") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"c${i % 23}", i)).toDF("conv_id", "n")
    val table = freshDir("snapresume")
    Snapshot.write(df, table, "conv_id", 4)

    // Simulate a job killed between chunk promotion and manifest write:
    // un-promote one chunk back into a staged staging dir, remove manifest+CURRENT.
    val t = Paths.get(table)
    Files.delete(t.resolve("manifest-v0.json"))
    Files.delete(t.resolve("CURRENT"))
    val staging = t.resolve("_staging-v0")
    Files.createDirectories(staging.resolve("data"))
    val chunk = Files.list(t.resolve("v0")).filter(_.getFileName.toString.startsWith("_chunk="))
      .findFirst().get()
    Files.move(chunk, staging.resolve("data").resolve(chunk.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    // marker carries the first run's observed metrics (k=v lines): the
    // resumed commit must recover them even though its write job never runs
    Files.writeString(staging.resolve("_STAGED"), "turns_in=500\nrecords_out=123")

    // rerun completes the snapshot: identical table, no dup/missing rows
    val resumed = Snapshot.write(df, table, "conv_id", 4, snapshotId = 0)
    assert(resumed == Map("turns_in" -> 500L, "records_out" -> 123L),
      s"resumed commit must recover metrics from the _STAGED marker, got $resumed")
    val back = Snapshot.read(spark, table)
    assert(back.count() == 500)
    assert(back.select("n").distinct().count() == 500)
    val manifest = Snapshot.manifestJson(table).replace(" ", "")
    assert(manifest.contains("\"records_out\":123"),
      "recovered metrics must land in the committed manifest")
  }

  test("upsert: keyed merge, untouched chunks hard-linked, kill-resume, replay no-op") {
    import spark.implicits._
    val table = freshDir("snapupsert")
    val base = (0 until 400).map(i => (f"k$i%03d", i, "orig"))
      .toDF("conv_id", "n", "src")
    Snapshot.write(base, table, "conv_id", 8)

    // batch: modify 30 existing keys, add 10 new ones
    val batch = ((0 until 30).map(i => (f"k${i * 13 % 400}%03d", -1, "upd")) ++
      (0 until 10).map(i => (f"new$i%02d", 1000 + i, "new"))).toDF("conv_id", "n", "src")
    val metrics = Snapshot.upsert(batch, table, tag = "day2")
    assert(metrics("rewritten_chunks") > 0 &&
      metrics("rewritten_chunks") <= 8)

    // content equals the naive merge
    val got = Snapshot.read(spark, table).as[(String, Int, String)]
      .collect().toSet
    val batchKeys = batch.select("conv_id").as[String].collect().toSet
    val expect = base.as[(String, Int, String)].collect()
      .filterNot(r => batchKeys.contains(r._1)).toSet ++
      batch.as[(String, Int, String)].collect().toSet
    assert(got == expect)

    // untouched chunks are hard links into the parent version (same inode)
    val t = Paths.get(table)
    val touched = "\"rewritten_chunks\":\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(Snapshot.manifestJson(table)).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
    Files.list(t.resolve("v1")).iterator().forEachRemaining { cd =>
      val name = cd.getFileName.toString
      if (name.startsWith("_chunk=") &&
          !touched.contains(name.stripPrefix("_chunk="))) {
        val parentChunk = t.resolve("v0").resolve(name)
        Files.list(cd).iterator().forEachRemaining { f =>
          val pf = parentChunk.resolve(f.getFileName.toString)
          assert(Files.exists(pf) && Files.isSameFile(f, pf),
            s"untouched chunk file $f is not a hard link of $pf")
        }
      }
    }

    // replay: same parent version already committed → no-op
    // (simulate at-least-once redelivery by re-upserting onto v1: that
    // creates v2 with identical content since every batch row already won)
    Snapshot.upsert(batch, table, tag = "day2-replay")
    assert(Snapshot.read(spark, table).as[(String, Int, String)]
      .collect().toSet == expect)

    // kill-resume: wipe the v2 commit (as if killed before the manifest
    // landed) and rerun — same content, no duplicate or missing chunks
    Files.delete(t.resolve("manifest-v2.json"))
    Files.writeString(t.resolve("CURRENT"), "1")
    Files.walk(t.resolve("v2")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    Snapshot.upsert(batch, table, tag = "day2-replay")
    assert(Snapshot.read(spark, table).as[(String, Int, String)]
      .collect().toSet == expect)
    assert(Snapshot.read(spark, table).count() == expect.size)
  }

  test("deleteKeys: purged rows gone, untouched chunks hard-linked, others intact") {
    import spark.implicits._
    val table = freshDir("snapdelete")
    val base = (0 until 300).map(i => (f"k$i%03d", i)).toDF("conv_id", "n")
    Snapshot.write(base, table, "conv_id", 8)
    val doomed = (0 until 30).map(i => f"k${i * 7 % 300}%03d").distinct
    val metrics = Snapshot.deleteKeys(doomed.toDF("conv_id"), table, tag = "purge")
    assert(metrics("rewritten_chunks") > 0)
    val got = Snapshot.read(spark, table).as[(String, Int)].collect().toSet
    val expect = base.as[(String, Int)].collect()
      .filterNot(r => doomed.contains(r._1)).toSet
    assert(got == expect)
    // the old version still holds the purged rows until expiry — then gone
    assert(Snapshot.read(spark, table, version = 0).count() == 300)
    Snapshot.expireSnapshots(table, keep = 1)
    assert(!Files.exists(Paths.get(table).resolve("v0")))
    assert(Snapshot.read(spark, table).as[(String, Int)].collect().toSet == expect)
  }

  test("readByTag time travel; schema evolution through delta append") {
    import spark.implicits._
    val table = freshDir("snaptag")
    Snapshot.write((1 to 10).map(i => (s"a$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, tag = "day-0")
    // delta append with an EXTRA nullable column: schema evolution
    Snapshot.append((11 to 15).map(i => (s"b$i", i, s"lang$i"))
      .toDF("conv_id", "n", "lang"), table, "conv_id", 2, tag = "day-1")
    // tag resolution reads the right version
    assert(Snapshot.readByTag(spark, table, "day-0").count() == 10)
    intercept[IllegalStateException] {
      Snapshot.readByTag(spark, table, "nope")
    }
    // merged read: old rows surface the new column as null
    val merged = Snapshot.read(spark, table, mergeSchema = true)
    assert(merged.columns.toSet == Set("conv_id", "n", "lang"))
    assert(merged.count() == 15)
    assert(merged.filter(col("lang").isNull).count() == 10)
    assert(merged.filter(col("lang").isNotNull).count() == 5)
  }

  test("readWhere mergeSchema: pruning away every evolved-column file keeps the merged schema") {
    import spark.implicits._
    val table = freshDir("snapprune-ms")
    // v0: (conv_id, n) with n in 1..10; v1 delta-appends rows carrying the
    // evolved column `lang`, all with n >= 100 — so a predicate on n < 50
    // prunes EVERY file that has `lang`
    Snapshot.write((1 to 10).map(i => (s"a$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2)
    Snapshot.append((1 to 5).map(i => (s"b$i", i + 100, s"lang$i"))
      .toDF("conv_id", "n", "lang"), table, "conv_id", 2)
    val full = Snapshot.read(spark, table, mergeSchema = true)
      .filter(col("n") < 50)
    val pruned = Snapshot.readWhere(spark, table, col("n") < 50,
      mergeSchema = true)
    // contract: readWhere == read().filter(pred), SCHEMA included — the
    // evolved column must surface (null-filled) even though every file
    // carrying it was pruned (round-3 ADVICE medium)
    assert(pruned.columns.toSeq == full.columns.toSeq,
      s"${pruned.columns.toSeq} vs ${full.columns.toSeq}")
    assert(pruned.select("conv_id", "n", "lang").collect().map(_.toString).sorted.toSeq ==
      full.select("conv_id", "n", "lang").collect().map(_.toString).sorted.toSeq)
    assert(pruned.count() == 10 && pruned.filter(col("lang").isNull).count() == 10)
    // and the prune itself still happened (not a silent full-read fallback)
    val (kept, total) = Snapshot.pruneFiles(Paths.get(table), 1, col("n") < 50)
    assert(kept.size < total, "evolved-column handling must keep the prune")
    // downstream select on the evolved column works after pruning
    assert(Snapshot.readWhere(spark, table, col("n") < 50, mergeSchema = true)
      .select("lang").count() == 10)
  }

  test("snapshot versioning: second write becomes CURRENT with parent link") {
    import spark.implicits._
    val table = freshDir("snapver")
    Snapshot.write((1 to 10).map(i => (s"a$i", i)).toDF("conv_id", "n"), table, "conv_id", 2)
    Snapshot.write((1 to 20).map(i => (s"b$i", i)).toDF("conv_id", "n"), table, "conv_id", 2)
    assert(Snapshot.read(spark, table).count() == 20)
    assert(Snapshot.read(spark, table, version = 0).count() == 10)
    assert(Snapshot.manifestJson(table).contains("\"parent\":0"))

    // lineage parent comes from the committed manifests, not CURRENT: an
    // explicit-snapshot-id write onto a wedged table (CURRENT left behind
    // by a kill before the pointer swap) must not skip the wedged version
    val t = Paths.get(table)
    Files.writeString(t.resolve("CURRENT"), "0") // wedge: manifest-v1 committed, pointer stale
    Snapshot.write((1 to 5).map(i => (s"c$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, snapshotId = 2)
    assert(Snapshot.manifestJson(table, 2).contains("\"parent\":1"),
      "parent must be the committed tip below k, not the stale CURRENT")
    assert(Snapshot.read(spark, table).count() == 5)
  }

  test("Dedup.incrementalExact: daily batches dedup against history; replay is a no-op") {
    import spark.implicits._
    import graft.operators.Dedup
    val table = freshDir("increm") + "/docs"
    // day 0: 5 rows, 2 duplicate texts inside the batch
    val day0 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"),
      (4L, "gamma"), (5L, "beta")).toDF("doc_id", "text")
    assert(Dedup.incrementalExact(day0, table, "doc_id", "text", "day-0") == 3L)
    val after0 = Snapshot.read(spark, table)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(after0 == Set((1L, "alpha"), (2L, "beta"), (4L, "gamma")))

    // day 1: two already-seen texts, one new (plus an in-batch dup of it)
    val day1 = Seq((6L, "alpha"), (7L, "delta"), (8L, "delta"),
      (9L, "gamma")).toDF("doc_id", "text")
    assert(Dedup.incrementalExact(day1, table, "doc_id", "text", "day-1") == 1L)
    val after1 = Snapshot.read(spark, table)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(after1 == after0 + ((7L, "delta")))

    // crash replay of day 1: committed tag → nothing written, nothing counted
    assert(Dedup.incrementalExact(day1, table, "doc_id", "text", "day-1") == 0L)
    assert(Snapshot.read(spark, table).count() == 4)
    assert(Snapshot.committedTags(table) == Set("day-0", "day-1"))

    // an ALL-duplicate day still commits its tag (no-op delta): the audit
    // row exists and a replay of day 2 skips the anti-join entirely
    val day2 = Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text")
    assert(Dedup.incrementalExact(day2, table, "doc_id", "text", "day-2") == 0L)
    assert(Snapshot.read(spark, table).count() == 4)
    assert(Snapshot.committedTags(table).contains("day-2"))
    assert(Dedup.incrementalExact(day2, table, "doc_id", "text", "day-2") == 0L)

    // tags are validated against the manifest framing
    intercept[IllegalArgumentException] {
      Dedup.incrementalExact(day2, table, "doc_id", "text", "bad\"tag")
    }

    // the incremental table equals one-shot exact dedup over the union
    // (ids ascend across days, so keep-min picks the same survivors)
    val oneShot = Dedup.exact(day0.union(day1), "text", "doc_id")
      .select(col("keep_id"), col("text")).as[(Long, String)].collect().toSet
    assert(oneShot == Snapshot.read(spark, table)
      .select("doc_id", "text").as[(Long, String)].collect().toSet)

    // version diff: day-1's commit added exactly doc 7 (keyed changelog)
    val d01 = Snapshot.diff(spark, table, Seq("doc_id"), fromVersion = 0)
      .as[(Long, String)].collect().toSet
    assert(d01 == Set((7L, "added")))
    // diff of a version with itself is empty
    assert(Snapshot.diff(spark, table, Seq("doc_id"), 0, 0).count() == 0)
  }

  test("Dedup.incrementalNearDup: cross-batch near-dups found; survivors enter history; replay empty") {
    import spark.implicits._
    import graft.operators.Dedup
    val table = freshDir("incnd") + "/sigs"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val day0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDup(day0, table, "doc_id", "text", "d0")
      .count() == 0) // bootstrap: no history to match
    // day 1: near-dup of doc 1 (last word changed), a new doc, exact copy of doc 2
    val fresh4 = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt"
    val day1 = Seq(
      (3L, base.replace("upsilon", "OMEGA")),
      (4L, fresh4),
      (5L, other)).toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDup(day1, table, "doc_id", "text", "d1")
      .select("new_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 1L), (5L, 2L)), pairs.toString)
    // only the non-duplicate doc 4 entered history
    val ids = graft.sources.Snapshot.read(spark, table)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L))
    // replay of day 1: committed tag → empty pair set, history unchanged
    assert(Dedup.incrementalNearDup(day1, table, "doc_id", "text", "d1").count() == 0)
    assert(graft.sources.Snapshot.read(spark, table).count() == 3)
    // day 2 near-dups against a doc admitted on day 1
    val day2 = Seq((6L, fresh4.replace("tt", "ZZ"))).toDF("doc_id", "text")
    val p2 = Dedup.incrementalNearDup(day2, table, "doc_id", "text", "d2")
      .select("new_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(p2 == Set((6L, 4L)), p2.toString)
  }

  test("wedged CURRENT (kill between manifest and pointer swap): append and near-dup recover, no batch loss") {
    import spark.implicits._
    import graft.operators.Dedup
    val table = freshDir("snapwedge")
    Snapshot.write((1 to 10).map(i => (s"a$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, tag = "day-0")
    // simulate the kill window: manifest-v0 landed, CURRENT never swapped
    Files.delete(Paths.get(table).resolve("CURRENT"))
    assert(Snapshot.committedVersion(table).contains(0)) // repairs the pointer
    assert(Files.exists(Paths.get(table).resolve("CURRENT")))
    // wedge again, then append: the batch must NOT fall through to write(),
    // collide with the wedged manifest, and vanish
    Files.delete(Paths.get(table).resolve("CURRENT"))
    Snapshot.append((11 to 15).map(i => (s"b$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, tag = "day-1")
    assert(Snapshot.read(spark, table).count() == 15)
    assert(Snapshot.committedTags(table) == Set("day-0", "day-1"))

    // same window through incrementalNearDup: a wedged signature table must
    // NOT be mistaken for bootstrap (history join skipped, signatures lost)
    val sigs = freshDir("incndwedge") + "/sigs"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Dedup.incrementalNearDup(Seq((1L, base)).toDF("doc_id", "text"),
      sigs, "doc_id", "text", "d0").count()
    Files.delete(Paths.get(sigs).resolve("CURRENT"))
    val pairs = Dedup.incrementalNearDup(
      Seq((2L, base.replace("upsilon", "OMEGA")), (3L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt"))
        .toDF("doc_id", "text"), sigs, "doc_id", "text", "d1")
      .select("new_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 1L)), pairs.toString) // history join DID run
    // the fresh day-1 doc entered history (append did not no-op)
    assert(Snapshot.read(spark, sigs).select("id").as[Long].collect().toSet
      == Set(1L, 3L))
  }

  test("wedged CURRENT: default read, compact, and expiry key off the committed tip") {
    import spark.implicits._
    val table = freshDir("snapwedge2")
    Snapshot.write((1 to 10).map(i => (s"a$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, tag = "v0")
    Snapshot.append((11 to 14).map(i => (s"b$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2, tag = "v1")
    def wedge(): Unit =
      Files.writeString(Paths.get(table).resolve("CURRENT"), "0")
    // kill window: manifest-v1 committed, CURRENT still points at v0 —
    // the default read must agree with readByTag on the same table
    wedge()
    assert(Snapshot.read(spark, table).count() == 14)
    assert(Snapshot.readByTag(spark, table, "v1").count() == 14)
    // compact on a wedged table must compact the COMMITTED tip (v1, all 14
    // rows), not the stale pointer's v0
    wedge()
    Snapshot.compact(spark, table)
    assert(Snapshot.committedVersion(table).contains(2))
    assert(Snapshot.read(spark, table).count() == 14)
    // expiry on a wedged table must protect the committed-but-unpointed
    // newest snapshot, not delete it while keeping the stale one
    wedge()
    val expired = Snapshot.expireSnapshots(table, keep = 1)
    assert(expired.toSet == Set(0, 1), expired.toString)
    assert(Files.exists(Paths.get(table).resolve("manifest-v2.json")))
    assert(Snapshot.read(spark, table).count() == 14)
    // the default manifest is compaction's snapshot, not the wedged pointer's
    assert(Snapshot.manifestJson(table) == Snapshot.manifestJson(table, 2))
    assert(graft.core.Json.parse(Snapshot.manifestJson(table))
      .asInstanceOf[Map[String, Any]]("snapshot") == "2")
  }

  test("upsert preserves delta-evolved columns in rewritten chunks") {
    import spark.implicits._
    val table = freshDir("snapevol")
    Snapshot.write((1 to 20).map(i => (s"a$i", i)).toDF("conv_id", "n"),
      table, "conv_id", 2)
    // schema evolution: delta append adds `lang`
    Snapshot.append(Seq(("z1", 100, "fr"), ("z2", 101, "de"))
      .toDF("conv_id", "n", "lang"), table, "conv_id", 2)
    // upsert a batch WITHOUT the evolved column, touching both chunks —
    // survivor rows' lang values must not be destroyed by the rewrite
    Snapshot.upsert((1 to 4).map(i => (s"a$i", i * 1000)).toDF("conv_id", "n"),
      table, tag = "fix")
    val back = Snapshot.read(spark, table, mergeSchema = true)
    assert(back.count() == 22)
    val langs = back.filter(col("lang").isNotNull)
      .select("conv_id", "lang").as[(String, String)].collect().toSet
    assert(langs == Set(("z1", "fr"), ("z2", "de")), langs.toString)
    // the batch rows themselves updated, surfacing lang as null
    assert(back.filter(col("conv_id") === "a3").select("n").as[Int].head() == 3000)
  }

  test("Snapshot.metricsHistory: observed metrics per version, metadata-only") {
    import spark.implicits._
    val table = freshDir("methist") + "/t"
    def commit(n: Int): Unit = {
      val obs = org.apache.spark.sql.Observation(s"o$n")
      val df = (0 until n).map(i => (s"c$i", i)).toDF("conv_id", "v")
        .observe(obs, count(lit(1)).as("rows_in"))
      Snapshot.append(df, table, "conv_id", 2, observation = Some(obs),
        tag = s"b$n")
    }
    commit(10); commit(7)
    val hist = Snapshot.metricsHistory(spark, table)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(hist == Seq((0, "b10", "rows_in", 10L), (1, "b7", "rows_in", 7L)))
  }

  test("readWhere: manifest stats prune appended files; result equals full filter") {
    import spark.implicits._
    val table = freshDir("statsprune") + "/t"
    // three "daily" append batches with disjoint ts ranges — appended files
    // carry tight per-file min/max on ts, so a recency predicate must prune
    // earlier days' files without listing or opening them
    def day(d: Int) = (0 until 200).map { i =>
      (s"c${i % 7}", d * 1000L + i, s"day$d-t$i", if (i % 5 == 0) null else s"u${i % 13}")
    }.toDF("conv_id", "ts", "text", "user")
    (0 to 2).foreach(d => Snapshot.append(day(d), table, "conv_id", 4, tag = s"d$d"))

    val tablePath = Paths.get(table)
    def prunedCount(pred: org.apache.spark.sql.Column): (Int, Int) = {
      val (kept, total) = Snapshot.pruneFiles(tablePath, 2, pred)
      (kept.size, total)
    }
    // recency filter: only day-2 files survive the manifest prune
    val (k1, total) = prunedCount(col("ts") >= 2000L)
    assert(total > k1 && k1 > 0, s"expected a strict prune, got $k1/$total")
    val got = Snapshot.readWhere(spark, table, col("ts") >= 2000L)
      .as[(String, Long, String, String)].collect().sorted.toSeq
    val want = Snapshot.read(spark, table).filter(col("ts") >= 2000L)
      .as[(String, Long, String, String)].collect().sorted.toSeq
    assert(got == want && got.size == 200)

    // equality + IN on the string column; conjunction tightens the prune
    val (k2, _) = prunedCount(col("text") === "day1-t5")
    assert(k2 < total)
    assert(Snapshot.readWhere(spark, table, col("text") === "day1-t5").count() == 1)
    assert(Snapshot.readWhere(spark, table,
      col("text").isin("day0-t3", "day2-t4") && col("ts") < 900L).count() == 1)

    // impossible range: zero files survive, result is empty but well-typed
    val (k3, _) = prunedCount(col("ts") > 99999L)
    assert(k3 == 0)
    val empty = Snapshot.readWhere(spark, table, col("ts") > 99999L)
    assert(empty.count() == 0 &&
      empty.columns.toSet == Set("conv_id", "ts", "text", "user"))

    // null-count stats: ts has no nulls → IS NULL prunes everything;
    // user has nulls → nothing prunes, result matches the residual filter
    assert(prunedCount(col("ts").isNull)._1 == 0)
    assert(Snapshot.readWhere(spark, table, col("user").isNull).count() ==
      Snapshot.read(spark, table).filter(col("user").isNull).count())

    // prefix prune: strings starting with "day1-" live in [day1-, day1.)
    // so only day-1 files intersect; result equals the residual filter
    val (kSw, _) = prunedCount(col("text").startsWith("day1-"))
    assert(kSw > 0 && kSw < total, s"prefix prune expected, kept $kSw/$total")
    assert(Snapshot.readWhere(spark, table, col("text").startsWith("day1-"))
      .count() == 200)

    // OR keeps the union of both sides' files; unknown predicate shapes
    // (contains) keep everything — conservative, never unsafe
    val (kOr, _) = prunedCount(col("ts") < 100L || col("ts") >= 2100L)
    assert(kOr >= k1 && kOr < total)
    assert(prunedCount(col("text").contains("day"))._1 == total)
    val orGot = Snapshot.readWhere(spark, table,
      col("ts") < 100L || col("ts") >= 2100L).count()
    assert(orGot == Snapshot.read(spark, table)
      .filter(col("ts") < 100L || col("ts") >= 2100L).count())
  }

  test("stat-prune soundness: typed units, signed zero, metric shadowing, evolution") {
    import spark.implicits._
    // decimal columns store UNSCALED numbers — they must get NO stat, so a
    // cast comparison can never prune a file that holds matching rows
    val t1 = freshDir("statsdec") + "/t"
    val dec = (1 to 100).map(i => (s"c${i % 7}", BigDecimal(i)))
      .toDF("conv_id", "price")
      .select(col("conv_id"), (col("price") / 100).cast("decimal(10,2)").as("price"))
    Snapshot.write(dec, t1, "conv_id", 2)
    val pDec = col("price") <= lit(0.50)
    val (kDec, totDec) = Snapshot.pruneFiles(Paths.get(t1), 0, pDec)
    assert(kDec.size == totDec, "decimal bounds must never prune")
    assert(Snapshot.readWhere(spark, t1, pDec).count() ==
      Snapshot.read(spark, t1).filter(pDec).count())
    // chunking contradiction: an append under a different modulus must be
    // rejected, not committed (hard-linked files would prune wrongly)
    intercept[IllegalArgumentException] {
      Snapshot.append(dec, t1, "conv_id", 8)
    }

    // date (days) and timestamp (micros) literals prune in their OWN units;
    // a cross-unit comparison keeps everything and stays correct
    val t2 = freshDir("statsdt") + "/t"
    def dtBatch(off: Int) = (0 until 100).map { i =>
      val d = off + i % 30
      (s"c${i % 5}",
       java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(d)),
       java.sql.Timestamp.from(
         java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(d * 86400L)))
    }.toDF("conv_id", "d", "ts")
    // Spark's default INT96 timestamps carry no usable footer stats (and
    // get none recorded — conservative); micros output is the stats path
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Snapshot.append(dtBatch(0), t2, "conv_id", 2, tag = "m1")
      Snapshot.append(dtBatch(30), t2, "conv_id", 2, tag = "m2")
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val febD = lit(java.sql.Date.valueOf("2026-01-31"))
    val febTs = lit(java.sql.Timestamp.valueOf("2026-01-31 00:00:00"))
    val (kD, totD) = Snapshot.pruneFiles(Paths.get(t2), 1, col("d") >= febD)
    assert(kD.size * 2 <= totD, s"date prune: ${kD.size}/$totD")
    assert(Snapshot.readWhere(spark, t2, col("d") >= febD).count() ==
      Snapshot.read(spark, t2).filter(col("d") >= febD).count())
    val (kTs, _) = Snapshot.pruneFiles(Paths.get(t2), 1, col("ts") >= febTs)
    assert(kTs.size * 2 <= totD, s"ts prune: ${kTs.size}/$totD")
    assert(Snapshot.readWhere(spark, t2, col("ts") >= febTs).count() ==
      Snapshot.read(spark, t2).filter(col("ts") >= febTs).count())
    // cross-unit: timestamp literal against the DATE column — no prune, same result
    val cross = col("d") >= febTs.cast("timestamp")
    assert(Snapshot.pruneFiles(Paths.get(t2), 1, cross)._1.size == totD)
    assert(Snapshot.readWhere(spark, t2, cross).count() ==
      Snapshot.read(spark, t2).filter(cross).count())

    // SQL treats -0.0 == 0.0: a file whose bounds are [-0.0, -0.0] must
    // still match an === 0.0 lookup (zero bounds are widened at commit)
    val t3 = freshDir("statszero") + "/t"
    Snapshot.append(Seq(("a", -0.0), ("b", -0.0)).toDF("conv_id", "v"),
      t3, "conv_id", 2, tag = "z1")
    Snapshot.append(Seq(("c", 1.5)).toDF("conv_id", "v"),
      t3, "conv_id", 2, tag = "z2")
    assert(Snapshot.readWhere(spark, t3, col("v") === 0.0).count() == 2)
    assert(Snapshot.readWhere(spark, t3, col("v") === -0.0).count() == 2)

    // an Observation metric literally named "filestats" must not hijack the
    // manifest's stats array (the parser anchors on the array form)
    val t4 = freshDir("statsmet") + "/t"
    val obs = org.apache.spark.sql.Observation("shadow")
    Snapshot.write(Seq(("a", 1L), ("b", 2L)).toDF("conv_id", "n")
      .observe(obs, count(lit(1)).as("filestats")), t4, "conv_id", 2,
      observation = Some(obs))
    val (r4, c4) = Snapshot.tableStats(t4)
    assert(r4 == 2L && c4("n") == Snapshot.ColumnStats(Some(1L), Some(2L), 0L))
    assert(Snapshot.readWhere(spark, t4, col("n") === 2L).count() == 1)

    // schema evolution: predicate on a column only NEW files carry, with all
    // of them pruned — must fall back to the full read, not throw
    val t5 = freshDir("statsevo") + "/t"
    Snapshot.write(Seq(("a", 1L)).toDF("conv_id", "n"), t5, "conv_id", 2)
    Snapshot.append(Seq(("b", 2L, 50L)).toDF("conv_id", "n", "score"),
      t5, "conv_id", 2, tag = "evo")
    val evo = Snapshot.readWhere(spark, t5, col("score") > 100L, mergeSchema = true)
    assert(evo.count() == 0)
    assert(Snapshot.readWhere(spark, t5, col("score") === 50L,
      mergeSchema = true).count() == 1)
    // a QUIET incremental poll of a merged-schema consumer must still
    // surface the evolved column in its empty frame (schema can't come
    // from one arbitrary — typically pre-evolution — file)
    val quiet = Snapshot.readAppended(spark, t5,
      Snapshot.committedVersion(t5).get, mergeSchema = true)
    assert(quiet.count() == 0 && quiet.columns.contains("score"))
    // ... and compaction of that evolved table must MATERIALIZE the evolved
    // column, not silently drop it with a single-footer schema
    Snapshot.compact(spark, t5)
    val compacted = Snapshot.read(spark, t5)
    assert(compacted.columns.contains("score"))
    assert(compacted.filter(col("score") === 50L).count() == 1)

    // wall-clock (NTZ) and UTC-adjusted timestamps are DISTINCT kinds: the
    // NTZ literal prunes its own column; a TimestampType literal against an
    // NTZ column must not prune anything (session-zone cast shifts values)
    val t6 = freshDir("statsntz") + "/t"
    def ntzBatch(off: Int) = (0 until 60).map { i =>
      (s"c${i % 5}",
       java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusDays(off + i % 30))
    }.toDF("conv_id", "ts")
    Snapshot.append(ntzBatch(0), t6, "conv_id", 2, tag = "n1")
    Snapshot.append(ntzBatch(30), t6, "conv_id", 2, tag = "n2")
    val ntzCut = lit(java.time.LocalDateTime.of(2026, 1, 31, 0, 0))
    val (kN, totN) = Snapshot.pruneFiles(Paths.get(t6), 1, col("ts") >= ntzCut)
    assert(kN.size * 2 <= totN, s"ntz prune: ${kN.size}/$totN")
    assert(Snapshot.readWhere(spark, t6, col("ts") >= ntzCut).count() ==
      Snapshot.read(spark, t6).filter(col("ts") >= ntzCut).count())
    val tzLit = lit(java.sql.Timestamp.valueOf("2026-01-31 00:00:00"))
    assert(Snapshot.pruneFiles(Paths.get(t6), 1, col("ts") >= tzLit)._1.size == totN,
      "TZ literal must not prune an NTZ column")

    // tableStats stays bit-exact: a file holding only +0.0 must report
    // min = +0.0, not a fabricated widened -0.0
    val t7 = freshDir("statspz") + "/t"
    Snapshot.write(Seq(("a", 0.0), ("b", 5.0)).toDF("conv_id", "v"),
      t7, "conv_id", 1)
    val (_, c7) = Snapshot.tableStats(t7)
    assert(java.lang.Double.doubleToRawLongBits(
      c7("v").min.get.asInstanceOf[Double]) == 0L, s"fabricated -0.0: $c7")
  }

  test("z-order clustered write: predicates on EITHER dimension prune files") {
    import spark.implicits._
    GraftExtensions.registerOn(spark)
    val table = freshDir("statszo") + "/t"
    // two equal-width dimensions, independent of each other: uid is a
    // multiplicative-hash permutation of the row index, ts the index itself
    val df = (0 until 4096).map { i =>
      (s"c${i % 5}", (i * 2654435761L) % 4096, i.toLong)
    }.toDF("conv_id", "uid", "ts").repartition(8)
    Snapshot.write(df, table, "conv_id", 2,
      clusterBy = Seq("zorder2(uid, ts)"), rowsPerFile = 128)
    val tp = Paths.get(table)
    val (kU, total) = Snapshot.pruneFiles(tp, 0, col("uid") < 1024L)
    val (kT, _) = Snapshot.pruneFiles(tp, 0, col("ts") < 1024L)
    // a single-column sort prunes only its own column; the Morton key must
    // prune BOTH: each file covers roughly a quarter × quarter rectangle
    assert(total >= 16, s"expected ≥16 files, got $total")
    assert(kU.size * 2 <= total, s"uid prune: kept ${kU.size}/$total")
    assert(kT.size * 2 <= total, s"ts prune: kept ${kT.size}/$total")
    Seq(col("uid") < 1024L, col("ts") < 1024L,
        col("uid") >= 3072L && col("ts") >= 3072L).foreach { p =>
      val got = Snapshot.readWhere(spark, table, p)
        .as[(String, Long, Long)].collect().sorted.toSeq
      val want = Snapshot.read(spark, table).filter(p)
        .as[(String, Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty, s"mismatch under $p")
    }
    // compaction with the cluster key re-establishes two-dimensional
    // pruning on the rewritten files (Iceberg's sort-order rewrite)
    Snapshot.compact(spark, table,
      clusterBy = Seq("zorder2(uid, ts)"), rowsPerFile = 128)
    val (kC, totC) = Snapshot.pruneFiles(tp, 1, col("uid") < 1024L)
    assert(totC >= 16 && kC.size * 2 <= totC,
      s"post-compact prune: kept ${kC.size}/$totC")
    assert(Snapshot.readWhere(spark, table, col("uid") < 1024L).count() ==
      Snapshot.read(spark, table).filter(col("uid") < 1024L).count())
  }

  test("null chunk keys hash to the seed chunk; IS NULL prunes to it") {
    import spark.implicits._
    val table = freshDir("statsnull") + "/t"
    val df = Seq((null: String, 1L), (null, 2L), ("a", 3L), ("b", 4L),
      ("cc", 5L), ("d", 6L), ("e", 7L), ("f", 8L)).toDF("conv_id", "ts")
      .repartition(4)
    Snapshot.write(df, table, "conv_id", 4)
    val (kept, total) = Snapshot.pruneFiles(Paths.get(table), 0, col("conv_id").isNull)
    // xxhash64(null) leaves the seed (42) ⇒ null keys live in chunk 42 % 4
    assert(kept.nonEmpty && kept.size < total)
    assert(kept.forall(_.getParent.getFileName.toString == "_chunk=2"),
      s"null keys must pin chunk 2, kept: $kept")
    assert(Snapshot.readWhere(spark, table, col("conv_id").isNull).count() == 2)
    assert(Snapshot.readWhere(spark, table, col("conv_id").isNull ||
      col("conv_id") === "a").count() == 3)
  }

  test("readAppended: metadata-only incremental consumption of appends") {
    import spark.implicits._
    val table = freshDir("statsinc") + "/t"
    def day(d: Int) = (0 until 100).map(i => (s"c${i % 7}", d * 1000L + i))
      .toDF("conv_id", "ts")
    Snapshot.write(day(0), table, "conv_id", 4)          // v0
    Snapshot.append(day(1), table, "conv_id", 4, tag = "d1") // v1
    Snapshot.append(day(2), table, "conv_id", 4, tag = "d2") // v2
    def tsSet(df: org.apache.spark.sql.DataFrame) =
      df.select("ts").as[Long].collect().toSet
    // (0, tip]: days 1+2; (1, 2]: day 2; from -1: everything; (tip, tip]: empty
    assert(tsSet(Snapshot.readAppended(spark, table, 0)) ==
      (0 until 100).flatMap(i => Seq(1000L + i, 2000L + i)).toSet)
    assert(tsSet(Snapshot.readAppended(spark, table, 1, 2)) ==
      (0 until 100).map(i => 2000L + i).toSet)
    assert(Snapshot.readAppended(spark, table, -1).count() == 300)
    val empty = Snapshot.readAppended(spark, table, 2)
    assert(empty.count() == 0 && empty.columns.toSet == Set("conv_id", "ts"))
    // a rewrite commit inside the range must be refused, not over-reported
    Snapshot.upsert(Seq(("c0", 0L)).toDF("conv_id", "ts"), table) // v3 rewrite
    intercept[IllegalArgumentException] {
      Snapshot.readAppended(spark, table, 0)
    }
    // ranges that stop BEFORE the rewrite still work
    assert(Snapshot.readAppended(spark, table, 1, 2).count() == 100)
    // an explicit toVersion beyond the tip is a caller bug, reported as
    // such — not misdiagnosed as an expired snapshot
    intercept[IllegalArgumentException] {
      Snapshot.readAppended(spark, table, 0, 99)
    }
    // expired range manifests throw a curated error, not a raw missing-file
    // one; from -1 is served from the tip alone and survives expiry
    Snapshot.expireSnapshots(table, keep = 1)
    intercept[IllegalStateException] {
      Snapshot.readAppended(spark, table, 1, 2)
    }
    assert(Snapshot.readAppended(spark, table, -1).count() ==
      Snapshot.read(spark, table).count())
  }

  test("property: readWhere == read().filter over random predicate trees") {
    import spark.implicits._
    val table = freshDir("statsprop") + "/t"
    val rnd = new scala.util.Random(20260819L)
    def batch(off: Int, n: Int) = (0 until n).map { i =>
      val j = off + i
      (s"c${j % 11}", j.toLong,
       if (j % 13 == 0) null else s"g${j % 17}",
       if (j % 7 == 0) -0.0 else (j % 100) / 3.0)
    }.toDF("conv_id", "ts", "tag", "score")
    // clustered write + clustered append + unclustered append: stats-tight
    // files, hard-linked reuse, and loose files all present at the tip
    Snapshot.write(batch(0, 200), table, "conv_id", 4,
      clusterBy = Seq("ts"), rowsPerFile = 50)
    Snapshot.append(batch(200, 200), table, "conv_id", 4, tag = "d1",
      clusterBy = Seq("ts"), rowsPerFile = 50)
    Snapshot.append(batch(400, 100), table, "conv_id", 4, tag = "d2")
    val tip = Snapshot.committedVersion(table).get
    // the contract is equality with read().filter over the SAME engine
    // paths — not with a cached copy: Spark 4's own parquet pushdown
    // drops -0.0 rows for `=== 0.0` when a file's dictionary lacks +0.0
    // (dictionary filtering compares boxed doubles; verified minimal
    // repro: one file of {-0.0, -0.0, 1.5}, filter === 0.0 → 0 rows
    // pushed vs 2 unpushed), so a cache-backed baseline would diverge on
    // an UPSTREAM quirk both sides of this contract share
    val full = Snapshot.read(spark, table)
    def leaf(): org.apache.spark.sql.Column = rnd.nextInt(10) match {
      case 0 => col("ts") >= lit(rnd.nextInt(600).toLong)
      case 1 => col("ts") < lit(rnd.nextInt(600).toLong)
      case 2 => col("conv_id") === lit(s"c${rnd.nextInt(14)}") // may miss table
      case 3 => col("conv_id").isin(s"c${rnd.nextInt(11)}", s"c${rnd.nextInt(11)}")
      case 4 => col("tag") === lit(s"g${rnd.nextInt(20)}")
      case 5 => col("tag").isNull
      case 6 => col("tag").isNotNull
      case 7 => col("score") <= lit(rnd.nextDouble() * 40 - 5)
      case 8 => col("score") === lit(0.0) // must still find the -0.0 rows
      case 9 => col("conv_id").startsWith(if (rnd.nextBoolean()) "c1" else "zz")
    }
    def tree(d: Int): org.apache.spark.sql.Column =
      if (d == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => tree(d - 1) && tree(d - 1)
        case 1 => tree(d - 1) || tree(d - 1)
        case _ => leaf()
      }
    var pruned = 0
    (1 to 40).foreach { i =>
      val p = tree(2)
      val (kept, total) = Snapshot.pruneFiles(Paths.get(table), tip, p)
      if (kept.size < total) pruned += 1
      val got = Snapshot.readWhere(spark, table, p)
        .collect().map(_.toString).sorted.toSeq
      val want = full.filter(p).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"predicate #$i diverged (kept ${kept.size}/$total): $p")
    }
    // the generator must actually exercise pruning, not just pass vacuously
    assert(pruned >= 10, s"only $pruned/40 predicates pruned any file")
  }

  test("tableStats: exact count/min/max/nulls from the manifest alone") {
    import spark.implicits._
    val table = freshDir("statssum") + "/t"
    def batch(off: Int) = (0 until 500).map { i =>
      val j = off + i
      (s"c${j % 13}", j.toLong, if (j % 7 == 0) null else s"u${j % 31}",
       j * 0.5 - 100.0)
    }.toDF("conv_id", "ts", "user", "score")
    Snapshot.write(batch(0), table, "conv_id", 4)
    Snapshot.append(batch(500), table, "conv_id", 4, tag = "d1")
    val (rows, cols) = Snapshot.tableStats(table)
    assert(rows == 1000L)
    // every reported value must equal the scanned truth
    val truth = Snapshot.read(spark, table).agg(
      min("ts"), max("ts"), min("user"), max("user"),
      sum(when(col("user").isNull, 1L).otherwise(0L)),
      min("score"), max("score"), min("conv_id"), max("conv_id"))
      .collect()(0)
    assert(cols("ts") == Snapshot.ColumnStats(Some(truth.getLong(0)), Some(truth.getLong(1)), 0L))
    assert(cols("user") == Snapshot.ColumnStats(Some(truth.getString(2)), Some(truth.getString(3)), truth.getLong(4)))
    assert(cols("score") == Snapshot.ColumnStats(Some(truth.getDouble(5)), Some(truth.getDouble(6)), 0L))
    assert(cols("conv_id") == Snapshot.ColumnStats(Some(truth.getString(7)), Some(truth.getString(8)), 0L))

    // a string column with >48-byte values is truncation-approximated and
    // must be OMITTED (exact-only contract), never mis-reported
    val tl = freshDir("statssum2") + "/t"
    val wide = (0 until 50).map(i => (s"c$i", "x" * 80 + i)).toDF("conv_id", "blob")
    Snapshot.write(wide, tl, "conv_id", 2)
    val (r2, c2) = Snapshot.tableStats(tl)
    assert(r2 == 50L && c2.contains("conv_id") && !c2.contains("blob"))
  }

  test("chunk-hash pruning on a LONG key hashes at the file's physical type") {
    import spark.implicits._
    val table = freshDir("statslk") + "/t"
    val df = (0 until 1000).map(i => (i.toLong % 50, i)).toDF("uid", "v")
      .repartition(4)
    Snapshot.write(df, table, "uid", 8)
    val (kept, total) = Snapshot.pruneFiles(Paths.get(table), 0, col("uid") === 13L)
    assert(kept.nonEmpty && kept.size * 2 <= total,
      s"long-key chunk prune: ${kept.size}/$total")
    val got = Snapshot.readWhere(spark, table, col("uid") === 13L)
      .as[(Long, Int)].collect().sorted.toSeq
    assert(got == Snapshot.read(spark, table).filter(col("uid") === 13L)
      .as[(Long, Int)].collect().sorted.toSeq)
    assert(got.size == 20)
    // an Int literal against the i64 column must hash as LONG — the file's
    // physical type, not the literal's — or the lookup would miss its chunk
    val (keptInt, _) = Snapshot.pruneFiles(Paths.get(table), 0, col("uid") === 13)
    assert(keptInt.map(_.toString) == kept.map(_.toString))
    assert(Snapshot.readWhere(spark, table, col("uid") === 13).count() == 20)
  }

  test("readWhere stats survive compaction and upsert rewrites") {
    import spark.implicits._
    val table = freshDir("statscow") + "/t"
    def batch(d: Int) = (0 until 100).map(i => (s"c${i % 5}", d * 1000L + i))
      .toDF("conv_id", "ts")
    (0 to 1).foreach(d => Snapshot.append(batch(d), table, "conv_id", 4, tag = s"d$d"))
    // upsert rewrites only the touched chunks; untouched chunks hard-link and
    // must REUSE their parent stats (same file key) — prune still works
    Snapshot.upsert(Seq(("c0", 50L)).toDF("conv_id", "ts"), table)
    val v = Snapshot.committedVersion(table).get
    val (kept, total) = Snapshot.pruneFiles(Paths.get(table), v, col("ts") >= 1000L)
    assert(kept.size < total, s"prune lost after upsert: $kept/$total")
    val got = Snapshot.readWhere(spark, table, col("ts") >= 1000L).count()
    assert(got == Snapshot.read(spark, table).filter(col("ts") >= 1000L).count())
    // compaction rewrites every file (one per hash chunk, so each spans all
    // days — range prunes keep them all); fresh footers must still re-derive
    // stats: an out-of-range predicate prunes every rewritten file
    Snapshot.compact(spark, table)
    val v2 = Snapshot.committedVersion(table).get
    val (kept2, total2) = Snapshot.pruneFiles(Paths.get(table), v2, col("ts") > 99999L)
    assert(total2 > 0 && kept2.isEmpty,
      s"compacted files missing stats: ${kept2.size}/$total2 kept")
    assert(Snapshot.readWhere(spark, table, col("ts") < 1000L).count() ==
      Snapshot.read(spark, table).filter(col("ts") < 1000L).count())
  }

  test("clustered write: range predicates prune files INSIDE hash chunks") {
    import spark.implicits._
    val table = freshDir("statsclu") + "/t"
    // 4 hash chunks — unclustered, each file spans the whole ts range and a
    // narrow ts predicate prunes nothing; clustered by ts with small files,
    // each chunk splits into sorted disjoint-range files and the same
    // predicate must keep only a fraction of them
    val df = (0 until 4000).map(i => (s"c${i % 23}", i.toLong, s"t$i"))
      .toDF("conv_id", "ts", "text").repartition(8)
    Snapshot.write(df, table, "conv_id", 4,
      clusterBy = Seq("ts"), rowsPerFile = 250)
    val pred = col("ts") >= 3000L && col("ts") < 3250L
    val (kept, total) = Snapshot.pruneFiles(Paths.get(table), 0, pred)
    assert(total >= 16, s"rowsPerFile split expected ≥16 files, got $total")
    assert(kept.size * 2 <= total,
      s"clustered prune should drop most files: kept ${kept.size}/$total")
    val got = Snapshot.readWhere(spark, table, pred)
      .as[(String, Long, String)].collect().sorted.toSeq
    val want = Snapshot.read(spark, table).filter(pred)
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(got == want && got.size == 250)

    // point lookup on the CHUNK KEY: the value hashes to exactly one chunk,
    // so only that chunk's files survive — no stat comparison needed
    val (kc, totC) = Snapshot.pruneFiles(Paths.get(table), 0, col("conv_id") === "c7")
    assert(kc.nonEmpty && kc.size * 2 <= totC,
      s"chunk-hash prune should keep one chunk's files: ${kc.size}/$totC")
    assert(kc.map(_.getParent.getFileName.toString).toSet.size == 1,
      "all surviving files must come from a single chunk dir")
    val gotKey = Snapshot.readWhere(spark, table, col("conv_id") === "c7")
      .as[(String, Long, String)].collect().sorted.toSeq
    val wantKey = Snapshot.read(spark, table).filter(col("conv_id") === "c7")
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(gotKey == wantKey && gotKey.nonEmpty)
    // IN over two key values: union of their chunks; combined with a ts
    // range, both prunes compose
    val predIn = col("conv_id").isin("c7", "c11") && col("ts") < 500L
    val (kIn, _) = Snapshot.pruneFiles(Paths.get(table), 0, predIn)
    assert(kIn.size <= kc.size * 2)
    assert(Snapshot.readWhere(spark, table, predIn).count() ==
      Snapshot.read(spark, table).filter(predIn).count())

    // clustered delta append: day-2 batch keeps per-file tightness too
    val df2 = (4000 until 8000).map(i => (s"c${i % 23}", i.toLong, s"t$i"))
      .toDF("conv_id", "ts", "text").repartition(8)
    Snapshot.append(df2, table, "conv_id", 4,
      tag = "day2", clusterBy = Seq("ts"), rowsPerFile = 250)
    val pred2 = col("ts") >= 7000L && col("ts") < 7250L
    val (kept2, total2) = Snapshot.pruneFiles(Paths.get(table), 1, pred2)
    assert(kept2.size * 4 <= total2,
      s"appended clustered prune: kept ${kept2.size}/$total2")
    assert(Snapshot.readWhere(spark, table, pred2).count() == 250)
    // full-content sanity after both commits
    assert(Snapshot.read(spark, table).count() == 8000)
  }

  test("claimManifest: atomic-exclusive commit — replay no-op, racing writer fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("claim-spec")
    Snapshot.claimManifest(dir, 3, """{"snapshot":"3","rows":"1"}""")       // fresh claim
    assert(java.nio.file.Files.readString(dir.resolve("manifest-v3.json"))
      == """{"snapshot":"3","rows":"1"}""")
    Snapshot.claimManifest(dir, 3, """{"snapshot":"3","rows":"1"}""")       // own replay: no-op
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshot.claimManifest(dir, 3, """{"snapshot":"3","rows":"2"}""")     // a SECOND writer
    }
    assert(e.getMessage.contains("single-writer"))
    // the winner's manifest survives untouched and no tmp litter remains
    assert(java.nio.file.Files.readString(dir.resolve("manifest-v3.json"))
      == """{"snapshot":"3","rows":"1"}""")
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
      == Set("manifest-v3.json"))
  }

  test("tmp litter from a killed claim is never a phantom committed version") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("phantom").toString
    Snapshot.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), table, "k", 2)
    // a writer killed between writeString(tmp) and link() leaves exactly this
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table, "manifest-v9.json.tmp-12345-6789"), "{}")
    assert(Snapshot.committedVersion(table).contains(0),
      "phantom version from tmp litter") // NOT 9
    assert(Snapshot.read(spark, table).count() == 2) // reads resolve v0, not v9
    Snapshot.append(Seq(("c", 3L)).toDF("k", "v"), table, "k", 2)
    assert(Snapshot.committedVersion(table).contains(1)) // next commit is 1, no gap
    assert(Snapshot.read(spark, table).count() == 3)
    // litter for a COMMITTED version (kill between link and tmp delete) is
    // swept by the next recovery pass
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table, "manifest-v1.json.tmp-42-42"), "{}")
    Snapshot.committedVersion(table)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifest-v1.json.tmp-42-42")))
  }

  test("delete/upsert on schema-evolved tables: evolved columns survive even when no touched file carries them") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("evodel").toString + "/t"
    Snapshot.write(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"), table, "k", 4)
    // delta append adds column 'extra'; its files land only in SOME chunks
    Snapshot.append(Seq(("d", 4L, "x")).toDF("k", "v", "extra"), table, "k", 4)
    // premise check: the deleted key's chunk must NOT be d's chunk, so its
    // touched-dir read cannot see any extra-bearing file (the crash path)
    val chunkOf = Seq("a", "d").toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(4)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chunkOf("a") != chunkOf("d"),
      "fixture premise broken: pick a different deletion key")
    // delete a key whose chunk has NO extra-bearing file: must not throw,
    // and the merged schema (null-filled) must survive the rewrite
    Snapshot.deleteKeys(Seq("a").toDF("k"), table)
    val afterDel = Snapshot.read(spark, table, mergeSchema = true)
    assert(afterDel.columns.sorted.toSeq == Seq("extra", "k", "v"))
    assert(afterDel.count() == 3)
    assert(afterDel.filter(col("k") === "d").select("extra").head.getString(0) == "x")
    // upsert through the same path keeps the evolved column too
    Snapshot.upsert(Seq(("b", 20L)).toDF("k", "v"), table)
    val afterUp = Snapshot.read(spark, table, mergeSchema = true)
    assert(afterUp.columns.sorted.toSeq == Seq("extra", "k", "v"))
    assert(afterUp.filter(col("k") === "b").select("v").head.getLong(0) == 20L)
    assert(afterUp.filter(col("k") === "d").select("extra").head.getString(0) == "x")
  }

  test("reserved _chunk column and absent-table expiry fail safe") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("guards").toString + "/t"
    val bad = Seq(("a", 1L)).toDF("k", "_chunk")
    intercept[IllegalArgumentException] { Snapshot.write(bad, table, "k", 2) }
    assert(Snapshot.expireSnapshots(table + "/never-written") == Nil)
    val e = intercept[IllegalStateException] {
      Snapshot.manifestJson(table + "/never-written")
    }
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("chunk keys needing JSON escapes survive append, upsert, compact and readWhere") {
    import spark.implicits._
    // (full content, readWhere rows, files kept by the chunk-key prune, total)
    def run(key: String) = {
      val table = freshDir("esckey") + "/t"
      def batch(rows: Seq[(String, Long, String)]) = rows.toDF(key, "n", "src")
      Snapshot.write(batch((0 until 20).map(i => (s"c$i", i.toLong, "w"))), table, key, 4)
      Snapshot.append(batch((20 until 30).map(i => (s"c$i", i.toLong, "a"))),
        table, key, 4, tag = "a1")
      Snapshot.upsert(batch(Seq(("c3", 300L, "u"), ("c40", 40L, "u"))), table, tag = "u1")
      Snapshot.compact(spark, table)
      assert(Snapshot.committedTags(table) == Set("a1", "u1"))
      val hit = col(key) === "c3" || col(key) === "c25"
      val (kept, total) = Snapshot.pruneFiles(Paths.get(table), 3, col(key) === "c3")
      (Snapshot.read(spark, table).as[(String, Long, String)].collect().sorted.toSeq,
        Snapshot.readWhere(spark, table, hit).as[(String, Long, String)].collect().sorted.toSeq,
        kept.size, total)
    }
    val plain = run("k")
    assert(plain._2 == Seq(("c25", 25L, "a"), ("c3", 300L, "u")))
    assert(plain._3 < plain._4, s"chunk-key prune kept every file: $plain")
    for (key <- Seq("k\"x", "k\\x")) assert(run(key) == plain, s"chunk key $key")
  }

  test("head readers never parse the manifest body") {
    import spark.implicits._
    val table = freshDir("headonly") + "/t"
    def commit(n: Int): Unit = {
      val obs = org.apache.spark.sql.Observation(s"head$n")
      val df = (0 until n).map(i => (s"c$n-$i", i.toLong)).toDF("conv_id", "v")
        .observe(obs, count(lit(1)).as("rows_in"))
      Snapshot.append(df, table, "conv_id", 2, observation = Some(obs), tag = s"b$n")
    }
    commit(5); commit(6); commit(7) // v0..v2
    // everything after a manifest's "filestats":[ becomes bytes that do not parse
    def tear(v: Int): Unit = {
      val mf = Paths.get(table, s"manifest-v$v.json")
      val txt = Files.readString(mf)
      val body = txt.indexOf("\"filestats\":[")
      assert(body > 0)
      Files.writeString(mf, txt.substring(0, body + "\"filestats\":[".length) + "{not json\u0000")
    }
    tear(1)
    intercept[IllegalArgumentException] { Snapshot.tableStats(table, 1) }
    assert(Snapshot.committedTags(table) == Set("b5", "b6", "b7"))
    assert(Snapshot.metricsOfTag(table, "b6") == Some(Map("rows_in" -> 6L)))
    assert(Snapshot.metricsHistory(spark, table).as[(Int, String, String, Long)]
      .collect().toSeq == Seq((0, "b5", "rows_in", 5L), (1, "b6", "rows_in", 6L),
        (2, "b7", "rows_in", 7L)))
    // v1 is interior to (0, 2]: only its head is probed for the append flag
    assert(Snapshot.readAppended(spark, table, 0, 2).select("conv_id").as[String]
      .collect().toSet == ((0 until 6).map(i => s"c6-$i") ++ (0 until 7).map(i => s"c7-$i")).toSet)
    // a full write links no parent file, so a torn tip body cannot stop it
    tear(2)
    Snapshot.write((0 until 4).map(i => (s"w-$i", i.toLong)).toDF("conv_id", "v"),
      table, "conv_id", 2)
    assert(Snapshot.committedVersion(table).contains(3))
    assert(Snapshot.read(spark, table).select("conv_id").as[String].collect().toSet ==
      (0 until 4).map(i => s"w-$i").toSet)
  }

  test("stat soundness: parquet-omitted large-binary bounds never read as all-null") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("bigstats").toString + "/t"
    // min+max of this column exceed parquet-mr's 4 KB MAX_STATS_SIZE, so the
    // writer DROPS the chunk bounds while keeping null_count = 0 — which the
    // pruner must not read as "all-null" (it used to, pruning every file)
    val big = "Z" * 5000
    val rows = (0 until 40).map(i => (s"k$i", i.toLong, big + i))
    Snapshot.write(rows.toDF("k", "ts", "txt"), table, "k", 2)
    assert(Snapshot.readWhere(spark, table,
      col("txt") === (big + "7")).count() == 1)
    assert(Snapshot.readWhere(spark, table, col("txt").isNotNull).count() == 40)
    assert(Snapshot.readWhere(spark, table, col("txt") > big).count() == 40)
    // the short columns around it still carry sound, prunable stats
    assert(Snapshot.readWhere(spark, table, col("ts") < 10L).count() == 10)
  }

  test("model-based op-sequence fuzz: table == in-memory model after every op") {
    import spark.implicits._
    // a seeded random interleaving of every mutating op, checked after each
    // step against a trivial in-memory model — the invariant a 10^12-row
    // table must keep through any append/upsert/delete/compact history
    val rnd = new scala.util.Random(0xC0FFEE)
    val table = java.nio.file.Files.createTempDirectory("model-fuzz").toString + "/t"
    def rows(n: Int): Seq[(String, Long, String)] =
      Seq.fill(n)((s"k${rnd.nextInt(40)}", rnd.nextInt(1000).toLong,
        s"v${rnd.nextInt(100000)}"))
    var model = rows(60)
    Snapshot.write(model.toDF("k", "ts", "txt"), table, "k", 4)
    def checkEq(step: String): Unit = {
      val got = Snapshot.read(spark, table).as[(String, Long, String)].collect()
      assert(got.sorted.toSeq == model.sorted, s"content mismatch after $step")
      val c = rnd.nextInt(1000) // random stat-prunable predicate each step
      assert(Snapshot.readWhere(spark, table, col("ts") < c).count() ==
        model.count(_._2 < c), s"readWhere mismatch after $step")
    }
    checkEq("write")
    // per-version model history: index v holds the model after version v
    // committed, and appendedAt(v) the rows version v added (append ops only)
    val history = scala.collection.mutable.ArrayBuffer(model)
    val appendedAt = scala.collection.mutable.Map.empty[Int, Seq[(String, Long, String)]]
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 =>
          val b = rows(20); model = model ++ b
          Snapshot.append(b.toDF("k", "ts", "txt"), table, "k", 4)
          appendedAt(history.length) = b
        case 1 =>
          val b = rows(10); val bk = b.map(_._1).toSet
          model = model.filterNot(r => bk(r._1)) ++ b
          Snapshot.upsert(b.toDF("k", "ts", "txt"), table)
        case 2 =>
          val ks = Seq.fill(5)(s"k${rnd.nextInt(40)}").distinct
          val kset = ks.toSet
          model = model.filterNot(r => kset(r._1))
          Snapshot.deleteKeys(ks.toDF("k"), table)
        case 3 =>
          Snapshot.compact(spark, table) // content no-op
      }
      history += model
      checkEq(s"step $step")
    }
    // time travel: EVERY retained version replays its model state exactly
    history.zipWithIndex.foreach { case (m, v) =>
      val got = Snapshot.read(spark, table, version = v)
        .as[(String, Long, String)].collect()
      assert(got.sorted.toSeq == m.sorted, s"time travel to v$v")
    }
    // incremental consumption: each append version's delta is exactly its batch
    appendedAt.foreach { case (v, b) =>
      val got = Snapshot.readAppended(spark, table, v - 1, v)
        .as[(String, Long, String)].collect()
      assert(got.sorted.toSeq == b.sorted, s"readAppended($v)")
    }
    // expiry epilogue: keep 2 — the tip and its parent still replay their
    // models, anything older errors, and the live read is unchanged
    val tip = history.length - 1
    Snapshot.expireSnapshots(table, keep = 2)
    checkEq("post-expiry")
    assert(Snapshot.read(spark, table, version = tip - 1)
      .as[(String, Long, String)].collect().sorted.toSeq == history(tip - 1).sorted)
    intercept[Exception] {
      Snapshot.read(spark, table, version = tip - 2).collect()
    }
  }
}
