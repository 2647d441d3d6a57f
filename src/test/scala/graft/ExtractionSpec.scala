package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.operators.Extraction
import graft.sources.TranscriptGen

/** Golden-file equality for the north-rule invariant: the distributed pipeline
  * must equal the single-threaded oracle 100%, per turn, under stable
  * (conv_id, turn_idx) ordering — for any partitioning / skew routing. */
class ExtractionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.{jobTasksOf, jobsOf}

  private lazy val profile =
    FixtureGen.Profile(numConvs = 120, monsterEvery = 29, monsterTurns = 150,
      invalidEvery = 11)
  private lazy val oracle: Seq[TurnResult] =
    ConvParser.parseAll(FixtureGen.turns(profile))
      .sortBy(t => (t.conv_id, t.turn_idx))

  private def sortedResults(ds: org.apache.spark.sql.Dataset[TurnResult]): Seq[TurnResult] =
    ds.collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))

  /** `profile`'s turns as a parquet directory of `files` files. */
  private def parquetTurns(p: FixtureGen.Profile, files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("turns-parquet").resolve("t").toString
    TranscriptGen.materialize(spark, p, dir, files)
    dir
  }

  private def readTurns(dir: String): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(org.apache.spark.sql.Encoders.product[Turn].schema).parquet(dir).as[Turn]
  }

  test("distributed extraction == oracle (scrambled input, default path)") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 8)
    val got = sortedResults(Extraction.extract(turns, Extraction.Config(numPartitions = 8)))
    assert(got.size == oracle.size)
    got.zip(oracle).foreach { case (g, o) => assert(g == o, s"mismatch at ${o.conv_id}/${o.turn_idx}") }
  }

  test("partition-count invariance (local[1]-equivalent vs wide)") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 5)
    val one = sortedResults(Extraction.extract(turns, Extraction.Config(numPartitions = 1)))
    val wide = sortedResults(Extraction.extract(turns, Extraction.Config(numPartitions = 32)))
    assert(one == wide)
    assert(one == oracle)
  }

  test("skew-aware routing (monster isolation) == oracle") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 8)
    val got = sortedResults(Extraction.extractSkewAware(turns,
      Extraction.Config(numPartitions = 8, monsterThreshold = 60)))
    assert(got == oracle)
  }

  test("skew spread: one exact-id exchange into four tasks per core unless the bound rules out a heavy conversation") {
    val turns = readTurns(parquetTurns(profile, files = 2))
    val spread = math.max(8, 4 * spark.sparkContext.defaultParallelism)
    // threshold 60: the footer bound admits a heavy conversation (the
    // profile has 150-rule ones); Long.MaxValue: the bound rules one out
    for ((threshold, partitions) <- Seq((60L, spread), (Long.MaxValue, 8))) {
      val results = Extraction.extractSkewAware(turns,
        Extraction.Config(numPartitions = 8, monsterThreshold = threshold))
      val plan = results.queryExecution.executedPlan.toString.toLowerCase
      assert("exchange".r.findAllIn(plan).length == 1 &&
        plan.contains("exchange shufflepartitionidpassthrough"), s"not one exact-id exchange:\n$plan")
      Seq("rangepartitioning", "aggregate", "broadcasthashjoin").foreach(op =>
        assert(!plan.contains(op), s"$op in plan:\n$plan"))
      assert(results.rdd.getNumPartitions == partitions, s"threshold $threshold")
      assert(sortedResults(results) == oracle)
    }
  }

  test("rowBound: parquet footers read until the bound passes; maxRows; None for a LogicalRDD") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = parquetTurns(profile, files = 4)
    val all = readTurns(dir)
    val kept = all.filter(col("turn_idx") >= 0).select("*").as[Turn]
    assert(Extraction.rowBound(kept, Long.MaxValue) == Some(kept.count()))
    val narrowed = all.filter(col("conv_id") === "conv00000003")
    assert(Extraction.rowBound(narrowed, Long.MaxValue).exists(_ >= narrowed.count()))
    // footers are read lazily: no more than it takes to pass the threshold
    val rows = graft.sources.Snapshot.footerRows(spark.sessionState.newHadoopConf())
    val perFile = all.inputFiles.map(rows)
    assert(perFile.length == 4 && perFile.sum == kept.count())
    for (stopAbove <- Seq(0L, perFile.head, perFile.take(2).sum + 1, perFile.sum)) {
      val read = scala.collection.mutable.ArrayBuffer[Long]()
      val bound = Extraction.rowBound(kept, stopAbove,
        conf => { val rs = graft.sources.Snapshot.footerRows(conf)
          f => { val r = rs(f); read += r; r } })
      assert(bound.contains(read.sum))
      assert(read.init.sum <= stopAbove && (read.sum > stopAbove || read.length == perFile.length),
        s"stopAbove $stopAbove read footers ${read.mkString(",")}")
    }
    // a local relation: its maxRows
    val local = FixtureGen.turns(profile).take(7).toDS()
    assert(Extraction.rowBound(local, Long.MaxValue) == Some(7L))
    // a generated LogicalRDD has no bound; building the skew path runs no
    // Spark job for it, nor for a bounded parquet batch
    val generated = TranscriptGen.generate(spark, profile, parallelism = 4)
    val lrdd = spark.createDataFrame(generated.toDF.rdd, generated.schema).as[Turn]
    assert(Extraction.rowBound(lrdd, Long.MaxValue).isEmpty)
    val cfg = Extraction.Config(numPartitions = 4, monsterThreshold = perFile.sum)
    assert(jobsOf(Extraction.extractSkewAware(lrdd, cfg)) == 0)
    assert(jobsOf(Extraction.extractSkewAware(kept, cfg)) == 0)
    assert(sortedResults(Extraction.extractSkewAware(kept, cfg)) == oracle)
  }

  test("rowBound: an unreadable footer gives no bound, so the skew path spreads; results still == oracle") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = parquetTurns(profile, files = 2)
    val first = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(first.toPath)
    // a truncated copy: Spark skips it as corrupt, the footer read throws
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-zz-truncated.parquet"),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val key = "spark.sql.files.ignoreCorruptFiles"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val turns = readTurns(dir).filter(col("turn_idx") >= 0).as[Turn]
      assert(Extraction.rowBound(turns, Long.MaxValue).isEmpty)
      // the bound is unknown, so even a threshold above the table's size spreads
      val cfg = Extraction.Config(numPartitions = 4, monsterThreshold = Long.MaxValue)
      assert(jobsOf(Extraction.extractSkewAware(turns, cfg)) == 0)
      val results = Extraction.extractSkewAware(turns, cfg)
      assert(results.rdd.getNumPartitions == math.max(4, 4 * spark.sparkContext.defaultParallelism))
      assert(sortedResults(results) == oracle)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("incrementalCommit of a below-threshold parquet batch runs two Spark jobs") {
    import org.apache.spark.sql.functions.col
    val p = FixtureGen.Profile(numConvs = 24, monsterEvery = 0, invalidEvery = 5)
    val dir = parquetTurns(p, files = 2)
    val table = java.nio.file.Files.createTempDirectory("inc-jobs").resolve("t").toString
    val cfg = Extraction.Config(numPartitions = 4)
    val day1 = readTurns(dir).filter(col("conv_id") < "conv00000012")
    val day2 = readTurns(dir).filter(col("conv_id") >= "conv00000012")
    assert(Extraction.rowBound(day2, cfg.monsterThreshold).exists(_ <= cfg.monsterThreshold))
    // the first commit writes the table, the second appends to it: both
    // run the routing shuffle and the FSM + staged write, nothing else
    assert(jobsOf(Extraction.incrementalCommit(day1, table, cfg, numChunks = 4)) == 2)
    assert(jobsOf(Extraction.incrementalCommit(day2, table, cfg, numChunks = 4,
      batchTag = "day2")) == 2)
    assert(graft.sources.Snapshot.read(spark, table).count() == readTurns(dir).count())
  }

  test("commit routing agrees with the chunks when numPartitions != numChunks") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import scala.jdk.CollectionConverters._
    val p = FixtureGen.Profile(numConvs = 30, monsterEvery = 0, invalidEvery = 7)
    val turns = readTurns(parquetTurns(p, files = 2))
    val want = ConvParser.parseAll(FixtureGen.turns(p)).map(t => (t.conv_id, t.turn_idx)).sorted
    def distinctMod(m: Int): Int =
      turns.select(pmod(xxhash64(col("conv_id")), lit(m))).distinct().count().toInt
    val light = Extraction.Config().monsterThreshold
    assert(Extraction.rowBound(turns, light).exists(_ <= light))
    // (numPartitions, numChunks, monsterThreshold) -> FSM tasks: a divisor
    // of the chunk count (each task holds whole chunks) or a multiple (one
    // chunk a task). Threshold 1 admits a heavy conversation: the spread
    // (four tasks per core) is capped at numChunks, so one file per chunk
    for ((parts, chunks, threshold, tasks) <- Seq((3, 8, light, 4), (6, 4, light, 8),
                                                  (4, 4, 1L, 4), (3, 8, 1L, 8))) {
      val table = java.nio.file.Files.createTempDirectory("aligned").resolve("t").toString
      val jobTasks = jobTasksOf(Extraction.incrementalCommit(turns, table,
        Extraction.Config(numPartitions = parts, monsterThreshold = threshold), numChunks = chunks))
      assert(jobTasks.size == 2 && jobTasks.last == tasks,
        s"numPartitions $parts, numChunks $chunks, threshold $threshold: result-stage tasks per job $jobTasks")
      val got = graft.sources.Snapshot.read(spark, table).select("conv_id", "turn_idx")
        .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      assert(got == want)
      val perChunk = java.nio.file.Files.list(java.nio.file.Paths.get(table, "v0")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("_chunk="))
        .map(d => java.nio.file.Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))).toSeq
      assert(perChunk.size == distinctMod(chunks))
      assert(perChunk.sum == (if (tasks <= chunks) distinctMod(chunks) else distinctMod(tasks)),
        s"numPartitions $parts, numChunks $chunks: files per chunk ${perChunk.mkString(",")}")
    }
  }

  test("null-text turns parse as empty pages (no NPE) on every plane") {
    import spark.implicits._
    val turns = Seq(
      Turn("cN", 0, "user", null, "", new java.sql.Timestamp(0L)),
      Turn("cN", 1, "user", "plain text", "", new java.sql.Timestamp(1L))).toDS
    val viaExtract = Extraction.extract(turns, Extraction.Config(numPartitions = 2))
      .collect().sortBy(_.turn_idx)
    assert(viaExtract.length == 2)
    val viaSkew = Extraction.extractSkewAware(turns,
      Extraction.Config(numPartitions = 2, monsterThreshold = 0))
      .collect().sortBy(_.turn_idx)
    assert(viaSkew.toSeq == viaExtract.toSeq)
    // null text == empty text, the defined degradation
    val emptyTurns = Seq(
      Turn("cN", 0, "user", "", "", new java.sql.Timestamp(0L)),
      Turn("cN", 1, "user", "plain text", "", new java.sql.Timestamp(1L))).toDS
    val viaEmpty = Extraction.extract(emptyTurns, Extraction.Config(numPartitions = 2))
      .collect().sortBy(_.turn_idx)
    assert(viaExtract.toSeq == viaEmpty.toSeq)
    // the sibling text-kernel planes share the null ≡ empty-page contract
    val slim = Seq(TurnSlim("cN", 0, null), TurnSlim("cN", 1, "Col | A\nv | 1")).toDS
    assert(graft.operators.LineSections.lineFsm(slim, 2).collect() != null)
    assert(graft.operators.LineSections.keywordWindows(slim).collect() != null)
    assert(graft.operators.TableBlocks.extract(slim).collect().nonEmpty)
  }

  test("maxMonsters cap is output-invisible (placement-only)") {
    // the spread is placement-only: threshold 1 turns it on (the footer
    // bound admits a heavy conversation), Long.MaxValue turns it off
    val turns = readTurns(parquetTurns(profile, files = 2))
    val on = Extraction.extractSkewAware(turns,
      Extraction.Config(numPartitions = 8, monsterThreshold = 1))
    val off = Extraction.extractSkewAware(turns,
      Extraction.Config(numPartitions = 8, monsterThreshold = Long.MaxValue))
    assert(on.rdd.getNumPartitions > off.rdd.getNumPartitions)
    val got = sortedResults(on)
    assert(got == sortedResults(off))
    assert(got == oracle)
  }

  test("bucketed plane: extractBucketed == oracle AND plans no exchange") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 8)
    val tmp = java.nio.file.Files.createTempDirectory("bucketed-turns").toString
    Extraction.writeBucketed(turns, "bucketed_turns_spec", tmp, buckets = 8)
    try {
      val results = Extraction.extractBucketed(spark, "bucketed_turns_spec",
        Extraction.Config())
      assert(sortedResults(results) == oracle)
      // the ClusteredDistribution(conv_id) must be satisfied by the bucketed
      // scan itself: the executed plan contains NO shuffle exchange
      val plan = results.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected exchange in plan:\n$plan")
      // one sorted file per bucket (repartition hash == bucket hash)
      val files = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-")).toSeq
      assert(files.size == 8, s"expected 8 bucket files, got ${files.size}")
    } finally spark.sql("DROP TABLE IF EXISTS bucketed_turns_spec")
  }

  test("conversationDocs: stable turn order under scrambled distributed input") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 7)
    val got = Extraction.conversationDocs(turns).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2)))).toMap
    val model = FixtureGen.turns(profile).groupBy(_.conv_id).map { case (c, ts) =>
      (c, (ts.sortBy(_.turn_idx).map(_.text).mkString("\n"), ts.size.toLong))
    }
    assert(got == model)
  }

  test("lossMaskSpans: offsets slice the conversationDocs text back to each turn") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 5)
    val docs = Extraction.conversationDocs(turns).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val spans = Extraction.lossMaskSpans(turns).collect()
    assert(spans.nonEmpty)
    val byTurn = FixtureGen.turns(profile)
      .map(t => (t.conv_id, t.turn_idx) -> t).toMap
    spans.foreach { r =>
      val (c, i) = (r.getString(0), r.getInt(1))
      val (s0, e0) = (r.getLong(2).toInt, r.getLong(3).toInt)
      val t = byTurn((c, i))
      assert(docs(c).substring(s0, e0) == t.text, s"span mismatch at $c#$i")
      assert(r.getBoolean(4) == (t.role == "assistant"))
    }
    // full coverage: every non-null turn appears exactly once
    assert(spans.length == FixtureGen.turns(profile).count(_.text != null))
  }

  test("records/spans views are consistent with the per-turn results") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 8)
    val results = Extraction.extract(turns, Extraction.Config(numPartitions = 8))
    val recs = Extraction.records(results).collect()
    assert(recs.length == oracle.count(_.record.isDefined))
    val spanCount = Extraction.spansLong(results).count()
    assert(spanCount == oracle.map(_.spans.size).sum)
  }

  test("incrementalCommit: two delta appends == one full recompute; files reused") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val p = FixtureGen.Profile(numConvs = 40, monsterEvery = 19,
      monsterTurns = 60, invalidEvery = 11)
    val all = TranscriptGen.generate(spark, p, parallelism = 4)
    val table = java.nio.file.Files.createTempDirectory("inc-extract").toString
    val cfg = Extraction.Config(numPartitions = 4)
    // day 1: first 20 conversations; day 2: the remaining 20, with a tiny
    // threshold that its heavy conversations pass — still one full recompute
    val tiny = cfg.copy(monsterThreshold = 30)
    val batch1 = all.filter(col("conv_id") < "conv00000020")
    val batch2 = all.filter(col("conv_id") >= "conv00000020")
    Extraction.incrementalCommit(batch1, table, cfg, numChunks = 4)
    Extraction.incrementalCommit(batch2, table, tiny, numChunks = 4)
    val incremental = graft.sources.Snapshot.read(spark, table)
      .collect().map(_.toString).sorted.toSeq
    val full = {
      val (df, _) = Extraction.observed(Extraction.extractSkewAware(all, cfg))
      df.collect().map(_.toString).sorted.toSeq
    }
    assert(incremental == full, "delta appends must equal the full recompute")
    // append reused day-1 files via hard links: every v0 parquet file name
    // appears unchanged in v1 alongside the s1- prefixed delta files
    import scala.jdk.CollectionConverters._
    def names(v: Int) = java.nio.file.Files.walk(java.nio.file.Paths.get(table, s"v$v"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    val (v0, v1) = (names(0), names(1))
    assert(v0.subsetOf(v1), "append must reuse every parent data file")
    assert((v1 -- v0).nonEmpty && (v1 -- v0).forall(_.startsWith("s1-")))
    // each commit staged exactly one file per chunk its conversations
    // touch: the spread stops at numChunks
    def staged(batch: org.apache.spark.sql.Dataset[Turn]): Int =
      batch.select(pmod(xxhash64(col("conv_id")), lit(4))).distinct().count().toInt
    assert(batch2.groupBy("conv_id").count().filter(col("count") > tiny.monsterThreshold).count() > 0)
    assert(v0.size == staged(batch1))
    assert((v1 -- v0).size == staged(batch2))
    // time travel: v0 holds only day-1 conversations
    val day1 = graft.sources.Snapshot.read(spark, table, version = 0)
      .select("conv_id").distinct().collect().map(_.getString(0)).toSet
    assert(day1.forall(_ < "conv00000020") && day1.nonEmpty)

    // tagged retry is exactly-once: a replayed batch tag skips extraction
    // and append entirely — no third version, table unchanged — while STILL
    // returning the committed snapshot's metrics (the same contract the
    // Snapshot.write/append replay paths honor; round-3 ADVICE item)
    val committed = Extraction.incrementalCommit(
      all.filter(col("conv_id") >= "conv00000020"), table, cfg,
      numChunks = 4, batchTag = "day2")
    assert(graft.sources.Snapshot.committedTags(table).contains("day2"))
    val v2rows = graft.sources.Snapshot.read(spark, table).count()
    val replay = Extraction.incrementalCommit(
      all.filter(col("conv_id") >= "conv00000020"), table, cfg,
      numChunks = 4, batchTag = "day2")
    assert(replay == committed && replay("turns") > 0L,
      "replayed tag must be a no-op that returns the committed metrics")
    assert(graft.sources.Snapshot.read(spark, table).count() == v2rows)
    assert(graft.sources.Snapshot.metricsOfTag(table, "nosuch").isEmpty)
  }

  test("incrementalCommit: a tagged first commit creates a new table; its replay is a no-op") {
    val p = FixtureGen.Profile(numConvs = 12, monsterEvery = 0, invalidEvery = 5)
    val turns = TranscriptGen.generate(spark, p, parallelism = 4)
    val table = java.nio.file.Files.createTempDirectory("inc-tagged")
      .resolve("fresh").toString // the table directory does not exist yet
    val cfg = Extraction.Config(numPartitions = 4)
    val committed = Extraction.incrementalCommit(turns, table, cfg,
      numChunks = 2, batchTag = "b0")
    assert(graft.sources.Snapshot.committedVersion(table).contains(0))
    assert(committed("turns") == turns.count())
    val replay = Extraction.incrementalCommit(turns, table, cfg,
      numChunks = 2, batchTag = "b0")
    assert(replay == committed, "a replayed tag must return the committed metrics")
    assert(graft.sources.Snapshot.committedVersion(table).contains(0),
      "a replayed tag must not add a version")
  }

  test("stripHtml stage: pipeline on raw == oracle on stripped turns") {
    val turns = TranscriptGen.generate(spark, profile, parallelism = 4)
    val got = sortedResults(Extraction.extract(turns,
      Extraction.Config(numPartitions = 8, stripHtml = true)))
    val strippedOracle = ConvParser.parseAll(
      FixtureGen.turns(profile).map(t => t.copy(text = Boilerplate.stripHtml(t.text))))
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(got == strippedOracle)
  }
}
