package graft.operators

import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Snapshot

/** The north-rule operator: distributed per-conversation section extraction.
  *
  * Logical shape (SURVEY §3.1): scan → exchange on conv_id → within-partition
  * sort by (conv_id, turn_idx) → streaming per-conversation FSM
  * (`ConvParser`, identical code to the single-threaded oracle) → typed
  * `Dataset[TurnResult]`.
  *
  * Scale design:
  *  - ONE routing step for every exchange plane ([[route]]): a single
  *    `repartitionById` on the EXACT partition id `pmod(xxhash64(conv_id),
  *    P)`. The sort rides it (sortWithinPartitions), so there is no extra
  *    exchange for ordering and no sampled range bounds.
  *  - A conversation NEVER splits across tasks (FSM state is sequential),
  *    so a heavy-tail conversation sets the length of its task. The skew
  *    path (`extractSkewAware`) spreads the input instead of isolating
  *    heavy conversations: P = max(numPartitions, 4 × defaultParallelism),
  *    at least four tasks per core. A heavy conversation then shares its
  *    task with about a quarter of one core's fair share of other turns,
  *    and the scheduler balances the rest. The spread is chosen from a
  *    size fact known before execution, a row bound ([[rowBound]]: parquet
  *    footers, or the plan's `maxRows`): when it proves the input holds at
  *    most `monsterThreshold` rows, no conversation can be heavy and
  *    P = numPartitions. No Spark job runs before the extraction job.
  *  - Isolating each heavy conversation in its own partition was measured
  *    and dropped. It needed a count pre-pass job and a join of every row
  *    against the heavy ids. On a 4-core host the pre-pass alone took
  *    105-114 ms of a 554-621 ms skewed extraction, while the spread plan
  *    took 394-436 ms in the same JVM, and the slowest FSM task fell from
  *    4.9-5.7× the median task to 1.7-1.8×.
  *  - Commits spread only up to the snapshot's `numChunks` (more tasks than
  *    chunks would write more files per version), then route into the
  *    smallest divisor or multiple of `numChunks` not below that count.
  *    Either way the routing hash agrees with the table's own `_chunk`
  *    function (`pmod(xxhash64(conv_id), numChunks)`): each FSM task holds
  *    whole chunks, or rows of one chunk, and the staged write needs no
  *    second exchange ([[commit]]).
  *  - Memory per task is bounded by the largest single conversation (the P8
  *    front-matter gate needs one look-ahead pass over the conversation,
  *    cis_pdf_parser.py:85-90), not by partition size: the group iterator
  *    streams conversation-by-conversation.
  */
object Extraction {

  case class Config(
      /** FSM partitions, the least the skew path uses. Commits
        * (`incrementalCommit`, `ExtractJob`) round the skew path's count up
        * to the nearest divisor or multiple of the table's `numChunks`, so
        * that their routing agrees with the table's chunks. */
      numPartitions: Int = 32,
      /** the turn count above which a conversation is heavy. The skew path
        * spreads an input over at least four tasks per core unless its row
        * bound proves it holds at most this many rows, so that no
        * conversation in it can be heavy. Placement-only: the output never
        * depends on it. */
      monsterThreshold: Long = 2000L,
      /** strip HTML boilerplate from turn text before the FSM (north-rule
        * DOM-heuristic stage; off for reference-exact golden comparison) */
      stripHtml: Boolean = false)

  /** Groups a (conv_id, turn_idx)-sorted iterator into per-conversation runs
    * without materializing more than one conversation at a time. */
  private[operators] def groupedByConv(it: Iterator[TurnSlim]): Iterator[(String, IndexedSeq[TurnSlim])] =
    new Iterator[(String, IndexedSeq[TurnSlim])] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): (String, IndexedSeq[TurnSlim]) = {
        val cid = buf.head.conv_id
        val b = IndexedSeq.newBuilder[TurnSlim]
        while (buf.hasNext && buf.head.conv_id == cid) b += buf.next()
        (cid, b.result())
      }
    }

  private def parsePartition(cfg: Config)(it: Iterator[TurnSlim]): Iterator[TurnResult] =
    groupedByConv(it).flatMap { case (cid, ts) =>
      // null text ≡ empty page (defined degradation: real transcript tables
      // carry NULL cells; the FSM must not NPE mid-job on one of them).
      // ONE fused copy: a monster conversation must never hold 2-3 transient
      // copies of itself (the per-task memory bound is the largest conv)
      val cleaned = ts.map { t =>
        val raw = if (t.text == null) "" else t.text
        val txt = if (cfg.stripHtml) Boilerplate.stripHtml(raw) else raw
        if (txt eq t.text) t else t.copy(text = txt)
      }
      ConvParser.parse(cid, cleaned)
    }

  /** Default path: one exchange on conv_id; the FSM is the single
    * non-codegen stage in the middle. The partition count is EXPLICIT
    * (cfg.numPartitions) — AQE does not coalesce a user-specified
    * repartition, so size it for the target scale. */
  def extract(turns: Dataset[Turn], cfg: Config = Config()): Dataset[TurnResult] =
    route(turns, cfg, cfg.numPartitions)

  /** Skew-aware path: the default path's one exchange, into
    * max(numPartitions, 4 × defaultParallelism) partitions unless
    * [[rowBound]] proves the input holds at most `monsterThreshold` rows. */
  def extractSkewAware(turns: Dataset[Turn], cfg: Config = Config()): Dataset[TurnResult] =
    route(turns, cfg, spread(turns, cfg, Int.MaxValue))

  /** Partitions for the skew path: `numPartitions` when the row bound rules
    * out a heavy conversation, otherwise at least four tasks per core, the
    * increase capped at `cap`. The factor is a constant: more tasks per core
    * shrink the turns a heavy conversation's task shares, and add per-task
    * cost on every input. */
  private def spread(turns: Dataset[Turn], cfg: Config, cap: Int): Int =
    if (rowBound(turns, cfg.monsterThreshold).exists(_ <= cfg.monsterThreshold)) cfg.numPartitions
    else cfg.numPartitions max (cap min 4 * turns.sparkSession.sparkContext.defaultParallelism)

  /** The one routing step: `repartitionById` on `pmod(xxhash64(conv_id),
    * n)`, then the within-partition (conv_id, turn_idx) sort and the FSM. */
  private def route(turns: Dataset[Turn], cfg: Config, n: Int): Dataset[TurnResult] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.select(col("conv_id"), col("turn_idx"), col("text")) // prune pre-shuffle
      .repartitionById(n, pmod(xxhash64(col("conv_id")), lit(n)).cast("int"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .as[TurnSlim]
      .mapPartitions(parsePartition(cfg) _)
  }

  /** An upper bound on the rows of `turns`, found without a Spark job: the
    * parquet footer row counts of the files under an analyzed plan made
    * only of `Project`/`Filter` over a parquet relation, otherwise the
    * plan's `maxRows`. Footers are read in file order, through the
    * session's Hadoop settings and the relation's options, and the reading
    * stops once the sum passes `stopAbove`, so a returned value above
    * `stopAbove` only proves the bound exceeds it. None when neither source
    * applies, or when a footer cannot be read (a truncated, encrypted or
    * foreign file): the caller then counts instead. */
  private[graft] def rowBound(turns: Dataset[_], stopAbove: Long,
                              footerRows: org.apache.hadoop.conf.Configuration => String => Long =
                                Snapshot.footerRows): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def parquet(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => parquet(child)
      case Filter(_, child) => parquet(child)
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs)
        case _ => None
      }
      case _ => None
    }
    val plan = turns.queryExecution.analyzed
    parquet(plan) match {
      case Some(fs) =>
        try {
          val rows = footerRows(fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options))
          var sum = 0L
          val it = fs.location.inputFiles.iterator
          while (it.hasNext && sum <= stopAbove) sum += rows(it.next())
          Some(sum)
        } catch { case scala.util.control.NonFatal(_) => None }
      case None => plan.maxRows
    }
  }

  /** Bucketed-layout plane: co-located, exchange-free extraction.
    *
    * `writeBucketed` lays the transcript table out as a Spark bucketed table —
    * `hash(conv_id) mod buckets` picks the file, rows sorted by
    * `(conv_id, turn_idx)` within it. The pre-write `repartition(buckets,
    * conv_id)` uses the same Murmur3 `HashPartitioning` as the bucket-file
    * assignment, so every task holds exactly one bucket and each bucket is a
    * single sorted file — the layout Spark's scan reports as both partitioned
    * AND ordered.
    *
    * `extractBucketed` then runs the FSM via a *relational* group
    * (`groupBy(conv_id).as[K,V].flatMapGroups`): the MapGroups node's
    * ClusteredDistribution(conv_id) is satisfied by the bucketed scan itself,
    * so Catalyst plans NO shuffle exchange (asserted by spec). At 100 TB this
    * removes the default path's dominant cost — moving every text byte
    * through an exchange — for any re-extraction or downstream
    * per-conversation job over the same layout. Correctness never depends on
    * the layout: over a non-bucketed table the same code simply gets a
    * planned exchange, and the in-group `sortBy(turn_idx)` (conversation-
    * sized, cheap) keeps turn order right even if the scan's file-level
    * ordering is ever dropped (multi-file buckets). */
  def writeBucketed(turns: Dataset[Turn], tableName: String, path: String,
                    buckets: Int): Unit = {
    val spark = turns.sparkSession
    require(tableName.matches("[A-Za-z0-9_]+"),
      s"tableName must be a plain identifier, got '$tableName' (it is interpolated into DDL)")
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    turns
      .repartition(buckets, col("conv_id"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "conv_id")
      .sortBy("conv_id", "turn_idx")
      .option("path", path)
      .saveAsTable(tableName)
  }

  def extractBucketed(spark: SparkSession, tableName: String,
                      cfg: Config = Config()): Dataset[TurnResult] = {
    import spark.implicits._
    spark.table(tableName)
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[TurnSlim]
      .groupBy(col("conv_id")).as[String, TurnSlim]
      .flatMapGroups { (_: String, it: Iterator[TurnSlim]) =>
        parsePartition(cfg)(it.toIndexedSeq.sortBy(_.turn_idx).iterator)
      }
  }

  /** Turns → per-conversation document view: every turn's text concatenated
    * in stable (turn_idx) order — the materialization that feeds document-
    * level ops (dedup, quality, chunking) from the transcript table. One
    * hash-agg; the ordered reassembly is bounded by a single conversation's
    * own turns (same memory contract as the FSM plane), never a popularity-
    * sized group. */
  def conversationDocs(turns: Dataset[Turn]): DataFrame =
    turns.toDF.groupBy(col("conv_id")).agg(
      concat_ws("\n", transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x("text"))).as("doc_text"),
      count(lit(1)).as("n_turns"))

  /** Loss-mask spans: each turn's [start_off, end_off) character offsets
    * inside the `conversationDocs` concatenation, plus the loss flag
    * (assistant turns carry loss; user/tool context doesn't) — what a
    * training pipeline needs to mask non-assistant tokens after packing.
    * One cumulative-sum window over the same (conv_id, turn_idx) ordering
    * the doc view uses; null-text turns are excluded exactly as
    * `concat_ws` skips them. Offsets are pinned against the doc view by
    * ExtractionSpec (substring(doc, start, len) == turn text). */
  def lossMaskSpans(turns: Dataset[Turn]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (turn_idx, text) matches conversationDocs' array_sort struct order, so
    // duplicate turn_idx rows accumulate offsets in the SAME peer order the
    // doc view concatenates them in
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"), col("text"))
      .rowsBetween(Window.unboundedPreceding, -1)
    turns.toDF
      .filter(col("text").isNotNull)
      .withColumn("start_off",
        coalesce(sum(length(col("text")) + 1).over(w), lit(0L)))
      .select(col("conv_id"), col("turn_idx"), col("start_off"),
        (col("start_off") + length(col("text"))).as("end_off"),
        coalesce(col("role") === "assistant", lit(false)).as("loss")) // null role: not a loss turn, never a null flag
  }

  /** Batch-incremental commit: extract ONLY the newly arrived conversations
    * and delta-append their per-turn results to the snapshot table
    * (`Snapshot.append` hard-links every existing data file — metadata-only
    * reuse, no recompute and no rewrite of prior work). Conversations are
    * the unit of increment: the FSM's state never crosses a conv_id, so an
    * append-only transcript corpus (the realistic case — finished
    * conversations don't mutate) makes incremental == full recompute, which
    * ExtractionSpec asserts. Returns the committed snapshot's metrics.
    *
    * `batchTag` (a stable id of the increment, e.g. the ingest day) makes
    * retries exactly-once: a replay whose tag already committed skips both
    * the extraction job and the append — without it, a retry issued after
    * the commit landed would re-extract and append the batch twice (see
    * `Snapshot.append`'s retry contract). */
  def incrementalCommit(newTurns: Dataset[Turn], tablePath: String,
                        cfg: Config = Config(),
                        numChunks: Int = 32,
                        batchTag: String = ""): Map[String, Long] = {
    if (batchTag.nonEmpty) {
      // tag replay: honor the "returns the committed snapshot's metrics"
      // contract on THIS path too (Snapshot.write/append already do on
      // theirs) — callers must not have to distinguish 'no-op replay'
      // from 'committed with zero metrics'
      val replayed = Snapshot.metricsOfTag(tablePath, batchTag)
      if (replayed.isDefined) return replayed.get
    }
    commit(newTurns, tablePath, cfg, numChunks, batchTag, append = true)
  }

  /** Chunk-aligned commit of `turns`' extraction results (an append, or a
    * full write when `append` is false). The skew path's partition count,
    * its spread capped at `numChunks`, is rounded to `n`, the smallest
    * divisor or multiple of `numChunks` not below it. The table's chunk of
    * a conversation, `pmod(h, numChunks)`, then fixes its partition
    * `pmod(h, n)` (n divides numChunks: each task holds whole chunks) or is
    * fixed by it (n is a multiple: each task holds rows of one chunk).
    * `Snapshot.commitAligned` stages the tasks' output without another
    * exchange, one file per chunk a task holds. A batch commits in two
    * Spark jobs: the routing shuffle and the FSM + staged write. */
  private[graft] def commit(turns: Dataset[Turn], tablePath: String, cfg: Config,
                            numChunks: Int, tag: String, append: Boolean): Map[String, Long] = {
    val p = spread(turns, cfg, numChunks)
    val n =
      if (p >= numChunks) numChunks * ((p + numChunks - 1) / numChunks)
      else (1 to numChunks).find(d => d >= p && numChunks % d == 0).get
    val (df, obs) = observed(route(turns, cfg, n))
    Snapshot.commitAligned(df, tablePath, "conv_id", numChunks, obs, tag, append)
  }

  def records(results: Dataset[TurnResult]): Dataset[RecordRow] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.flatMap { tr =>
      tr.record.map(r => RecordRow(tr.conv_id, tr.turn_idx, r.rule,
        r.profile_applicability, r.description, r.rationale, r.audit,
        r.remediation, r.default_value, r.cis_controls))
    }
  }

  /** Long-form span table (conv_id, turn_idx, label, start, end, text) —
    * the per-turn span-equality surface. */
  def spansLong(results: Dataset[TurnResult]): DataFrame =
    results.select(col("conv_id"), col("turn_idx"), explode(col("spans")).as("s"))
      .select(col("conv_id"), col("turn_idx"), col("s.label"), col("s.start"),
        col("s.end"), col("s.text"))

  /** Attach named extraction metrics (A2 counters as `observe` metrics —
    * collected by the snapshot writer into the manifest). The returned
    * Observation resolves once the first action on the frame completes. */
  def observed(results: Dataset[TurnResult]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("extraction")
    val df = results.toDF.observe(obs,
      count(lit(1)).as("turns"),
      sum(when(col("valid"), 0L).otherwise(1L)).as("invalid_turns"),
      sum(when(col("record").isNotNull, 1L).otherwise(0L)).as("records"),
      sum(size(col("spans"))).as("spans"))
    (df, obs)
  }
}
