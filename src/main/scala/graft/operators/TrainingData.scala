package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.TextHashExpressions

/** Training-data curation operators a 100-TB pretraining pipeline needs on
  * top of the extraction core: PII scrubbing, sub-document exact dedup,
  * benchmark decontamination, deterministic stratified sampling, and
  * sequence packing. All are expressed declaratively (codegen'd builtins,
  * one shuffle each) except packing, whose exact form is inherently a
  * per-group sequential fold; a partition-parallel variant is provided for
  * the scale path.
  *
  * Reference grounding: the reference pipeline curates its extracted CSV
  * corpus by hand (`fuzzy.py:20-38` all-pairs similarity, committed-CSV
  * snapshots); these operators are the missing curation stages re-expressed
  * Spark-first at corpus scale. */
object TrainingData {

  // Patterns kept to the Java-regex ∩ RE2 common subset so the DuckDB
  // oracle runs the very same strings (no lookarounds, no backrefs).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{4}\\b"
  val IpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub: count then redact emails, SSNs, phones, IPv4 addresses.
    * Pure per-row regexp chain — whole-stage codegen, no shuffle; ordering
    * of the replace chain matters (email before IP: a redacted email can no
    * longer donate digits to an IP match). */
  def piiRedact(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    // counts run against the SAME stage of the chain as their replacement,
    // so n_x always equals the number of <X> markers actually emitted: a
    // string consumed by an earlier pattern ("123-45-6789@example.com" is
    // one EMAIL) is not double-reported by a later one
    val afterEmail = regexp_replace(c, EmailRe, "<EMAIL>")
    val afterSsn = regexp_replace(afterEmail, SsnRe, "<SSN>")
    val afterPhone = regexp_replace(afterSsn, PhoneRe, "<PHONE>")
    df.withColumn("n_email", regexp_count(c, lit(EmailRe)))
      .withColumn("n_ssn", regexp_count(afterEmail, lit(SsnRe)))
      .withColumn("n_phone", regexp_count(afterSsn, lit(PhoneRe)))
      .withColumn("n_ip", regexp_count(afterPhone, lit(IpRe)))
      .withColumn("redacted", regexp_replace(afterPhone, IpRe, "<IP>"))
  }

  /** Sub-document exact dedup at fixed-token-chunk granularity (the
    * paragraph-level pass of Lee et al.'s "Deduplicating Training Data";
    * chunks stand in for paragraphs on single-line corpora). Keep-first is
    * `min(struct(id, idx))` per chunk hash — a partial-aggregatable
    * hash-agg, NOT a row_number window: a boilerplate chunk shared by 10^9
    * docs becomes one combiner cell per map task instead of a single
    * skewed window partition. Only the 32-byte hash shuffles; text never
    * leaves the map side. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    // word_chunks = one codegen'd split-once pass per row; the equivalent
    // HOF tree (transform(sequence) with slice(split(text), …) inside the
    // lambda) re-evaluated the split PER CHUNK POSITION and fell back to
    // interpreted eval — byte-identical output, see WordChunks scaladoc
    val chunks = df.select(col(idCol),
      posexplode(graft.expressions.TextHashExpressions.word_chunks(
        col(textCol), chunkTokens)).as(Seq("chunk_idx", "chunk")))
    chunks
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        md5(col("chunk")).as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("keep"))
      .select(col("keep")(idCol).as(idCol),
        col("keep")("chunk_idx").as("chunk_idx"), col("chunk_hash"))
  }

  /** Benchmark decontamination: per-doc count of distinct sliding word
    * n-grams that also occur in the benchmark set (docs matching
    * `benchPred`). The benchmark side is distinct-projected and broadcast —
    * the corpus streams once, no corpus-side shuffle before the final
    * per-doc count. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    n: Int, benchPred: Column): DataFrame = {
    // word_grams = distinct n-grams in ONE codegen'd split-once pass per
    // row; the equivalent HOF tree re-evaluated split(text) per gram
    // position inside the transform lambda (O(L·positions)/row, interpreted)
    // — byte-identical output incl. empty-token splits, see WordGrams
    def gramsOf(src: DataFrame) = src.select(col(idCol),
      explode(graft.expressions.TextHashExpressions.word_grams(
        col(textCol), n)).as("g"))
    val grams = gramsOf(df)
    // benchPred filters the INPUT rows (any df column may appear in it),
    // not the (id, gram) projection — a predicate on e.g. `source` would
    // otherwise throw UNRESOLVED_COLUMN
    val bench = gramsOf(df.filter(benchPred)).select(col("g")).distinct()
    grams.join(broadcast(bench), "g")
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("n_contam"))
  }

  /** Bloom-filter SKETCH of `value`: the word-packed bit array as (word
    * index, 64-bit word) rows. Each value fingerprints once and emits its k
    * probe positions ([[graft.expressions.TextHashExpressions.BloomPositions]],
    * one codegen pass); positions collapse map-side to ≤ mBits/64 word rows
    * via a partial-aggregatable `bit_or`, so the exchange is CONSTANT-WIDTH
    * regardless of input size — the [[cmsSketch]]/[[hllSketch]] telemetry
    * contract. Mergeable across shards/days by a further
    * `groupBy(w).agg(bit_or(bits))` (bit-OR is the Bloom union), and every
    * row is exactly replayable by another engine — the state is all-integer
    * with no insertion-order or partitioning dependence. */
  def bloomSketch(df: DataFrame, value: Column,
                  mBits: Int = 1 << 20, k: Int = 6): DataFrame =
    df.select(explode(TextHashExpressions.bloom_positions(
        TextHashExpressions.fingerprint64(value.cast("string")), mBits, k)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))

  /** Bloom-gated benchmark decontamination — the 100-TB shape of
    * [[contamination]]. The exact sibling broadcasts the benchmark's
    * distinct n-gram STRINGS, which is unbounded (a big eval suite's gram
    * set is GBs); here the benchmark side collapses to an mBits-bit Bloom
    * filter (128 KB of bits at 2^20) built by [[bloomSketch]] — collecting
    * it is a ≤ mBits/64-row telemetry read, not a data read — and the
    * corpus then streams ONCE through a codegen'd k-probe membership filter
    * with NO corpus-side join at all. `n_flagged` counts each document's
    * distinct Bloom-POSITIVE grams: a deterministic SUPERSET of the exact
    * `n_contam` (a Bloom filter has no false negatives, and its false
    * positives are a pure function of the benchmark set and (mBits, k),
    * never of partitioning — so the result is exactly replayable
    * cross-engine, false positives included). Size mBits ≈ 10–15 bits per
    * benchmark gram for the classic <1% FP mass; downstream exact
    * verification, when wanted, is [[contamination]] on the survivors. */
  def contaminationBloom(df: DataFrame, idCol: String, textCol: String,
                         n: Int, benchPred: Column,
                         mBits: Int = 1 << 20, k: Int = 6): DataFrame = {
    // benchPred filters the INPUT rows, matching [[contamination]]
    val words = new Array[Long](mBits >>> 6)
    bloomSketch(
        df.filter(benchPred).select(
          explode(TextHashExpressions.word_grams(col(textCol), n)).as("g")),
        col("g"), mBits, k)
      .collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    df.select(col(idCol),
        explode(TextHashExpressions.word_grams(col(textCol), n)).as("g"))
      .filter(TextHashExpressions.bloom_contains(
        TextHashExpressions.fingerprint64(col("g")), words, mBits, k))
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("n_flagged"))
  }

  /** CCNet-style n-gram LM quality score: train a Laplace-smoothed bigram
    * LM on the corpus (top-`topVocab` unigrams; everything else folds to
    * `<unk>`), then score each document by its summed bigram log-probability
    * — the LM-perplexity filter of CCNet/Gopher, integer-exact for the
    * cross-engine oracle (each position's log-prob is quantized to 1e-4
    * BEFORE summation, the `TfIdfMatch` technique, so engine libm ulps
    * cannot accumulate; no division in the output — callers derive
    * perplexity from (lm_q4_sum, n_pos)).
    *
    * Scale shape (round-3 verdict fix: the bigram model used to be a
    * `collect()`ed driver map, V²-unbounded on a diverse corpus — only the
    * VOCAB may touch the driver, because only it is capped by a parameter):
    * training is two hash-aggregations (unigram counts; mapped-bigram
    * counts, Zipf-bounded well below V² but kept DISTRIBUTED either way);
    * the ≤ topVocab+1-row unigram model broadcasts by hint; the bigram
    * model joins WITHOUT a hint so AQE broadcasts it when its measured
    * size allows and falls back to a shuffle join on the (u,v) keys when it
    * does not — the documented join fallback [[lmPerplexity]] shares.
    * SCORING is those two joins plus one partial-aggregatable per-doc agg;
    * the corpus streams twice (count pass + score pass), the CCNet shape —
    * at 100 TB you train on a deterministic sample, e.g.
    * [[stratifiedSample]]'s output, and stream the corpus once. Vocab ties
    * at the count boundary break by token string ascending (corpus tokens
    * are collation-stable). */
  def ngramLmScore(df: DataFrame, idCol: String, textCol: String,
                   topVocab: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL text tokenizes to NOTHING — String.valueOf(null) would mint a
    // literal "null" token that pollutes the vocabulary and the <unk> mass
    val toksOf = (s: String) =>
      if (s == null) Array.empty[String]
      else graft.core.TextStats.wsTokens(s.toLowerCase)
    val docs = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
    val uni = docs.flatMap { case (_, t) => toksOf(t) }.toDF("tok")
      .groupBy("tok").count()
    // top-K via TakeOrdered (no global sort), kept as a DATAFRAME: vocab
    // strings never pass through the driver — there is no collect() in this
    // operator at all. localCheckpoint: vocab feeds four consumers (c1,
    // stats, both membership joins) — pin the ≤ topVocab rows once instead
    // of re-tokenizing the corpus per consumer (the nearDupClusters pattern)
    val vocab = uni.orderBy(desc("count"), col("tok")).limit(topVocab)
      .localCheckpoint()
    // (n_vocab, vocab token mass, total token mass) as a 1-row broadcast
    val stats = vocab.agg(count(lit(1)).as("nv"), sum(col("count")).as("vsum"))
      .crossJoin(uni.agg(sum(col("count")).as("total")))
    // c1 model: vocab counts + the <unk> fold row — ≤ topVocab+1 rows
    val c1 = vocab.select(col("tok").as("u"), col("count").as("c1"))
      .unionByName(stats.select(lit("<unk>").as("u"),
        (coalesce(col("total"), lit(0L)) - coalesce(col("vsum"), lit(0L))).as("c1")))
    // raw adjacent-pair stream (id, u, v); the <unk> fold happens via two
    // broadcast vocab joins, so no token set is ever driver-materialized
    val rawPairs = docs.flatMap { case (id, t) =>
      val m = toksOf(t)
      m.indices.dropRight(1).iterator.map(i => (id, m(i), m(i + 1)))
    }.toDF("id", "ur", "vr")
    val vtok = vocab.select(col("tok"))
    val pairs = rawPairs
      .join(broadcast(vtok.select(col("tok").as("ur"), lit(true).as("u_in"))), Seq("ur"), "left")
      .join(broadcast(vtok.select(col("tok").as("vr"), lit(true).as("v_in"))), Seq("vr"), "left")
      .select(col("id"),
        when(col("u_in").isNotNull, col("ur")).otherwise("<unk>").as("u"),
        when(col("v_in").isNotNull, col("vr")).otherwise("<unk>").as("v"))
    // persist: the pair stream feeds BOTH the count agg and the score join —
    // unpinned, the tokenize + two broadcast joins would run once per side
    // (three corpus passes where the contract documents two)
    val pairsP = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = pairsP.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c12"))
    val scored = pairsP
      .join(big, Seq("u", "v"), "left") // no hint: AQE picks broadcast/shuffle
      .join(broadcast(c1), Seq("u"))    // ≤ topVocab+1 rows: always broadcast
      .crossJoin(broadcast(stats.select((col("nv") + 1).as("s_den"))))
      .withColumn("q4", floor(log(
        (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (col("c1") + col("s_den")).cast("double")) * 10000.0).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_pos"), sum(col("q4")).as("lm_q4_sum"))
    // USING join on the renamed key: an expression join on col(idCol) ===
    // col("id") is AMBIGUOUS the moment the caller's id column is named
    // "id" (the natural name) — every sibling operator joins USING-style
    df.select(col(idCol).cast("long").as(idCol))
      .join(scored.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("lm_q4_sum"), lit(0L)).as("lm_q4_sum"))
  }

  /** Deterministic stratified sampling: a per-row keep decision from a
    * 64-bit fingerprint of the row id (uniform bucket in [0, 10^6)) against
    * a per-stratum rate. No shuffle, no RNG state, reproducible under any
    * partitioning or retry — the property `df.sample()` does NOT give. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       ratesPpm: Map[String, Int], defaultPpm: Int): DataFrame = {
    val bucket = pmod(
      TextHashExpressions.fingerprint64(col(idCol).cast("string")),
      lit(1000000L)).cast("long")
    val rate = ratesPpm.foldLeft(lit(defaultPpm).cast("long")) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v.toLong)).otherwise(acc)
    }
    df.withColumn("bucket", bucket).filter(col("bucket") < rate)
  }

  /** Temperature-resampled stratum balance (the multilingual-corpus
    * smoothing pass): per-stratum keep rate ∝ sqrt(n_max / n_stratum) — the
    * T=2 temperature point — scaled so the LARGEST stratum keeps
    * `topRatePpm`, capped at 100%. Rates are derived from the corpus itself
    * (one count agg, broadcast back — no driver collect), and the per-row
    * keep decision reuses [[stratifiedSample]]'s deterministic fingerprint
    * bucket. The rate arithmetic uses only correctly-rounded IEEE ops
    * (int→double cast, divide, sqrt, multiply, floor), so it is bit-exact
    * across engines — deliberately sqrt rather than pow(x, alpha), whose
    * last-ulp behavior is library-dependent. */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
                        topRatePpm: Long): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_l"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(max(col("n_l")).as("n_max"))))
      .withColumn("rate_ppm", least(lit(1000000L),
        floor(lit(topRatePpm.toDouble) *
          sqrt(col("n_max").cast("double") / col("n_l").cast("double")))
          .cast("long")))
      .select(col(strataCol), col("rate_ppm"))
    val bucket = pmod(
      TextHashExpressions.fingerprint64(col(idCol).cast("string")),
      lit(1000000L)).cast("long")
    // null-safe equality: a NULL stratum is a stratum like any other
    // (groupBy already counts it into n_l/n_max) — a plain equi-join would
    // silently DROP every null-stratum row while still letting its count
    // deflate the real strata's rates
    val withBucket = df.withColumn("bucket", bucket)
    withBucket
      .join(broadcast(rates.withColumnRenamed(strataCol, "_ts_strata")),
        withBucket(strataCol) <=> col("_ts_strata"))
      .drop("_ts_strata")
      .filter(col("bucket") < col("rate_ppm"))
  }

  /** Per-source quota cap ("at most `cap` docs per domain/source"): rank
    * rows within each source by the deterministic id fingerprint (an
    * unbiased, reproducible shuffle — NOT doc_id order, which would bias
    * toward early crawl output) and keep the first `cap`. One window over
    * the source partition; the skew caveat of any per-key window applies —
    * a pathologically hot source serializes its own partition, mitigable by
    * pre-filtering hot sources with an approximate count. */
  def sourceCap(df: DataFrame, idCol: String, sourceCol: String,
                cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = TextHashExpressions.fingerprint64(col(idCol).cast("string"))
    df.withColumn("rk", row_number().over(
        Window.partitionBy(col(sourceCol)).orderBy(rank, col(idCol))))
      .filter(col("rk") <= cap)
  }

  /** Sliding-window chunking with overlap (the RAG / long-context window
    * pass, vs [[chunkDedup]]'s disjoint chunks): token windows of
    * `chunkTokens` advancing by `strideTokens`, last window clamped at the
    * end. Pure per-row codegen expression ([[graft.expressions.TextHashExpressions.WordWindows]])
    * — no shuffle at all; emits (id, chunk_idx, token_start, chunk). */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens > 0 && chunkTokens >= strideTokens)
    // word_windows = one codegen'd split-once pass per row (the HOF tree
    // re-evaluated split(text) per window inside the lambda) — byte-
    // identical output, see WordWindows scaladoc
    df.select(col(idCol),
        posexplode(graft.expressions.TextHashExpressions.word_windows(
          col(textCol), chunkTokens, strideTokens))
          .as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * strideTokens).cast("long").as("token_start"),
        col("chunk"))
  }

  /** Per-stratum score calibration: percent_rank CDF normalization of a
    * quality score within each stratum (source, language, …), so thresholds
    * mean the same thing across strata with very different raw-score
    * distributions — the standard pre-step before mixing quality-filtered
    * sources. One per-stratum window; ties share a rank, so the output is
    * deterministic without a tie-break column. */
  def percentileNormalize(df: DataFrame, strataCol: String,
                          score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("pctl",
      percent_rank().over(Window.partitionBy(col(strataCol)).orderBy(score)))
  }

  /** Token-budget corpus selection (data-constrained curation): order docs
    * by a quality key, keep the prefix whose cumulative token count stays
    * within `budgetTokens`.
    *
    * The running sum is a DISTRIBUTED two-pass prefix sum, not a global
    * window: `Window.orderBy` with no partition key would move EVERY row to
    * one task (Spark's AllTuples distribution — the single-partition stall
    * this file's scale rules forbid). Pass 1 range-partitions on the order
    * key and takes per-partition running sums; pass 2 adds the cumulative
    * totals of the preceding partitions (a ≤numPartitions-row collect).
    * The order key (q desc, id) is total, so the result is identical to
    * the global window regardless of the sampled range boundaries. */
  def tokenBudget(df: DataFrame, idCol: String, weight: Column,
                  qualityDesc: Column, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("w", weight.cast("long")).withColumn("q", qualityDesc)
    val parts = math.max(1, keyed.sparkSession.sparkContext.defaultParallelism)
    val ranged = keyed.repartitionByRange(parts, desc("q"), col(idCol))
      .sortWithinPartitions(desc("q"), col(idCol))
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = ranged.withColumn("_local", sum(col("w")).over(
      Window.partitionBy(col("_pid")).orderBy(desc("q"), col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = local.groupBy(col("_pid")).agg(max(col("_local")).as("_tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      val pids = totals.keys.toSeq.sorted
      pids.zip(pids.scanLeft(0L)((acc, p) => acc + totals(p)).dropRight(1)).toMap
    }
    val offsetExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col("_pid")), lit(0L))
    local.withColumn("cum_tokens", col("_local") + offsetExpr)
      .filter(col("cum_tokens") <= budgetTokens)
      .drop("_pid", "_local")
  }

  /** Exact greedy sequence packing: within each group (ordered by
    * `orderCol`) assign docs to consecutive context-window bins of
    * `capacity` tokens; a doc that would overflow the open bin starts the
    * next one. The greedy fold is inherently sequential PER GROUP, so the
    * plan is one hash-partition of groups + an in-partition sorted fold
    * (mapPartitions carries state across the key run — no group
    * materialization, O(1) memory per group). A single giant group
    * serializes; that is a property of exact greedy packing itself — use
    * [[sequencePackSharded]] when bins need not cross shard boundaries. */
  def sequencePack(df: DataFrame, groupCol: String, orderCol: String,
                   weight: Column, capacity: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string").as("g"),
        col(orderCol).cast("long").as("o"), weight.cast("long").as("w"))
      .repartition(col("g"))
      .sortWithinPartitions(col("g"), col("o"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        var curG: String = null
        var bin = 0L
        var used = 0L
        it.map { case (g, o, w) =>
          if (g != curG) { curG = g; bin = 0L; used = w }
          else if (used + w > capacity) { bin += 1; used = w }
          else used += w
          (g, o, w, bin)
        }
      }
      .toDF(groupCol, orderCol, "n_tok", "bin_idx")
  }

  /** Scale-path packing: shard each group by a hash of the order key into
    * `shards` independent packs (bin key = (group, shard, local bin)). Bins
    * never cross shards, so every shard folds in parallel — the form real
    * pipelines use when "bins are contiguous per input split" is
    * acceptable. Wastage vs exact is ≤ one partial bin per shard. */
  def sequencePackSharded(df: DataFrame, groupCol: String, orderCol: String,
                          weight: Column, capacity: Long,
                          shards: Int): DataFrame = {
    val Sep = "\u0000"
    val sharded = df.withColumn("gs", concat_ws(Sep, col(groupCol),
      pmod(hash(col(orderCol)), lit(shards)).cast("string")))
    sequencePack(sharded, "gs", orderCol, weight, capacity)
      .withColumn(groupCol, split(col("gs"), Sep).getItem(0))
      .withColumn("shard", split(col("gs"), Sep).getItem(1).cast("int"))
      .drop("gs")
  }

  /** Supervised-fine-tuning pair construction over the transcript table:
    * for every assistant turn that has at least one preceding turn, emit
    * (conv_id, turn_idx, prompt, response) where prompt is the last
    * `contextTurns` preceding turns rendered "role: text" joined by blank
    * lines, and response is the assistant turn's own text.
    *
    * Scale design: ONE shuffle (the window's hash exchange on conv_id); the
    * BOUNDED frame (ROWS BETWEEN K PRECEDING AND 1 PRECEDING) keeps per-row
    * window state O(K) regardless of conversation length — an
    * unbounded-prefix prompt would be O(n²) bytes on the heavy-tail
    * "monster" conversations the extraction plane spreads its tasks for. Turn order
    * inside the prompt is the north rule's stable (conv_id, turn_idx)
    * ordering. `concat` (not concat_ws) renders each context turn so a NULL
    * text propagates to NULL and is skipped by collect_list in both engines. */
  def sftPairs(turns: DataFrame, contextTurns: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(-contextTurns, -1)
    turns
      .withColumn("ctx",
        collect_list(concat(col("role"), lit(": "), col("text"))).over(w))
      .filter(col("role") === "assistant" && size(col("ctx")) > 0)
      .select(col("conv_id"), col("turn_idx"),
        array_join(col("ctx"), "\n\n").as("prompt"),
        col("text").as("response"))
  }

  // RE2 ∩ Java common subset, like the PII patterns above: no lookarounds.
  val UrlRe = "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\n\"'<>]*)?"
  private val HostRe = "https?://([A-Za-z0-9.-]+)"
  private val PathRe = "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(/[^ \\t\\n\"'<>]*)?"

  /** Canonical host of an absolute URL column: lowercase, strip one leading
    * `www.`. The SINGLE definition shared by urlHostStats, urlHostFilter and
    * Graph.hostEdges; the q_url_hosts / q_pagerank_hosts DuckDB oracles
    * embed the same two regexes — change them together. */
  def canonicalHost(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, HostRe, 1)), "^www\\.", "")

  /** Web-corpus URL lineage: extract absolute URLs from document text,
    * canonicalize (lowercase host, strip a leading `www.`, drop the
    * `#fragment`, empty path → `/`), and aggregate per host — the
    * domain-mixture / robots-policy bookkeeping every crawl-derived corpus
    * needs. Per-row regexp extraction (codegen) + explode + ONE hash-agg on
    * the canonical host; only (id, url) pass through the explode, and the
    * agg is partial-aggregatable so a mega-host combines map-side. */
  def urlHostStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .withColumn("host", canonicalHost(col("url")))
      .withColumn("path",
        regexp_replace(coalesce(regexp_extract(col("url"), PathRe, 1), lit("")),
          "#.*$", ""))
      .withColumn("path", when(col("path") === "", "/").otherwise(col("path")))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col(idCol)).as("n_docs"),
        count_distinct(col("path")).as("n_paths"))

  /** DPO/RLHF preference-pair construction: candidate responses grouped by
    * prompt; per prompt emit (chosen, rejected) = the score-argmax and
    * score-argmin candidates, ties broken by (id, response) so the output
    * is deterministic. Two struct-extrema in ONE partial-aggregatable
    * aggregation (Spark plans struct min/max as SortAggregate — the buffer
    * is immutable — but the partial/final split still combines map-side) —
    * deliberately NOT a row_number window: a viral prompt with 10^6
    * candidate responses costs one combiner cell per map task instead
    * of a single skewed window partition. Prompts with one candidate (or
    * only one distinct candidate id) produce no pair. Struct comparison is
    * field-lexicographic in both Spark and the DuckDB oracle, which is what
    * makes the cross-engine hash check possible. */
  def preferencePairs(df: DataFrame, promptCol: String, responseCol: String,
                      score: Column, idCol: String): DataFrame =
    df.withColumn("s", score.cast("long"))
      .groupBy(col(promptCol))
      .agg(max(struct(col("s"), col(idCol), col(responseCol))).as("ch"),
        min(struct(col("s"), col(idCol), col(responseCol))).as("rj"),
        count(lit(1)).as("n_candidates"))
      .filter(col("ch")(idCol) =!= col("rj")(idCol))
      .select(col(promptCol),
        col("ch")(responseCol).as("chosen"),
        col("ch")("s").as("chosen_score"),
        col("ch")(idCol).as("chosen_id"),
        col("rj")(responseCol).as("rejected"),
        col("rj")("s").as("rejected_score"),
        col("rj")(idCol).as("rejected_id"),
        col("n_candidates"))

  /** BPE merge-candidate counting — the first step of byte-pair-encoding
    * vocabulary induction: the global top-`k` most frequent adjacent
    * character pairs across whitespace tokens. Pure HOF expression tree
    * per row (no UDF), one partial-aggregatable hash-agg on the 2-char
    * pair key (tiny cardinality → combines map-side to almost nothing),
    * then a global top-k. At 100 TB this is exactly one corpus scan; the
    * iterative merge loop of full BPE training re-runs it on the merged
    * symbol stream per round. Deterministic tie-break: (count desc, pair). */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair")).limit(k)

  /** Context-length histogram per stratum: documents bucketed by the
    * BIT-LENGTH of their size metric (bucket b holds sizes in
    * [2^(b-1), 2^b), i.e. `length(bin(n))`; size 0 → bucket 0) — the
    * log2 histogram every mixture report needs, computed with INTEGER
    * arithmetic only so the cross-engine hash cannot drift on
    * floating-point log boundaries. One hash-agg, partial-aggregatable. */
  def lengthHistogram(df: DataFrame, strataCol: String,
                      size: Column): DataFrame =
    df.withColumn("len_bucket",
        when(size <= 0, lit(0)).otherwise(length(bin(size.cast("long")))))
      .groupBy(col(strataCol), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(size.cast("long")).as("sum_size"))

  // Bad-line markers of the C4 line filter (Raffel et al. 2020 §2.2) —
  // literal `contains` probes, shared verbatim with the DuckDB oracle.
  val C4BadLineMarkers: Seq[String] = Seq(
    "javascript", "terms of use", "privacy policy", "cookie policy",
    "uses cookies")

  /** C4-style heuristic cleaning (Raffel et al. 2020 §2.2), line level then
    * document level: keep only lines that end in terminal punctuation, have
    * ≥ 3 words, and carry none of the policy/JS boilerplate markers; then
    * flag the document as dropped when the cleaned text has < 5 sentences,
    * contains "lorem ipsum", or contains a curly brace (code page tell).
    *
    * Pure per-row HOF tree (split → filter → array_join) — zero shuffle,
    * the corpus streams once; every count the two doc rules need is emitted
    * so downstream mixing can re-threshold without re-scanning.
    *
    * Control chars other than \n are mapped to spaces up front (the
    * [[bpeTrainMerges]] hygiene): Java's non-MULTILINE `$` matches before a
    * trailing \r and Java `\s` includes \x0B while RE2's does not, so a raw
    * \r or \x0B would silently diverge from the RE2 oracle. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepLine = (ln: Column) => {
      val t = trim(ln)
      C4BadLineMarkers.map(m => !lower(t).contains(m))
        .reduce(_ && _) && t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= 3
    }
    val cleaned = regexp_replace(col(textCol), "[\\x00-\\x09\\x0B-\\x1F]", " ")
    df.select(col(idCol), split(cleaned, "\n").as("lines"))
      .withColumn("kept", filter(col("lines"), keepLine))
      .select(col(idCol),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "\n").as("clean_text"))
      .withColumn("n_sentences",
        regexp_count(col("clean_text"), lit("[.!?]")).cast("long"))
      .withColumn("doc_keep",
        (col("n_sentences") >= 5 &&
          !lower(col("clean_text")).contains("lorem ipsum") &&
          !col("clean_text").contains("{")).cast("int"))
  }

  // The canonical Gopher §A1.1 "must contain 2 of" stop set.
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher composite quality filter (Rae et al. 2021 §A1.1): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio, bullet-start /
    * ellipsis-end line ratios, alphabetic-word ratio, and the stop-word
    * presence rule. Every RATIO threshold is evaluated by integer
    * cross-multiplication (e.g. mean length ≥ 3 ⇔ 3·words ≤ chars), so the
    * flags are bit-exact across engines with no float boundary; the raw
    * counts are emitted alongside the flags for re-thresholding. Zero
    * shuffle — one HOF expression tree per row. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // \r/\x0B → space up front: Java-vs-RE2 `$`/`\s` parity (see c4Clean)
    val t = regexp_replace(col(textCol), "[\\x00-\\x09\\x0B-\\x1F]", " ")
    val base = df.select(col(idCol),
      filter(split(t, "\\s+"), x => length(x) > 0).as("toks"),
      split(t, "\n").as("lines"), t.as("t"))
    val counted = base.select(
      col(idCol),
      size(col("toks")).cast("long").as("n_words"),
      aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x))
        .as("n_word_chars"),
      (regexp_count(col("t"), lit("#")) + regexp_count(col("t"), lit("\\.{3}"))
        + regexp_count(col("t"), lit("\u2026"))).cast("long").as("n_symbols"),
      size(col("lines")).cast("long").as("n_lines"),
      size(filter(col("lines"), l => trim(l).rlike("^[-*\u2022]")))
        .cast("long").as("n_bullet"),
      size(filter(col("lines"), l => trim(l).rlike("(\\.\\.\\.|\u2026)$")))
        .cast("long").as("n_ellipsis"),
      size(filter(col("toks"), x => x.rlike("[A-Za-z]")))
        .cast("long").as("n_alpha_words"),
      GopherStopWords.map(w =>
          when(array_contains(transform(col("toks"), x => lower(x)), w), 1L)
            .otherwise(0L))
        .reduce(_ + _).as("n_stop_hits"))
    counted
      .withColumn("pass_words",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int"))
      .withColumn("pass_meanlen",
        (col("n_words") * 3 <= col("n_word_chars") &&
          col("n_word_chars") <= col("n_words") * 10).cast("int"))
      .withColumn("pass_symbol",
        (col("n_symbols") * 10 <= col("n_words")).cast("int"))
      .withColumn("pass_bullet",
        (col("n_bullet") * 10 <= col("n_lines") * 9).cast("int"))
      .withColumn("pass_ellipsis",
        (col("n_ellipsis") * 10 <= col("n_lines") * 3).cast("int"))
      .withColumn("pass_alpha",
        (col("n_alpha_words") * 5 >= col("n_words") * 4).cast("int"))
      .withColumn("pass_stop", (col("n_stop_hits") >= 2).cast("int"))
      .withColumn("gopher_pass",
        (col("pass_words") === 1 && col("pass_meanlen") === 1 &&
          col("pass_symbol") === 1 && col("pass_bullet") === 1 &&
          col("pass_ellipsis") === 1 && col("pass_alpha") === 1 &&
          col("pass_stop") === 1).cast("int"))
  }

  /** URL-blocklist document filter (robots/abuse-list enforcement): a doc is
    * blocked when ANY absolute URL in its text canonicalizes (lowercase
    * host, `www.` stripped) to a blocked host. Formulated as a per-row
    * `exists` over the extracted URL array with the blocklist inlined as an
    * array literal — ZERO shuffle and no join at all; a production-size
    * blocklist rides a broadcast variable or bloom filter the same way,
    * the corpus still streaming exactly once. */
  def urlHostFilter(df: DataFrame, idCol: String, textCol: String,
                    blockedHosts: Seq[String]): DataFrame = {
    val urls = regexp_extract_all(col(textCol), lit(UrlRe), lit(0))
    val hostOf = (u: Column) => canonicalHost(u)
    val blockedArr = array(blockedHosts.map(lit): _*)
    df.select(col(idCol),
      size(urls).cast("long").as("n_urls"),
      exists(urls, u => array_contains(blockedArr, hostOf(u)))
        .cast("int").as("blocked"))
  }

  // Anchor regex: RE2 ∩ Java subset (no backrefs — the closing tag is
  // literal), double-quoted href only, like the fixture HTML emits.
  val AnchorRe = "<a\\s[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  /** Link/anchor-text extraction from HTML payloads — the anchor-corpus and
    * link-graph feed of a web-scale pipeline. Two group-extracting regex
    * scans per row (codegen'd), zipped positionally and exploded; anchor
    * text is whitespace-normalized. The explode carries only (id, href,
    * anchor) — never the HTML. */
  def linkExtract(df: DataFrame, idCols: Seq[String], htmlCol: String): DataFrame =
    df.select(idCols.map(col) :+
        regexp_extract_all(col(htmlCol), lit(AnchorRe), lit(1)).as("hs") :+
        regexp_extract_all(col(htmlCol), lit(AnchorRe), lit(2)).as("as_"): _*)
      .select(idCols.map(col) :+
        posexplode(zip_with(col("hs"), col("as_"),
          (h, a) => struct(h.as("href"), a.as("anchor"))))
          .as(Seq("pos", "ha")): _*)
      .select(idCols.map(col) :+
        col("pos").cast("long").as("pos") :+
        col("ha.href").as("href") :+
        trim(regexp_replace(col("ha.anchor"), "\\s+", " ")).as("anchor"): _*)

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw document
    * by Σ_features ln(p_target(b)/p_raw(b)) over HASHED BIGRAM buckets,
    * where the two Laplace-smoothed bucket distributions are estimated from
    * the target slice (`targetPred`) and the raw remainder of the corpus
    * itself. High scores = raw docs that look like the target domain — the
    * standard cheap importance-resampling pre-filter before training.
    *
    * Scale shape: one explode to (id, bucket) features; bucket-count
    * training is ONE partial-aggregatable hash-agg over `numBuckets` keys
    * (tiny — combines map-side to almost nothing); the model re-joins as a
    * BROADCAST; scoring aggregates per doc in one more hash-agg. Per-feature
    * log ratios are quantized to 1e-4 BEFORE summation (the `ngramLmScore`
    * technique) and the ratio numerator/denominator are exact int64
    * products, so the output is an exact integer the DuckDB oracle replays
    * — including the bucket hash itself (fingerprint64 HUGEINT replica). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, numBuckets: Int = 4096): DataFrame = {
    // all controls → space before the kernel: its Java-\s tokenizer would
    // otherwise split on \x0B where the RE2 oracle replica does not
    val cleanedText = regexp_replace(col(textCol), "[\\x00-\\x1F]", " ")
    val feats = df.withColumn("is_t", targetPred)
      .select(col(idCol), col("is_t"),
        explode(TextHashExpressions.bigram_buckets(cleanedText, numBuckets))
          .as("b"))
    val counts = feats.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
    val totals = counts.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val scored = feats.filter(!col("is_t"))
      .join(broadcast(counts), "b")
      .crossJoin(broadcast(totals))
      .withColumn("q4", floor(log(
        ((col("ct") + 1) * (col("tr") + numBuckets)).cast("double") /
          ((col("cr") + 1) * (col("tt") + numBuckets)).cast("double")) * 10000.0)
        .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("q4")).as("dsir_q4_sum"))
    df.filter(!targetPred).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("dsir_q4_sum"), lit(0L)).as("dsir_q4_sum"))
  }

  /** CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2020 §3.3:
    * score web documents by the perplexity of a language model trained on a
    * reference-quality corpus; keep the low-perplexity head). The sibling of
    * [[dsirWeights]] on the same hashed-feature plane, but a CONDITIONAL
    * model: an add-one-smoothed bigram LM over hashed word buckets,
    * P(v|u) = (c(u,v)+1)/(c(u)+V), trained on the `targetPred` slice and
    * scoring every other document by total + per-token negative
    * log-likelihood. Per-pair NLL terms are floor-quantized to 1e-4 BEFORE
    * summing, so the doc score is an exact integer both engines reproduce
    * bit-for-bit (the dsirWeights technique).
    *
    * Plan shape: one codegen'd [[graft.core.TextStats.bigramPairKeys]] pass
    * per row (only 8-byte keys leave the scan), ONE tiny-key hash-agg for
    * the model (≤ observed distinct bigrams, Zipf-bounded far below V²), the
    * context model derived from it by a second micro-agg — both broadcast to
    * the scoring scan, then one partial-aggregatable per-doc agg. If a huge
    * target corpus outgrows the broadcast threshold, drop the hints: the
    * same plan runs with a shuffle join on the 8-byte key stream.
    *
    * Output: one row per non-target doc —
    * (id, n_pairs, nll_q4_sum, avg_nll_q4 = nll_q4_sum floor-div n_pairs);
    * docs with < 2 tokens score (0, 0, 0). Lower avg = more target-like. */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String,
                   targetPred: Column, numBuckets: Int = 4096): DataFrame = {
    // controls → space up front: Java-\s vs RE2-\s parity (see dsirWeights)
    val cleanedText = regexp_replace(col(textCol), "[\\x00-\\x1F]", " ")
    val feats = df.withColumn("is_t", targetPred)
      .select(col(idCol), col("is_t"),
        explode(TextHashExpressions.bigram_pair_keys(cleanedText, numBuckets))
          .as("k"))
    val pairCounts = feats.filter(col("is_t"))
      .groupBy("k").agg(count(lit(1)).as("c_uv"))
    // c(u) = Σ_v c(u,v): derived from the SAME table, so numerator and
    // denominator can never drift out of consistency
    // integer DIV, not floor(k / V): Column `/` is double division, exact
    // only below 2^53 — a large numBuckets would mis-bucket some contexts
    val ctxCounts = pairCounts
      .groupBy(expr(s"k div ${numBuckets}L").as("u"))
      .agg(sum("c_uv").as("c_u"))
    val scored = feats.filter(!col("is_t"))
      .withColumn("u", expr(s"k div ${numBuckets}L"))
      .join(broadcast(pairCounts), Seq("k"), "left")
      .join(broadcast(ctxCounts), Seq("u"), "left")
      .withColumn("nll_q4", -floor(log(
        (coalesce(col("c_uv"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c_u"), lit(0L)) + numBuckets).cast("double"))
        * 10000.0).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"), sum(col("nll_q4")).as("nll_q4_sum"))
    df.filter(!targetPred).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("nll_q4_sum"), lit(0L)).as("nll_q4_sum"))
      .withColumn("avg_nll_q4",
        when(col("n_pairs") === 0L, lit(0L))
          // integer DIV: every nll term is ≥ 0, so trunc == floor == DuckDB //
          .otherwise(expr("nll_q4_sum div n_pairs")))
  }

  // Unit Separator: the symbol delimiter of the BPE word encoding below.
  // Tokens are control-stripped first, so no symbol can contain it.
  private val Us = "\u001F"

  /** BPE vocabulary induction — the FULL merge loop on top of
    * [[bpePairCounts]]'s single counting step: numMerges rounds of
    * (count adjacent symbol pairs weighted by word frequency → take the
    * most frequent, ties broken by pair bytes ascending → merge it in every
    * word). Each symbol is stored DOUBLE-DELIMITED as `US sym US` (a word is
    * the concatenation of its symbols' stored forms, so adjacent symbols are
    * separated by exactly two U+001F), and a merge round is ONE literal
    * `replace(w, US l US US r US, US lr US)` over the distinct-word table.
    * The double delimiter is what makes leftmost non-overlapping `replace`
    * EXACTLY the left-to-right BPE merge scan: each match consumes only its
    * own pair's flanking delimiters, so consecutive occurrences of the pair
    * ('banana' with (a,n) → [b,an,an,a]; 'aaaa' with (a,a) → [aa,aa]) merge
    * in the same pass — a single shared delimiter would be eaten by the
    * first match and miss the run.
    *
    * Scale shape: the corpus is read ONCE (word-count hash-agg);
    * every merge round then passes over the DISTINCT-WORD table only —
    * corpus-size-independent, the standard BPE-training property. The
    * argmax collect per round is one row (the induction loop is inherently
    * sequential in the merge rank). Control chars are stripped up front
    * (separator safety + Java-vs-RE2 `\s` parity on \x0B). */
  def bpeTrainMerges(df: DataFrame, textCol: String,
                     numMerges: Int): Seq[(Int, String, String, String, Long)] =
    bpeTrainMerges(df, textCol, numMerges, collectVocabLimit = 4000000)

  /** As [[bpeTrainMerges]], with the driver/distributed switchover exposed.
    *
    * The merge loop is inherently sequential (round k+1's counts depend on
    * round k's merge), and its state is the DISTINCT-WORD frequency table —
    * bounded by vocabulary, not corpus size. So the corpus-scale work is
    * exactly ONE distributed hash-agg (word → count); when the resulting
    * vocabulary fits on the driver (`collectVocabLimit`, default 4M words ≈
    * a few hundred MB — the SentencePiece/HF-tokenizers regime, which train
    * from a word-count table on one machine) the loop runs locally with
    * bit-identical semantics: per-adjacent-position pair counts, ties broken
    * by pair bytes ascending (UTF-8 unsigned — Spark's UTF8String order),
    * leftmost non-overlapping literal replace in the double-delimited
    * encoding. Above the limit it falls back to the distributed per-round
    * pair-count loop (one pass over the word table per merge). A 12-round
    * induction at sf0.1 drops from ~49 s (cold) to the cost of the one
    * hash-agg (~2 s); the switchover is equivalence-tested both ways. */
  def bpeTrainMerges(df: DataFrame, textCol: String, numMerges: Int,
                     collectVocabLimit: Int): Seq[(Int, String, String, String, Long)] = {
    val cleaned = regexp_replace(lower(col(textCol)), "[\\x00-\\x1F]", " ")
    // cached across the probe and the distributed arm's first round, so the
    // corpus-scale hash-agg runs once even when the probe overflows the cap
    val wordCounts = df
      .select(explode(filter(split(cleaned, "\\s+"), x => length(x) > 0)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .cache()
    val probe = wordCounts.limit(collectVocabLimit + 1).collect()
    if (probe.length <= collectVocabLimit) {
      wordCounts.unpersist()
      return bpeTrainLocal(
        probe.map(r => (r.getString(0), r.getLong(1))), numMerges)
    }
    var words = wordCounts
      .select(regexp_replace(col("tok"), "(?s)(.)", Us + "$1" + Us).as("w"),
        col("n"))
      .cache()
    words.count()
    wordCounts.unpersist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val syms = filter(split(col("w"), Us), x => length(x) > 0)
      val best = words
        .select(col("n"), explode(when(size(syms) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i), lit(Us), element_at(syms, i + 1)))))
          .as("p"))
        .groupBy("p").agg(sum("n").as("cnt"))
        .orderBy(desc("cnt"), col("p"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val Array(l, r) = p.split(Us)
        merges += ((rank, l, r, l + r, cnt))
        words = words.withColumn("w",
          org.apache.spark.sql.functions.replace(col("w"),
            lit(Us + l + Us + Us + r + Us), lit(Us + l + r + Us)))
          // checkpoint each round: an unbroken withColumn chain would make
          // round k REPLAY all k-1 prior replaces from the cached base
          // (O(numMerges²) string rewrites) and grow the analyzed plan
          // without bound — the word table is the small distinct-word set,
          // so one materialization per round is the cheap side of that trade
          .localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Driver-side merge loop over a collected (word, count) table — the
    * below-`collectVocabLimit` arm of [[bpeTrainMerges]], semantics pinned
    * to the distributed arm symbol for symbol:
    *  - word encoding: each CODE POINT (Java regex `.` and RE2 `.` both
    *    match one code point) stored double-delimited `US cp US`;
    *  - pair counting: every adjacent symbol position, weighted by word
    *    count ('aaaa' as [a,a,a,a] contributes (a,a) three times);
    *  - argmax: count desc, then pair string by UTF-8 unsigned byte order
    *    (UTF8String/DuckDB collation — NOT Java's UTF-16 compareTo, which
    *    disagrees on supplementary-plane vs U+E000..U+FFFF);
    *  - merge: leftmost non-overlapping literal replace (String.replace). */
  private def bpeTrainLocal(wordCounts: Array[(String, Long)],
                            numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    var words: Array[(String, Long)] = wordCounts.map { case (tok, n) =>
      val sb = new StringBuilder
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        sb.append(Us).appendAll(Character.toChars(cp)).append(Us)
        i += Character.charCount(cp)
      }
      (sb.toString, n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, n) =>
        // split on US, drop empties == the symbol list of the stored form
        val syms = w.split(Us).filter(_.nonEmpty)
        var i = 0
        while (i + 1 < syms.length) {
          val p = syms(i) + Us + syms(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var bestP: String = null
        var bestN = 0L
        counts.foreach { case (p, n) =>
          if (bestP == null || n > bestN || (n == bestN && utf8Less(p, bestP))) {
            bestP = p; bestN = n
          }
        }
        val Array(l, r) = bestP.split(Us)
        merges += ((rank, l, r, l + r, bestN))
        val from = Us + l + Us + Us + r + Us
        val to = Us + l + r + Us
        words = words.map { case (w, n) => (w.replace(from, to), n) }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Tokenizer application: encode each document with a trained merge
    * table, applying merges sequentially in rank order (each rank is one
    * literal `replace` over the whole doc string in the double-delimited
    * symbol encoding of [[bpeTrainMerges]] — exact left-to-right merge
    * order, including consecutive pair runs; never across word boundaries
    * because the inter-word gap contains a space symbol and merge symbols
    * are space-free). Zero shuffle, zero UDF: the doc encoding is a single
    * regexp pass and the merge chain is `numMerges` codegen'd replaces.
    * Emits (id, n_words, n_tokens, enc80); every stored symbol carries
    * exactly two delimiters, so n_symbols = count(US)/2 and the non-space
    * token count subtracts the (n_words − 1) space symbols. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val rep = (src: Column, search: Column, to: Column) =>
      org.apache.spark.sql.functions.replace(src, search, to)
    // coalesce: NULL text must take the norm === "" zero-count branch, not
    // propagate NULL counts (when(NULL === "") is NULL → otherwise-branch)
    val norm = trim(regexp_replace(
      regexp_replace(lower(coalesce(col(textCol), lit(""))),
        "[\\x00-\\x1F]", " "), "\\s+", " "))
    val s0 = regexp_replace(norm, "(?s)(.)", Us + "$1" + Us)
    val sm = merges.foldLeft(s0) { case (acc, (l, r)) =>
      rep(acc, lit(Us + l + Us + Us + r + Us), lit(Us + l + r + Us))
    }
    df.select(col(idCol), norm.as("norm"), sm.as("s"))
      .select(col(idCol),
        when(col("norm") === "", 0L)
          .otherwise(size(split(col("norm"), " ")).cast("long")).as("n_words"),
        when(col("norm") === "", 0L)
          .otherwise(
            ((length(col("s")) - length(rep(col("s"), lit(Us), lit("")))) / 2)
              .cast("long") -
            (size(split(col("norm"), " ")).cast("long") - 1L))
          .cast("long").as("n_tokens"),
        substring(trim(regexp_replace(rep(col("s"), lit(Us), lit(" ")),
          " +", " ")), 1, 80).as("enc80"))
  }

  /** Exact per-stratum quantiles of an integer size metric with an
    * INTEGER-ARITHMETIC discrete definition: quantile p (in ppm) = the
    * smallest value whose 1-based sorted rank satisfies
    * rn·10^6 ≥ n·p — no floating-point interpolation anywhere, so the
    * cross-engine hash cannot drift on libm/formula-order ulps (the reason
    * this is NOT `percentile`/`quantile_cont`). One per-stratum window +
    * one hash-agg; the usual hot-stratum window caveat applies (a mega
    * stratum serializes its own partition — pre-aggregate to
    * (stratum, value, count) first at 100 TB). */
  def exactQuantiles(df: DataFrame, strataCol: String, value: Column,
                     ppms: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = df
      .withColumn("v", value.cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(strataCol))))
    val aggs = max(col("n")).as("n") +:
      ppms.map(p => min(when(col("rn") * 1000000L >= col("n") * p, col("v")))
        .as(s"q$p"))
    ranked.groupBy(col(strataCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Tumbling time-window aggregation over the event/turn stream — the
    * time-bucketed counterpart of the row windows in §2.8, using Spark's
    * `window()` so the SAME plan shape runs under Structured Streaming with
    * a watermark. One hash-agg on (key, bucket); money sums in exact
    * cents. */
  def tumblingCounts(df: DataFrame, keyCol: String, tsCol: String,
                     value: Column, width: String): DataFrame =
    df.groupBy(col(keyCol), window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("n_events"),
        floor(sum(value.cast("decimal(18,4)")) * 100).cast("long").as("sum_cents"))
      .select(col(keyCol),
        col("w.start").cast("timestamp").cast("long").as("w_start_epoch"),
        col("w.end").cast("timestamp").cast("long").as("w_end_epoch"),
        col("n_events"), col("sum_cents"))

  /** Per-conversation tool-usage profile: turn counts by role, the distinct
    * tools invoked (sorted, comma-joined; empty string when none), and the
    * conversation's wall-clock span. One partial-aggregatable hash-agg —
    * counts/min/max combine map-side; `collect_set` state is bounded by the
    * tool VOCABULARY (small by construction), not by conversation length,
    * so a monster conversation costs no more agg memory than a short one. */
  def toolStats(turns: DataFrame): DataFrame =
    turns.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
      sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool_calls"),
      array_join(array_sort(collect_set(col("tool"))), ",").as("tools"),
      min(col("ts")).cast("long").as("t_first_epoch"),
      max(col("ts")).cast("long").as("t_last_epoch"))

  /** Approximate-distinct telemetry: the HyperLogLog SKETCH of `value` —
    * per-bucket max rank over 2^p buckets (bucket/rank per
    * `TextStats.hllBucketRank`). Emits the mergeable integer state, not the
    * float estimate: shards/days union by a further
    * `groupBy(bucket).max(max_rank)`, and the rows are exactly replayable
    * by any engine (the estimate readout is [[hllEstimate]]).
    *
    * Scale shape: one compiled map pass + ONE hash aggregation whose output
    * is 2^p rows regardless of input size — partial aggregation collapses
    * each task to ≤2^p rows before the exchange, so the shuffle is constant
    * -width. This is the right telemetry primitive at 10^12 turns, where
    * exact `count(DISTINCT x)` is a full-data exchange. */
  def hllSketch(df: DataFrame, value: Column, p: Int = 8): DataFrame =
    df.select(TextHashExpressions.hll_bucket_rank(value.cast("string"), p).as("br"))
      .select(col("br").getItem(0).as("bucket"), col("br").getItem(1).as("rnk"))
      .groupBy("bucket").agg(max(col("rnk")).as("max_rank"))

  /** Frequency telemetry: the count-min SKETCH of `value` — per-(depth,
    * bucket) counts over `depth` hash rows × `width` buckets
    * (Cormode & Muthukrishnan 2005; buckets per `TextStats.cmsBuckets`).
    * Like [[hllSketch]] this emits the mergeable integer STATE, not a
    * readout: shards/days union by a further `groupBy(d, bucket).sum(cnt)`,
    * and every row is exactly replayable by another engine. Point estimate
    * = [[cmsEstimate]] (min over rows — an upper bound on the true count,
    * within εN with probability 1−δ for width=e/ε, depth=ln(1/δ)).
    *
    * Scale shape: one compiled map pass (the d bucket hashes come out of a
    * single codegen'd kernel call), one posexplode bounded by depth, and
    * ONE hash aggregation whose output is ≤ depth·width rows regardless of
    * input size — partial aggregation collapses each task before the
    * exchange, so the shuffle is constant-width. The heavy-hitter question
    * ("which tokens dominate the 10^12-turn corpus") becomes: sketch, then
    * probe candidate keys — no full-vocabulary exchange. */
  def cmsSketch(df: DataFrame, value: Column, depth: Int = 4,
                width: Int = 1024): DataFrame =
    df.select(TextHashExpressions.cms_buckets(value.cast("string"), depth, width).as("bs"))
      .select(posexplode(col("bs")).as(Seq("d", "bucket")))
      .groupBy(col("d").cast("long").as("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Sketch-gated exact heavy hitters: every distinct `value` with true
    * count ≥ `minCount`, WITHOUT a full-vocabulary exchange. Two passes:
    * (1) [[cmsSketch]] collapses the stream to a ≤ depth×width integer
    * state (constant size — collecting it is a telemetry read, not a data
    * read); (2) the state rides the serialized plan into a codegen'd
    * `CmsEstimate` filter, so only occurrences whose upper-bound estimate
    * clears the threshold reach the exact-count shuffle, and a final exact
    * HAVING removes the sketch's false positives. No false negatives: the
    * CMS estimate is always ≥ the true count.
    *
    * Scale shape: at 10^12 turns the token vocabulary is billions of keys
    * but the heavy tail above any useful threshold is tiny — the exact
    * `groupBy(value)` this replaces shuffles the whole vocabulary; this
    * shuffles only gated survivors (εN false-positive mass, tunable by
    * width). The output is exact, not approximate. */
  /** [[cmsSketch]] collected into the flattened row-major depth×width state
    * array the codegen probes (`cms_estimate` / `cms_rank_prefix`) carry —
    * the ONE owner of the sketch's (d, bucket, cnt) row layout (review fix:
    * ppjoinPrefixes carried a verbatim copy of this loop). A ≤ depth·width-
    * row telemetry read, never a data read. */
  def cmsState(df: DataFrame, value: Column,
               depth: Int = 4, width: Int = 1024): Array[Long] = {
    val state = new Array[Long](depth * width)
    cmsSketch(df, value, depth, width).collect().foreach { r =>
      state(r.getLong(0).toInt * width + r.getLong(1).toInt) = r.getLong(2)
    }
    state
  }

  def heavyHitters(df: DataFrame, value: Column, minCount: Long,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val state = cmsState(df, value, depth, width)
    df.select(value.cast("string").as("value"))
      .filter(TextHashExpressions.cms_estimate(col("value"), state, depth, width)
        >= minCount)
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Driver-side CMS point estimate for one key: min over the depth rows of
    * its bucket counts (absent bucket → 0). */
  def cmsEstimate(sketch: Seq[(Long, Long, Long)], key: String,
                  depth: Int, width: Int): Long = {
    val m = sketch.map { case (d, b, c) => (d, b) -> c }.toMap
    graft.core.TextStats.cmsBuckets(key, depth, width).zipWithIndex
      .map { case (b, d) => m.getOrElse((d.toLong, b), 0L) }.min
  }

  /** Driver-side HLL readout: bias-corrected harmonic estimate with the
    * small-range linear-counting correction (Flajolet et al. 2007, §4). */
  def hllEstimate(sketch: Seq[(Long, Long)], p: Int): Double = {
    require(p >= 1 && p <= 30, s"hll precision out of range: $p")
    val m = 1 << p
    val regs = new Array[Long](m)
    sketch.foreach { case (b, r) => regs(b.toInt) = math.max(regs(b.toInt), r) }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val z = 1.0 / regs.map(r => math.pow(2.0, -r.toDouble)).sum
    val e = alpha * m * m * z
    val zeros = regs.count(_ == 0L)
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** KMV ("k minimum values" / bottom-k) distinct sketch of `value`
    * (Bar-Yossef et al. 2002): the k smallest DISTINCT fingerprints in
    * unsigned order, emitted as (rank, fp) with fp signed for engine
    * neutrality. Deterministic — unlike HLL's register floats there is no
    * estimator inside the state, so two engines produce byte-identical
    * sketches — and exactly mergeable: union ∪ bottom-k == bottom-k of the
    * union ([[kmvMerge]]), which is what makes per-shard/per-day sketches
    * composable without re-reading history. Readout = [[kmvEstimate]]. As a
    * bonus the sketch IS a coordinated uniform sample of the distinct
    * values, so the same rows drive sampled quantiles and cross-table
    * Jaccard (matching bottom-k sets estimate resemblance).
    *
    * Scale shape: one compiled map pass → hash-distinct on the 8-byte fp
    * (partial agg collapses each task's duplicates before the exchange;
    * only fingerprints ever shuffle) → `TakeOrderedAndProject` for the
    * bottom-k (per-partition heap of k, driver merge of k·partitions rows —
    * never a global sort). The final rank window touches k rows. */
  def kmvSketch(df: DataFrame, value: Column, k: Int = 256): DataFrame =
    bottomK(df.select(
      TextHashExpressions.fingerprint64(value.cast("string")).as("fp")), k)

  /** Merge two KMV sketches (or any frames with an `fp` column): bottom-k
    * of the union. kmvMerge(kmvSketch(A), kmvSketch(B)) == kmvSketch(A ∪ B)
    * exactly (spec-asserted), so shards compose associatively. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame =
    bottomK(a.select("fp").unionByName(b.select("fp")), k)

  private def bottomK(fps: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"kmv needs k >= 2, got $k")
    // sign-bit flip = unsigned order as signed; XOR is overflow-free under
    // ANSI (an additive bias would throw on Long.MinValue)
    val u = col("fp").bitwiseXOR(lit(Long.MinValue))
    val w = Window.orderBy("u") // post-limit: ≤ k rows, one tiny partition
    // drop null fingerprints (null input values): Spark's asc is
    // nulls-FIRST, so one null would occupy rank 1 and evict a real
    // fingerprint — and diverge from any NULLS-LAST engine's replica
    fps.filter(col("fp").isNotNull).distinct().withColumn("u", u)
      .orderBy(col("u")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank").cast("long").as("rank"), col("fp"))
  }

  /** Bottom-k resemblance (Broder 1997): estimate the Jaccard similarity of
    * two SETS from their KMV sketches alone — the bottom-k of the union is a
    * coordinated uniform sample of A ∪ B, so the fraction of it present in
    * BOTH sketches estimates |A∩B|/|A∪B|. One row out: (k_union, n_inter,
    * jaccard_ppm), all exact integers (ppm-floored ratio — no float
    * boundary). Sub-k sketches make the estimate EXACT.
    *
    * Scale shape: corpus-sized work already happened inside [[kmvSketch]];
    * this is joins over ≤k-row frames. Comparing two 10^12-row corpora
    * costs two sketch scans + a constant-size reconciliation — the same
    * telemetry contract as [[kmvMerge]]. */
  def kmvResemblance(sketchA: DataFrame, sketchB: DataFrame,
                     k: Int = 256): DataFrame = {
    val u = kmvMerge(sketchA, sketchB, k).select("fp")
    val inter = u
      .join(sketchA.select("fp").distinct(), "fp")
      .join(sketchB.select("fp").distinct(), "fp")
    u.agg(count(lit(1)).cast("long").as("k_union"))
      .crossJoin(inter.agg(count(lit(1)).cast("long").as("n_inter")))
      .withColumn("jaccard_ppm",
        when(col("k_union") === 0L, 0L)
          .otherwise(expr("(n_inter * 1000000) div k_union")))
  }

  /** Driver-side KMV readout: (k-1) · 2^64 / u_k with u_k the k-th smallest
    * unsigned fingerprint (the unbiased KMV estimator; relative error
    * ~1/√(k−2)). A sketch with fewer than k rows saw fewer than k distinct
    * fingerprints — the count is exact. */
  def kmvEstimate(sketch: Seq[(Long, Long)], k: Int): Double = {
    if (sketch.size < k) return sketch.size.toDouble
    val fpK = sketch.maxBy { case (rank, _) => rank }._2
    val uK = BigInt(fpK) + (if (fpK < 0) BigInt(1) << 64 else BigInt(0))
    (BigDecimal(BigInt(k - 1) << 64) / BigDecimal(uK)).toDouble
  }

  /** Deterministic weighted sampling WITHOUT replacement (the
    * Efraimidis–Spirakis A-ES scheme as an integer exponential race): each
    * row draws u ∈ (0, 1] from its id fingerprint (the same 10^6-bucket
    * chain as [[stratifiedSample]], +1 so u is never 0), races with arrival
    * time −ln(u)/w, and the k earliest arrivals win — inclusion probability
    * proportional to weight, exactly one pass, no RNG state, reproducible
    * under any partitioning or retry.
    *
    * Cross-engine exactness: −ln(u) is floor-quantized to 1e-4 BEFORE the
    * weight division (`q_lm_score`'s convention — engines agree on libm ln
    * at that granularity), and the division is INTEGER (`div`/`//`), so the
    * race key `pri = (qln·10^6) div w` is a bigint both engines compute
    * identically; ties break on (weight DESC, fingerprint, id). The weight
    * tiebreak is load-bearing, not cosmetic: quantization collapses the
    * top ~e^(−1e-4) slice of u-space (≈1e-4 of rows) to pri = 0, where a
    * fingerprint-only tiebreak would race WEIGHT-BLIND — at corpus scale
    * (k ≪ n·1e-4) the whole sample would degenerate to uniform-in-band.
    * Within a band the exact A-ES arrival qln_true/w is stochastically
    * smaller for larger w, so weight-descending is the maximum-likelihood
    * within-band order; the residual deviation from exact A-ES is bounded
    * by the band width (1e-4 in −ln u). Weights must be ≥ 1
    * (rows with null/non-positive weight are dropped, documented).
    *
    * Scale shape: the sort-limit compiles to TakeOrderedAndProject — an
    * O(k) heap per partition, k rows per partition cross to the final
    * select, non-survivors never shuffle. At 10^12 rows and k=10^6 that is
    * the only viable weighted-sample shape short of a full sort. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int): DataFrame = {
    val fp = TextHashExpressions.fingerprint64(col(idCol).cast("string"))
    df.withColumn("w", weightCol.cast("long"))
      .filter(col("w") >= 1L)
      .withColumn("fp", fp)
      .withColumn("bucket", pmod(col("fp"), lit(1000000L)).cast("long"))
      .withColumn("qln", floor(
        log((col("bucket") + 1L).cast("double") / lit(1000000.0))
          * lit(-10000.0)).cast("long"))
      .withColumn("pri", expr("(qln * 1000000) div w"))
      .orderBy(col("pri"), desc("w"), col("fp"), col(idCol))
      .limit(k)
  }
}
