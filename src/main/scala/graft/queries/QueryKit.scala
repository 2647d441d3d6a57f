package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.FixtureGen

/** What more than one query family uses: the sf-table reader and its scan
  * spread, the exact-integer and tokenizer column helpers, the per-sf path
  * tag, the fixtures several families read, and the DuckDB generators of the
  * 64-bit hash chain and of the float-vector arithmetic. */
private[queries] object QueryKit {

  /** Scale-adaptive scan spread (optimization guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read"). The
    * bench fixtures are SINGLE parquet files with ONE row group each, so
    * every scan stage — and with partial aggregation, the whole heavy half
    * of a query — otherwise runs as ONE task while 31 cores idle. When the
    * input cannot fill the session's cores (total bytes < cores ×
    * maxPartitionBytes, i.e. the scan would get fewer splits than cores
    * even before the one-row-group collapse), a round-robin repartition to
    * `defaultParallelism` moves the tiny bytes once and parallelizes all
    * downstream per-row work. At warehouse scale the gate never fires
    * (inputs are many files ≥ the split size), so the plan is unchanged
    * exactly where the extra exchange would actually cost something.
    * Deterministic: round-robin repartition sorts each input partition
    * first (spark.sql.execution.sortBeforeRepartition, default on), and
    * every declared query's output is key-deterministic regardless of
    * partitioning (stable tiebreaks / exact aggregates — the r1-r5 oracle
    * design rule). */
  def spread(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (n <= 1) return df
    val bytes = try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
      else {
        val st = java.nio.file.Files.walk(p)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally st.close()
      }
    } catch { case _: Exception => Long.MaxValue } // unknown → leave alone
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // < 64 KB: broadcast-sized dimension tables — a shuffle buys nothing
    if (bytes >= 64L * 1024 && bytes < n.toLong * maxPart) df.repartition(n)
    else df
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spread(s, s.read.parquet(path), path)
  }

  def ppm(c: Column): Column = floor(c * 1000000L).cast("long")

  /** The repo's ONE whitespace tokenizer expression (control-strip → lower →
    * \s+ split → drop empties). Parity-sensitive: controls become spaces
    * BEFORE the split because Java `\s` includes \x0B while RE2's does not,
    * and `$` differs on trailing \r — every DuckDB oracle replays exactly
    * `list_filter(string_split_regex(lower(regexp_replace(text,
    * '[\x00-\x1F]', ' ', 'g')), '\s+'), x -> len(x) > 0)`. Keep the copies
    * from drifting: change it here and in every oracle together. */
  def wsToks(text: Column): Column =
    filter(split(
      regexp_replace(lower(text), "[\\x00-\\x1F]", " "), "\\s+"),
      x => length(x) > 0)

  /** Tag of an sf directory for the paths a query derives from it: sf-keyed
    * fixtures, exports and scratch tables must not be clobbered by a
    * concurrent Verify/Bench over another sf dir. */
  def sfTag(d: String): String = java.lang.Integer.toHexString(d.hashCode)

  /** Removes the directory tree at `dir`, if present. */
  def deleteDir(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(p) // must close: leaks a dir handle
      try st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally st.close()
    }
  }

  /** A fresh directory `<ScratchDir>/<prefix>_<sfTag>` for the snapshot
    * tables a query rebuilds on every run (their commits are
    * version-additive; a re-run on a stale table would double-apply). */
  def freshScratch(prefix: String, d: String): String = {
    val dir = s"${SparkEntry.ScratchDir}/${prefix}_${sfTag(d)}"
    deleteDir(dir)
    dir
  }

  /** Transcript fixture generated at session width: the per-conversation
    * synthesis is seeded per convIdx, so the table is identical as a SET for
    * any parallelism, and both the generating flatMap and every later scan
    * of the written files (one row group per file) get machine-width tasks. */
  def transcripts(name: String, profile: FixtureGen.Profile): Fixture =
    new Fixture(name, (s, path) =>
      graft.sources.TranscriptGen.generate(s, profile,
          math.max(8, s.sparkContext.defaultParallelism))
        .toDF.write.mode("overwrite").parquet(path))

  /** The 60-conversation FSM transcript fixture (every 23rd conversation a
    * 300-turn monster, every 17th invalid) that most transcript queries read. */
  val FsmRec60: Fixture = transcripts("fsmrec60",
    FixtureGen.Profile(numConvs = 60, monsterEvery = 23, monsterTurns = 300, invalidEvery = 17))

  /** Slim transcript fixture `slim<convs>` (conv_id, turn_idx, text), read
    * through [[slimTable]]. */
  def slim(convs: Int): Fixture = new Fixture(s"slim$convs", (s, path) =>
    graft.sources.TranscriptGen.generate(s,
      FixtureGen.Profile(numConvs = convs, monsterEvery = 41, monsterTurns = 80,
        invalidEvery = 13), math.max(8, s.sparkContext.defaultParallelism))
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .write.mode("overwrite").parquet(path))
  val Slim150: Fixture = slim(150)

  /** A slim fixture read with the scan spread. */
  def slimTable(s: SparkSession, f: Fixture): DataFrame = {
    val path = f(s)
    spread(s, s.read.parquet(path), path)
  }

  /** DuckDB-SQL generators replicating `TextStats`' 64-bit hash chain in
    * HUGEINT mod-2^64 arithmetic (the q_fingerprint technique, generalized):
    * FNV-1a over UTF-8 bytes + splitmix64 finalization. 64×64-bit multiplies
    * are split into 32-bit halves so the product never leaves signed-HUGEINT
    * range: x*C mod 2^64 = x*lo + ((x*hi) mod 2^32)*2^32 (mod 2^64). This
    * lets DuckDB recompute minhash/simhash signatures INDEPENDENTLY, so the
    * near-dup operators get a true cross-engine oracle instead of rows-only. */
  object Osql {
    val Mod = "18446744073709551616::HUGEINT" // 2^64

    /** UTF-8 byte list (HUGEINT) of a string expression. */
    def utf8Bytes(col: String): String =
      s"""flatten(list_transform(regexp_extract_all($col, '(?s).'), c ->
    CASE WHEN ord(c) < 128 THEN [ord(c)::HUGEINT]
         WHEN ord(c) < 2048 THEN [(192 + ord(c)//64)::HUGEINT, (128 + ord(c)%64)::HUGEINT]
         WHEN ord(c) < 65536 THEN [(224 + ord(c)//4096)::HUGEINT, (128 + (ord(c)//64)%64)::HUGEINT, (128 + ord(c)%64)::HUGEINT]
         ELSE [(240 + ord(c)//262144)::HUGEINT, (128 + (ord(c)//4096)%64)::HUGEINT, (128 + (ord(c)//64)%64)::HUGEINT, (128 + ord(c)%64)::HUGEINT] END))"""

    /** FNV-1a fold over a HUGEINT byte list (basis 0xCBF29CE484222325; prime
      * 0x100000001B3 = 256*2^32 + 435). */
    def fnv(bytes: String): String =
      s"""list_reduce(list_prepend(14695981039346656037::HUGEINT, $bytes),
  (h, b) -> (xor(h, b) * 435::HUGEINT + ((xor(h, b) * 256::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $Mod)"""

    /** Four chained CTEs `<p>a..<p>d` applying splitmix64 (TextStats.mix64)
      * to column `x` of CTE `<p>0`; SELECT * REPLACE carries the other
      * columns through. Constants: 0x9E3779B97F4A7C15 add;
      * 0xBF58476D1CE4E5B9 = 3210233709*2^32+484763065 after >>>30 xor;
      * 0x94D049BB133111EB = 2496678331*2^32+321982955 after >>>27 xor;
      * final >>>31 xor. */
    def mixCtes(p: String, x: String): String =
      s"""${p}a AS (SELECT * REPLACE ((($x + 11400714819323198485::HUGEINT) % $Mod) AS $x) FROM ${p}0),
${p}b AS (SELECT * REPLACE (((xor($x, $x // 1073741824::HUGEINT) * 484763065::HUGEINT + ((xor($x, $x // 1073741824::HUGEINT) * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $Mod) AS $x) FROM ${p}a),
${p}c AS (SELECT * REPLACE (((xor($x, $x // 134217728::HUGEINT) * 321982955::HUGEINT + ((xor($x, $x // 134217728::HUGEINT) * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $Mod) AS $x) FROM ${p}b),
${p}d AS (SELECT * REPLACE ((xor($x, $x // 2147483648::HUGEINT)) AS $x) FROM ${p}c)"""

    /** Unsigned HUGEINT in [0,2^64) → signed BIGINT-range value. */
    def signed(u: String): String =
      s"CASE WHEN $u >= 9223372036854775808::HUGEINT THEN $u - $Mod ELSE $u END"
  }

  /** CTEs computing hyperplane-LSH buckets of an `emb` CTE (vec_id,
    * embedding) for the (tbl → seedExpr) plane family. Planes are
    * regenerated from splitmix64 EXACTLY as `HyperplaneBucket.planes`
    * (h → h.toDouble / 2^63 / 2 — both conversions correctly-rounded IEEE on
    * either engine), and every dot product folds in index order via
    * list_reduce, so each double matches the compiled kernel bit-for-bit.
    * Emits CTEs ending in: pw(tbl, p, ws), bkt(vec_id, tbl, bucket). */
  def bucketCtes(seedExpr: String, tables: Int, bits: Int, dim: Int): String =
    s"""tbls AS (SELECT unnest(generate_series(0, ${tables - 1})) AS tbl),
pl0 AS (SELECT t.tbl AS tbl, pp.p AS p, ii.i AS i,
    xor(xor(($seedExpr)::HUGEINT, pp.p::HUGEINT * 4294967296::HUGEINT), ii.i::HUGEINT) AS x
  FROM tbls t
  CROSS JOIN (SELECT unnest(generate_series(0, ${bits - 1})) AS p) pp
  CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS i) ii),
${Osql.mixCtes("pl", "x")},
pw AS (SELECT tbl, p, list((${Osql.signed("x")})::DOUBLE / 9223372036854775808.0 / 2.0 ORDER BY i) AS ws
  FROM pld GROUP BY tbl, p),
dotp AS (SELECT e.vec_id, w.tbl, w.p,
    list_reduce(list_transform(generate_series(1, $dim), i -> e.embedding[i]::DOUBLE * w.ws[i]), (a, b) -> a + b) AS d
  FROM emb e CROSS JOIN pw w),
bkt AS (SELECT vec_id, tbl, SUM(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM dotp GROUP BY vec_id, tbl)"""

  /** Ordered-fold squared-norm CTE (vec_id, nn) over `emb`. */
  def normCte(dim: Int): String =
    s"""nrm AS (SELECT vec_id,
    list_reduce(list_transform(generate_series(1, $dim), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (a, b) -> a + b) AS nn
  FROM emb)"""

  /** FloatCosine of two vectors given their precomputed squared norms. */
  def cosExpr(a: String, b: String, na: String, nb: String, dim: Int): String =
    s"""CASE WHEN $na = 0 OR $nb = 0 THEN 0.0
         ELSE list_reduce(list_transform(generate_series(1, $dim), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y) / (SQRT($na) * SQRT($nb)) END"""
}
