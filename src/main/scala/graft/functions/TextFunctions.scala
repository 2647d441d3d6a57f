package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.TextStats

/** Text-analysis column functions for the training-data pipeline (token
  * counting, quality scoring, language ID, shingling, minhash, simhash).
  *
  * Everything that CAN be a built-in expression tree is one (whole-stage
  * codegen, no serialization); only the 64-bit custom hashes ride Spark's
  * built-in `xxhash64` so the hot dedup path stays codegen'd too. */
object TextFunctions {

  /** Whitespace tokens — str.split()-LIKE semantics over the Java `\s`
    * class: codegen'd regexp edge-strip + split with empty tokens dropped
    * (plain Spark split keeps leading/trailing empties; trim() strips ' '
    * only). Divergence from `TextStats.wsTokens` (the kernel family):
    * that one edge-strips the full Python `str.isspace()` class
    * (NBSP/NEL/FS-US/Zs/Zl/Zp) via PyStr.strip, this one Java `\s` only —
    * so text EDGED with Python-only whitespace keeps it glued to its edge
    * token here. The two agree on every input free of such edges (all
    * fixtures). This class is pinned by the q_tokens/q_quality_ratios
    * DuckDB oracle regexes — changing it means migrating those replicas
    * in the same change (see TextStats.wsTokens scaladoc). */
  def wsTokens(c: Column): Column = {
    val stripped = regexp_replace(c, "^\\s+|\\s+$", "")
    when(length(stripped) === 0, array().cast("array<string>"))
      .otherwise(split(stripped, "\\s+"))
  }

  def tokenCount(c: Column): Column = size(wsTokens(c))

  /** BPE-ish sub-word token count: letter runs + digit runs + single marks. */
  def bpeIshTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]"), lit(0)))

  /** Ratio helpers (quality scoring), all as exact expression arithmetic. */
  def alphaRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[^a-zA-Z]", "")).cast("double") / length(c))
  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[a-zA-Z0-9\\s]", "")).cast("double") / length(c))

  /** Stopword hits for one language's list (word-boundary regex count). */
  def stopwordHits(c: Column, lang: String): Column = {
    val words = TextStats.StopWords(lang).toSeq.sorted.mkString("|")
    size(regexp_extract_all(lower(c), lit(s"\\b($words)\\b"), lit(0)))
  }

  /** Stopword-ratio language ID over the four supported lists; ties broken by
    * language code ascending; zero hits → 'und'; null text → null (it would
    * otherwise fall through every when() to 'und'). Exact mirror of
    * TextStats.langId — both count `\b(word|...)\b` regex hits. */
  def langId(c: Column): Column = {
    val langs = TextStats.StopWords.keys.toSeq.sorted
    val hits = langs.map(l => stopwordHits(c, l))
    val best = greatest(hits: _*)
    val pick = langs.zip(hits).foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best, lit(l)).otherwise(acc)
    }
    when(c.isNull, lit(null).cast("string"))
      .when(best === 0, lit("und")).otherwise(pick)
  }

  /** Heuristic quality score in [0,1] — mirrors TextStats.qualityScore. */
  def qualityScore(c: Column): Column = {
    val n = length(c).cast("double")
    val toks = wsTokens(c)
    val nTok = size(toks).cast("double")
    // token chars == non-whitespace chars (codegen'd, no HOF)
    val tokChars = length(regexp_replace(c, "\\s", ""))
    val meanWord = when(nTok === 0, 0.0).otherwise(tokChars.cast("double") / nTok)
    val sw = when(nTok === 0, 0.0).otherwise(stopwordHits(c, "en").cast("double") / nTok)
    val lenBand = least(lit(1.0), n / 200.0)
    val wordBand = when(meanWord >= 3 && meanWord <= 10, 1.0).otherwise(0.5)
    val raw = lit(0.3) * lenBand + lit(0.25) * alphaRatio(c) +
      lit(0.2) * least(sw * 4, lit(1.0)) + lit(0.15) * wordBand +
      lit(0.1) * (lit(1.0) - least(punctRatio(c) * 5, lit(1.0)))
    when(n === 0, 0.0).otherwise(greatest(lit(0.0), least(lit(1.0), raw)))
  }

  /** Word k-shingles (lowercased); short texts collapse to one shingle. */
  def shingles(c: Column, k: Int): Column = {
    require(k >= 1, s"shingle k must be >= 1, got $k")
    val toks = wsTokens(lower(c))
    val n = size(toks)
    when(n === 0, array().cast("array<string>"))
      .when(n < k, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), n - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
  }

  /** 64-bit SimHash over tokens as an expression tree: per-bit vote counts via
    * aggregate over a 64-slot int array, then sign → bit. */
  def simHash(tokens: Column): Column = {
    // hash each token ONCE via an outer transform: HOF lambdas evaluate
    // interpreted, and an xxhash64 inside the 64-slot zip_with would be
    // re-computed 64 times per token
    val votes = aggregate(
      transform(tokens, t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, b) => a + when(call_function("shiftright", h, b.cast("int")).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- Gopher-style repetition signals (Rae et al. 2021 §A1.1), as pure
  // per-row expression trees: NO shuffle — these run inside the scan stage
  // of a quality-filter pass, which is what makes them usable at 100 TB. ----

  /** Word n-grams of the lowercased token stream (keeps duplicates). */
  private def wordGrams(c: Column, n: Int): Column = {
    val toks = wsTokens(lower(c))
    val cnt = size(toks)
    when(cnt < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), cnt - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Fraction (ppm) of duplicate word n-grams: 1 - distinct/total. Exact
    * integer inputs → the double division is engine-reproducible. */
  def dupNgramPpm(c: Column, n: Int): Column = {
    require(n >= 1, s"n-gram n must be >= 1, got $n")
    val g = wordGrams(c, n)
    val total = size(g)
    when(total === 0, 0L).otherwise(
      floor((total - size(array_distinct(g))).cast("double") /
        total.cast("double") * 1000000L).cast("long"))
  }

  /** Fraction (ppm) of characters in duplicate lines — a line's trimmed form
    * occurring more than once within the document counts all its chars. */
  def dupLineCharPpm(c: Column): Column = {
    val lns = filter(transform(split(c, "\n"), l => trim(l)), l => l =!= "")
    val total = aggregate(lns, lit(0L), (acc, l) => acc + length(l))
    val dup = aggregate(lns, lit(0L), (acc, l) =>
      acc + when(size(filter(lns, x => x === l)) > 1, length(l).cast("long")).otherwise(0L))
    when(total === 0, 0L).otherwise(
      floor(dup.cast("double") / total.cast("double") * 1000000L).cast("long"))
  }

  /** Jaccard similarity of token SETS (order-insensitive, exact integer
    * arithmetic → engine-portable). */
  def tokenSetJaccard(a: Column, b: Column): Column = {
    val sa = array_distinct(wsTokens(lower(a)))
    val sb = array_distinct(wsTokens(lower(b)))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = (size(sa) + size(sb)).cast("double") - inter
    when(uni === 0, 1.0).otherwise(inter / uni)
  }
}
