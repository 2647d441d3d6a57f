package graft.core

/** Text-analysis primitives for the training-data pipeline operators: token
  * counting, language ID, quality scoring, fingerprinting, shingling.
  *
  * All pure Scala, deterministic, usable both inside Spark stages and in tests.
  * Hashing is a public-domain splitmix64/FNV mix — NOT tied to Spark's hash
  * functions, so the operators that must be DuckDB-checkable avoid it and the
  * ones that can't be (minhash/simhash) standardize on it.
  */
object TextStats {

  /** Whitespace tokenization (reference tokenizes with NLTK word_tokenize /
    * `str.split`; we pin simple `\s+` splitting for the count path).
    *
    * This is the KERNEL-family tokenization (full `PyStr.strip` — the
    * Python `str.isspace()` class incl. NBSP/NEL/FS-US/Zs/Zl/Zp — then a
    * Java `\s+` split) — the minhash/shingle/DSIR DuckDB oracles replicate
    * exactly this. `TextFunctions.wsTokens` (the column family behind
    * q_tokens/q_quality_ratios) edge-strips and splits on Java `\s` ONLY
    * (ASCII ws + VT), so the two contracts DIVERGE on text edged with
    * Python-only whitespace (e.g. a leading NBSP: this kernel drops it,
    * the column keeps it glued to the first token) — and agree everywhere
    * else, including every fixture corpus. Both classes are pinned by
    * their own DuckDB oracle replicas; do not swap one for the other, and
    * do not "unify" without migrating the oracle regex classes in the same
    * change (RE2/Java class parity is exactly the \x0B trap of round 4). */
  def wsTokens(s: String): Array[String] = {
    val t = PyStr.strip(s)
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** The published NLTK English stopword list (179 entries, public corpus
    * data) — pinned verbatim so F3 `Clean.stopwordFiltered` matches the
    * reference's `stopwords.words('english')` (Text_preprocessing.py:31-36)
    * without an NLTK runtime dependency on executors. Kept separate from
    * the per-language `StopWords` ID lists below: language ID needs short
    * BALANCED lists across languages, not one exhaustive English list. */
  val NltkStopWordsEn: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "you're", "you've", "you'll", "you'd", "your", "yours",
    "yourself", "yourselves", "he", "him", "his", "himself", "she",
    "she's", "her", "hers", "herself", "it", "it's", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "that'll", "these", "those", "am",
    "is", "are", "was", "were", "be", "been", "being", "have", "has",
    "had", "having", "do", "does", "did", "doing", "a", "an", "the",
    "and", "but", "if", "or", "because", "as", "until", "while", "of",
    "at", "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few",
    "more", "most", "other", "some", "such", "no", "nor", "not",
    "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've",
    "now", "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren",
    "aren't", "couldn", "couldn't", "didn", "didn't", "doesn",
    "doesn't", "hadn", "hadn't", "hasn", "hasn't", "haven", "haven't",
    "isn", "isn't", "ma", "mightn", "mightn't", "mustn", "mustn't",
    "needn", "needn't", "shan", "shan't", "shouldn", "shouldn't",
    "wasn", "wasn't", "weren", "weren't", "won", "won't", "wouldn",
    "wouldn't")

  /** Tiny per-language stopword lists (public common words) for the n-gram/
    * stopword language-ID heuristic. */
  val StopWords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "de" -> Set("der", "die", "und", "das", "in", "ist", "von", "mit", "den", "ein"),
    "fr" -> Set("le", "la", "et", "les", "des", "en", "un", "du", "que", "est"),
  )

  /** Stopword-ratio language ID; "und" (undetermined) when nothing matches.
    * Ties broken by language code ascending (deterministic). */
  private val SortedStopWords: Seq[(String, Set[String])] = StopWords.toSeq.sortBy(_._1)

  // \b(word|word|...)\b per language — the EXACT construction of
  // TextFunctions.stopwordHits, so kernel and column agree on every input
  // (incl. punctuation-adjacent stopwords like "the," which a
  // token-membership count would miss)
  private val LangPatterns: Seq[(String, java.util.regex.Pattern)] =
    SortedStopWords.map { case (lang, sw) =>
      lang -> java.util.regex.Pattern.compile(
        "\\b(" + sw.toSeq.sorted.mkString("|") + ")\\b")
    }

  private def regexHits(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s); var c = 0
    while (m.find()) c += 1
    c
  }

  def langId(s: String): String = {
    if (s == null) return null
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val scores = LangPatterns.map { case (lang, p) => lang -> regexHits(p, lower) }
    val maxHits = scores.map(_._2).max
    if (maxHits == 0) "und" else scores.filter(_._2 == maxHits).minBy(_._1)._1
  }

  private val EnStopPattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      "\\b(" + StopWords("en").toSeq.sorted.mkString("|") + ")\\b")

  /** Heuristic quality score in [0,1]: blend of length band, alpha ratio,
    * punctuation ratio, stopword ratio, mean word length band.
    *
    * Mirrors the `TextFunctions.qualityScore` COLUMN TREES exactly — one
    * contract, one DuckDB oracle: code-point counts, ASCII letter/digit
    * classes, ASCII `\s`, regex `\b(stopword)\b` hits, tokens = ASCII-`\s+`
    * split with empty tokens dropped. (An earlier kernel used Unicode
    * isLetter and token-membership stopwords and silently diverged from the
    * oracle-pinned columns on accented or punctuated text.) */
  def qualityScore(s: String): Double = {
    var alphaC = 0L; var punctC = 0L; var tokChars = 0L; var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val isAlpha = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val isDigit = cp >= '0' && cp <= '9'
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (isAlpha) alphaC += 1
      if (!isAlpha && !isDigit && !isWs) punctC += 1
      if (!isWs) tokChars += 1
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0) return 0.0
    val nTok = s.split("\\s+").count(_.nonEmpty)
    val alpha = alphaC.toDouble / n
    val punct = punctC.toDouble / n
    val sw = if (nTok == 0) 0.0
      else regexHits(EnStopPattern,
        s.toLowerCase(java.util.Locale.ROOT)).toDouble / nTok
    val meanWord = if (nTok == 0) 0.0 else tokChars.toDouble / nTok
    val lenBand = math.min(1.0, n / 200.0)
    val wordBand = if (meanWord >= 3 && meanWord <= 10) 1.0 else 0.5
    val p = 0.3 * lenBand + 0.25 * alpha + 0.2 * math.min(sw * 4, 1.0) +
      0.15 * wordBand + 0.1 * (1.0 - math.min(punct * 5, 1.0))
    math.max(0.0, math.min(1.0, p))
  }

  /** Rule-based English suffix lemmatizer — a deterministic stand-in for the
    * reference's WordNet lemmatizer (Text_preprocessing.py:35; NLTK is not a
    * dependency we can ship). Porter-style first-rule-wins suffix stripping. */
  def lemma(w: String): String = {
    val s = w.toLowerCase(java.util.Locale.ROOT)
    if (s.length <= 3) s
    else if (s.endsWith("ies")) s.dropRight(3) + "y"
    else if (s.endsWith("sses")) s.dropRight(2)
    else if (s.endsWith("ing") && s.length > 5) s.dropRight(3)
    else if (s.endsWith("ed") && s.length > 4) s.dropRight(2)
    // strip "es" only after sibilant stems (morphy's ches/shes/xes/zes
    // detachments); an e-stem plural like "tables" is e + s, where the
    // correct detachment is the plain "s" rule below ("tables" -> "table",
    // not "tabl")
    else if (s.length > 4 && (s.endsWith("ches") || s.endsWith("shes") ||
             s.endsWith("xes") || s.endsWith("zes"))) s.dropRight(2)
    else if (s.endsWith("s") && !s.endsWith("ss")) s.dropRight(1)
    else s
  }

  /** Single-pass replica of the `TextFunctions.dupNgramPpm(2)/(3)` +
    * `dupLineCharPpm` column trees (Gopher repetition signals), for the
    * codegen'd `RepetitionStats` expression: the HOF formulation re-evaluates
    * the captured token array per lambda element interpreted (CodegenFallback)
    * — measured ~8ms/row; this is one compiled pass. Mirrors the column
    * semantics exactly: Spark `trim` strips ' ' only; `split(c, "\n")` keeps
    * interior empties (then trimmed+dropped); arithmetic is
    * floor(dup/total*1e6) in doubles. */
  def repetitionStats(text: String): Array[Long] = {
    def sparkTrim(s: String): String = {
      var a = 0; var b = s.length
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      s.substring(a, b)
    }
    // Locale.ROOT matches Spark lower() / DuckDB lower() on every JVM
    // locale. Tokens follow the ONE repo-wide convention (Python
    // str.split() semantics): split on \s+ runs, empty tokens dropped —
    // identical to the fixed TextFunctions.wsTokens column tree and the
    // list_filter'd oracles on every input, trailing/leading whitespace
    // included.
    val lt = sparkTrim(text.toLowerCase(java.util.Locale.ROOT))
    val toks: Array[String] =
      if (lt.isEmpty) Array.empty else lt.split("\\s+").filter(_.nonEmpty)
    def dupPpm(n: Int): Long =
      if (toks.length < n) 0L
      else {
        val total = toks.length - n + 1
        val seen = new java.util.HashSet[String](total * 2)
        var dup = 0
        var i = 0
        while (i < total) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
          if (!seen.add(sb.toString)) dup += 1
          i += 1
        }
        math.floor(dup.toDouble / total.toDouble * 1000000d).toLong
      }
    val lines = text.split("\n", -1).map(sparkTrim).filter(_.nonEmpty)
    val counts = new java.util.HashMap[String, Integer]
    // char counts are CODE POINTS — Spark length() and DuckDB length()
    // both count code points, not UTF-16 units
    var totalChars = 0L
    lines.foreach { l =>
      totalChars += l.codePointCount(0, l.length)
      counts.merge(l, 1, (a, b) => Integer.valueOf(a + b))
    }
    var dupChars = 0L
    lines.foreach { l => if (counts.get(l) > 1) dupChars += l.codePointCount(0, l.length) }
    val dupline =
      if (totalChars == 0) 0L
      else math.floor(dupChars.toDouble / totalChars.toDouble * 1000000d).toLong
    Array(dupPpm(2), dupPpm(3), dupline)
  }

  /** splitmix64 — public-domain (Steele et al.) avalanche mix. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit string hash: FNV-1a over UTF-8 then splitmix finalization. */
  def hash64(s: String, seed: Long = 0L): Long = {
    var h = 0xCBF29CE484222325L ^ seed
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xFF)) * 0x100000001B3L; i += 1 }
    mix64(h)
  }

  /** Per-position k-char-gram hashes, ONE pass over the string: out(i) =
    * FNV-1a+splitmix of code points s[i..i+k). Positions and window lengths
    * are Unicode CODE POINTS, matching SQL substring/length semantics, so
    * the hashed fast path of substring dedup lands on the same offsets as
    * the raw-substring mode (and the DuckDB oracle) on any input. Replaces
    * a per-position `substr` plan whose char-offset seeks made the gram
    * pass O(len²) per document. */
  def charGramHashes(s: String, k: Int): Array[Long] = {
    require(k >= 1, s"char-gram k must be >= 1, got $k")
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return Array.empty
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0xCBF29CE484222325L
      var j = i
      while (j < i + k) { h = (h ^ cps(j)) * 0x100000001B3L; j += 1 }
      out(i) = mix64(h)
      i += 1
    }
    out
  }

  /** Character-entropy fingerprint terms, one pass over code points:
    * returns [n, sum_c c·floor(1e4·ln(n/c))] over the code-point histogram,
    * i.e. the Shannon entropy (nats) times n·1e4 — with each character
    * class's log term quantized to 1e-4 BEFORE the weighted sum (the
    * `ngramLmScore` technique), so the output is an exact integer a DuckDB
    * oracle reproduces from its own histogram. Entropy in bits/char =
    * sum / (n · 1e4 · ln 2). Low values flag gibberish / repeated-character
    * spam the ratio-based quality signals miss. */
  def charEntropyTerms(s: String): Array[Long] = {
    val m = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      m.merge(cp, 1L, (a, b) => a + b)
    }
    var sum = 0L
    val it = m.values.iterator()
    while (it.hasNext) {
      val c = it.next()
      sum += c * math.floor(math.log(n.toDouble / c.toDouble) * 10000.0).toLong
    }
    Array(n, sum)
  }

  /** Hashed-bigram feature buckets for DSIR-style importance weighting:
    * lowercase ws-token bigrams → fingerprint64 → pmod(numBuckets), one
    * compiled pass per row (the HOF formulation interprets the custom
    * fingerprint expression per element — measured minutes at sf0.1). */
  def bigramBuckets(s: String, numBuckets: Int): Array[Long] = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val tk = wsTokens(s.toLowerCase(java.util.Locale.ROOT))
    if (tk.length < 2) return Array.emptyLongArray
    val out = new Array[Long](tk.length - 1)
    var i = 0
    while (i < tk.length - 1) {
      val m = fingerprint(tk(i) + " " + tk(i + 1)) % numBuckets
      out(i) = if (m < 0) m + numBuckets else m
      i += 1
    }
    out
  }

  /** Ordered conditional-bigram keys for n-gram LM scoring (CCNet-style
    * perplexity filtering): per lowercase ws-token bucket
    * b = pmod(fingerprint64(tok), numBuckets), emit one key
    * `b(i) * numBuckets + b(i+1)` per ADJACENT pair, in document order
    * (duplicates kept — this is a sequence, not the shingle SET
    * [[shingleHashes]] builds). Context bucket recovers as `key / numBuckets`,
    * next-word bucket as `key % numBuckets`, so one key stream carries both
    * the bigram numerator and the unigram-context denominator of
    * P(v|u) = (c(u,v)+1) / (c(u)+V). One compiled pass per row. */
  def bigramPairKeys(s: String, numBuckets: Int): Array[Long] = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val tk = wsTokens(s.toLowerCase(java.util.Locale.ROOT))
    if (tk.length < 2) return Array.emptyLongArray
    val b = new Array[Long](tk.length)
    var i = 0
    while (i < tk.length) {
      val m = fingerprint(tk(i)) % numBuckets
      b(i) = if (m < 0) m + numBuckets else m
      i += 1
    }
    val out = new Array[Long](tk.length - 1)
    i = 0
    while (i < tk.length - 1) {
      out(i) = b(i) * numBuckets + b(i + 1)
      i += 1
    }
    out
  }

  /** Rolling polynomial document fingerprint (Rabin-Karp style, base 257). */
  def fingerprint(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 257L + s.charAt(i); i += 1 }
    mix64(h)
  }

  /** HyperLogLog (bucket, rank) pair of a value under [[fingerprint]]:
    * bucket = top `p` bits, rank = leading zeros of the remaining
    * (64-p)-bit field + 1 (the rho statistic of Flajolet et al. 2007,
    * "HyperLogLog: the analysis of a near-optimal cardinality estimation
    * algorithm"). Integer-only on purpose: the sketch STATE (per-bucket max
    * rank) is what gets exchanged/persisted, so it must be exactly
    * replayable by another engine; the float estimate is a readout. */
  def hllBucketRank(s: String, p: Int): Array[Long] = {
    // upper bound 30 keeps 1 << p (bucket-array size in the readout and in
    // any Int-indexed register file) inside positive Int range
    require(p >= 1 && p <= 30, s"hll precision out of range: $p")
    val fp = fingerprint(s)
    val bucket = fp >>> (64 - p)
    val rest = fp & ((1L << (64 - p)) - 1)
    val rank =
      if (rest == 0L) (64 - p + 1).toLong
      else (java.lang.Long.numberOfLeadingZeros(rest) - p + 1).toLong
    Array(bucket, rank)
  }

  /** Count-min-sketch bucket per depth row (Cormode & Muthukrishnan 2005):
    * row i hashes the value with the i-th member of the one-strong-hash +
    * splitmix-rehash family (the [[minHash]] construction) and keeps the
    * low log2(width) bits. `width` must be a power of two so the unsigned
    * (SQL HUGEINT) and signed (JVM) residues coincide — 2^64 ≡ 0 (mod w). */
  def cmsBuckets(s: String, depth: Int, width: Int): Array[Long] = {
    require(depth >= 1 && depth <= 16, s"cms depth out of range: $depth")
    require(width >= 2 && (width & (width - 1)) == 0, s"cms width not a power of two: $width")
    val fp = fingerprint(s)
    Array.tabulate(depth) { i =>
      mix64(fp ^ ((i + 1).toLong * 0x9E3779B97F4A7C15L)) & (width - 1).toLong
    }
  }

  /** CMS point estimate of `s` against a flattened depth×width state array
    * (row-major: state(d*width + bucket)): min over the depth rows. Always
    * ≥ the true count — the no-false-negative guarantee the sketch-gated
    * heavy-hitter pass relies on. */
  def cmsEstimateFromState(s: String, state: Array[Long],
                           depth: Int, width: Int): Long = {
    val bs = cmsBuckets(s, depth, width)
    var m = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = state(d * width + bs(d).toInt)
      if (c < m) m = c
      d += 1
    }
    m
  }

  /** Bloom-filter bit positions of a 64-bit fingerprint: `k` indices into an
    * `mBits`-bit array via Kirsch–Mitzenmacher double hashing over the
    * UNSIGNED fingerprint u — h1 = u mod m, h2 = ((u >>> 32) mod m) | 1,
    * pos_i = (h1 + i·h2) mod m. The odd step h2 is invertible mod a power
    * of two, so the k positions are always DISTINCT (a membership probe
    * tests k real bits, never the same bit twice). All-integer and
    * engine-replayable: with m a power of two, `& (m-1)` on the JVM equals
    * `% m` on an unsigned HUGEINT, the [[cmsBuckets]] width contract. */
  def bloomPositions(fp: Long, mBits: Int, k: Int): Array[Long] = {
    val mask = (mBits - 1).toLong
    val h1 = fp & mask
    val h2 = ((fp >>> 32) & mask) | 1L
    Array.tabulate(k)(i => (h1 + i.toLong * h2) & mask)
  }

  /** Bloom membership probe against a word-packed bit array (bit pos lives
    * at word pos>>>6, bit pos&63): true iff ALL k positions of `fp` are
    * set. Inlines the [[bloomPositions]] arithmetic — zero allocation on
    * the corpus-stream hot path. False positives are a deterministic pure
    * function of (inserted set, mBits, k) — never of partitioning — so a
    * Bloom-gated result is exactly replayable cross-engine. */
  def bloomContains(fp: Long, state: Array[Long], mBits: Int, k: Int): Boolean = {
    val mask = (mBits - 1).toLong
    val h1 = fp & mask
    val h2 = ((fp >>> 32) & mask) | 1L
    var i = 0
    while (i < k) {
      val pos = (h1 + i.toLong * h2) & mask
      if ((state((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L) return false
      i += 1
    }
    true
  }

  /** Word k-shingles. */
  def shingles(s: String, k: Int): Array[String] = {
    require(k >= 1, s"shingle k must be >= 1, got $k")
    wsTokens(s.toLowerCase(java.util.Locale.ROOT)) match {
      case toks if toks.length < k => if (toks.isEmpty) Array.empty else Array(toks.mkString(" "))
      case toks => toks.sliding(k).map(_.mkString(" ")).toArray
    }
  }

  /** MinHash signature: `numHashes` independent minima over the shingle set.
    * Each shingle is byte-hashed ONCE (`hash64`) and the i-th hash function is
    * the splitmix avalanche of `base ^ seed_i` — the standard one-strong-hash
    * + cheap-rehash family. vs re-seeding FNV per function this does 1/16th
    * of the byte-level hashing per row, which matters when the signature is
    * computed inside the scan stage of a 100-TB dedup pass. */
  def minHash(sh: Array[String], numHashes: Int): Array[Long] = {
    if (sh.isEmpty) return Array.fill(numHashes)(Long.MaxValue)
    val base = new Array[Long](sh.length)
    var j = 0
    while (j < sh.length) { base(j) = hash64(sh(j)); j += 1 }
    Array.tabulate(numHashes) { i =>
      val seed = i.toLong * 0x9E3779B97F4A7C15L
      var min = Long.MaxValue
      var k = 0
      while (k < base.length) {
        val v = mix64(base(k) ^ seed)
        if (v < min) min = v
        k += 1
      }
      min
    }
  }

  /** 64-bit SimHash over tokens. */
  def simHash(tokens: Array[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Sorted distinct 64-bit hashes of the word k-shingle set (k=1 ≡ the token
    * set) — the same set MinHash signatures are built from, so LSH candidate
    * generation and exact verify use ONE similarity measure. |A∩B| over
    * these equals the string-set intersection except on hash collisions
    * (probability ≈ |vocab|²/2⁶⁵), and a sorted-array merge intersect is
    * O(n) with zero per-pair allocation. */
  def shingleHashes(s: String, k: Int): Array[Long] = {
    require(k >= 1, s"shingle k must be >= 1, got $k")
    val sh = if (k == 1) wsTokens(s.toLowerCase(java.util.Locale.ROOT)) else shingles(s, k)
    if (sh.isEmpty) return Array.empty
    val hs = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { hs(i) = hash64(sh(i)); i += 1 }
    java.util.Arrays.sort(hs)
    // dedup in place (sorted)
    var w = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** Jaccard of two SORTED distinct long arrays via merge intersection.
    * Empty-vs-empty pins to 1.0 (same contract as tokenSetJaccard). */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val uni = a.length + b.length - inter
    if (uni == 0) 1.0 else inter.toDouble / uni
  }

  /** Jaccard similarity of word n-gram sets. */
  def ngramJaccard(a: String, b: String, k: Int): Double = {
    val sa = shingles(a, k).toSet
    val sb = shingles(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Cosine similarity of dense float vectors (left-to-right summation order —
    * pinned so results are bit-reproducible). */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}
