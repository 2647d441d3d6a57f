package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.FixtureGen
import graft.functions.{Clean, TextFunctions => TF}
import graft.operators.TrainingData
import QueryKit._

/** Training-data curation: cleaning and normalization, quality signals and
  * filters (C4, Gopher, DSIR, perplexity, PII), tokenizer induction (BPE),
  * sketches (HLL, KMV, count-min, top-k and sample aggregates), URL and HTML
  * web-corpus passes, decontamination, sampling and packing, and the
  * transcript-derived SFT, preference and tool-usage tables. */
private[graft] object TrainingDataQueries {

  /** Deterministic web-corpus URL fixture: 200 docs whose text embeds 0–4
    * absolute URLs (mixed-case hosts, `www.` variants, ports, fragments)
    * inside word soup — exercises every canonicalization branch of
    * `TrainingData.urlHostStats`. */
  private val Urls200 = new Fixture("urls200", (s, path) => {
    val r = new java.util.Random(20260817L)
    val hosts = Array("example.com", "Example.COM", "www.example.com",
      "docs.foo.org", "foo.org", "WWW.Foo.org", "cdn.bar.net", "bar.net:8080",
      "a.b.example.com")
    val paths = Array("", "/", "/a/b", "/a/b#frag", "/index.html",
      "/x/y/z#top", "/q", "/a/b/")
    val words = Array("lorem", "ipsum", "dolor", "sit", "amet", "crawl",
      "corpus", "robots", "sitemap", "anchor")
    val rows = (0 until 200).map { i =>
      val sb = new StringBuilder
      val nUrls = r.nextInt(5)
      val nWords = 3 + r.nextInt(8)
      for (_ <- 0 until nWords) sb.append(words(r.nextInt(words.length))).append(' ')
      for (_ <- 0 until nUrls) {
        sb.append("http").append(if (r.nextBoolean()) "s" else "")
          .append("://").append(hosts(r.nextInt(hosts.length)))
          .append(paths(r.nextInt(paths.length))).append(' ')
        for (_ <- 0 until 1 + r.nextInt(4))
          sb.append(words(r.nextInt(words.length))).append(' ')
      }
      (i.toLong, sb.toString.trim)
    }
    import s.implicits._
    rows.toDF("doc_id", "text").repartition(4).write.mode("overwrite").parquet(path)
  })

  /** Deterministic preference-candidate fixture: 70 prompts × 1–5 scored
    * candidate responses (ties included), for `TrainingData.preferencePairs`. */
  private val Pref300 = new Fixture("pref300", (s, path) => {
    val r = new java.util.Random(99173L)
    val verbs = Array("explain", "summarize", "harden", "audit", "configure")
    val nouns = Array("sshd", "kernel", "firewall", "logging", "accounts",
      "sudoers", "umask")
    val rows = (0 until 70).flatMap { p =>
      val prompt = s"${verbs(r.nextInt(verbs.length))} the ${nouns(r.nextInt(nouns.length))} policy #$p"
      val n = 1 + r.nextInt(5)
      (0 until n).map { c =>
        val score = 10L + r.nextInt(8) // narrow range → frequent ties
        (prompt, f"cand$p%03d_$c", s"response $c to prompt $p: ${nouns(r.nextInt(nouns.length))}", score)
      }
    }
    import s.implicits._
    rows.toDF("prompt", "cand_id", "response", "score")
      .repartition(4).write.mode("overwrite").parquet(path)
  })

  /** HTML-payload fixture (q_boilerplate's input) materialized like the slim
    * fixtures, so the DuckDB oracle can replay `Boilerplate.stripHtml` over
    * the exact rows the Spark query consumed. */
  private val Html120 = new Fixture("html120", (s, path) =>
    graft.sources.TranscriptGen.generate(s,
      FixtureGen.Profile(numConvs = 120, monsterEvery = 0, invalidEvery = 0), 4)
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .write.mode("overwrite").parquet(path))

  /** Merge rounds for the BPE induction queries (q_bpe_train/q_bpe_encode);
    * the oracle unrolls one CTE block per round. */
  private val BpeMerges = 12

  // one training run per sf dir — q_bpe_train and q_bpe_encode share it
  private var bpeMemo = Map.empty[String, Seq[(Int, String, String, String, Long)]]
  private def bpeMergesFor(s: SparkSession, d: String) = synchronized {
    bpeMemo.getOrElse(d, {
      val m = TrainingData.bpeTrainMerges(t(s, d, "documents"), "text", BpeMerges)
      bpeMemo += d -> m
      m
    })
  }

  /** Unrolled BPE training chain: w0 (distinct words as chr(31)-delimited
    * symbol strings) then per merge round i: pair counts p_i → argmax b_i
    * (count desc, pair bytes asc) → w_{i+1} via one literal replace —
    * DuckDB re-runs the ENTIRE induction loop independently. */
  private def bpeCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS MATERIALIZED (
  SELECT regexp_replace(tok, '(?s)(.)', chr(31) || '\1' || chr(31), 'g') AS w,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(list_filter(string_split_regex(
      regexp_replace(lower(text), '[\x00-\x1F]', ' ', 'g'), '\s+'),
      x -> len(x) > 0)) AS tok FROM documents)
  GROUP BY tok)""")
    for (i <- 0 until m) {
      sb.append(s""",
p$i AS MATERIALIZED (SELECT pr, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(list_transform(generate_series(1, len(sy) - 1),
      k -> sy[k] || chr(31) || sy[k + 1])) AS pr
    FROM (SELECT n, list_filter(string_split(w, chr(31)), x -> len(x) > 0) AS sy
          FROM w$i) WHERE len(sy) >= 2)
  GROUP BY pr),
b$i AS MATERIALIZED (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr LIMIT 1),
w${i + 1} AS MATERIALIZED (SELECT replace(w,
    chr(31) || (SELECT replace(pr, chr(31), chr(31) || chr(31)) FROM b$i) || chr(31),
    chr(31) || (SELECT replace(pr, chr(31), '') FROM b$i) || chr(31)) AS w, n
  FROM w$i)""")
    }
    sb.toString
  }

  /** CTE chain `h,s1..s4,sgn,b` computing the deterministic sampling bucket
    * per (doc_id, lang): fingerprint64(cast(doc_id)) → splitmix finalize →
    * signed pmod 10^6 (TrainingData.stratifiedSample's keep-decision hash,
    * replayed in HUGEINT arithmetic). */
  private def idBucketCtes: String =
    """h AS (
  SELECT doc_id, lang, source,
    list_reduce(
      list_prepend(0::HUGEINT,
        list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '(?s).'), c -> ord(c)::HUGEINT)),
      (a, b) -> (a * 257::HUGEINT + b) % 18446744073709551616::HUGEINT) AS h0
  FROM documents),
s1 AS (SELECT doc_id, lang, source, (h0 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS x FROM h),
s2 AS (SELECT doc_id, lang, source, ((xor(x, x // 1073741824::HUGEINT) * 484763065::HUGEINT + ((xor(x, x // 1073741824::HUGEINT) * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS x FROM s1),
s3 AS (SELECT doc_id, lang, source, ((xor(x, x // 134217728::HUGEINT) * 321982955::HUGEINT + ((xor(x, x // 134217728::HUGEINT) * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS x FROM s2),
s4 AS (SELECT doc_id, lang, source, xor(x, x // 2147483648::HUGEINT) AS x FROM s3),
sgn AS (SELECT doc_id, lang, source,
    CASE WHEN x >= 9223372036854775808::HUGEINT THEN x - 18446744073709551616::HUGEINT ELSE x END AS s FROM s4),
b AS (SELECT doc_id, lang, source, CAST(s AS BIGINT) AS fp,
    CAST(((s % 1000000) + 1000000) % 1000000 AS BIGINT) AS bucket FROM sgn)"""

  def specs: Seq[QuerySpec] = Seq(

    // F1/F2/F6: cleaning chain
    QuerySpec("q_clean_scrub", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(trim(TF.wsTokens(Clean.lowerAlpha(col("text"))).getItem(0)), 1, 20).as("w0"),
        substring(trim(Clean.lowerAlpha(col("text"))), 1, 40).as("cleaned40")),
      """WITH c AS (SELECT doc_id,
           TRIM(regexp_replace(LOWER(text), '[^a-z\s\x0B]', '', 'g')) AS cleaned
         FROM documents)
         SELECT doc_id,
           SUBSTRING(TRIM(list_filter(string_split_regex(cleaned, '[\s\x0B]+'),
             t -> t <> '')[1]), 1, 20) AS w0,
           SUBSTRING(cleaned, 1, 40) AS cleaned40
         FROM c"""),

    // web-corpus text normalization (ftfy-lite): a deterministic messy
    // suffix is appended so every rule (control drop, punctuation
    // canonicalization, ellipsis, whitespace collapse) fires on every row
    QuerySpec("q_normalize_text", (s, d) => {
      val mess = "  \u2018q\u2019 \u201Cw\u201D \u2013 \u2014 \u00A0x\u2026 " +
        "\u0001\u0007ok\ttab  end\n\n\n\ntail  "
      t(s, d, "documents").select(col("doc_id"),
        Clean.normalizeText(concat(col("text"), lit(mess))).as("normalized"))
    },
      // ftfy-lite normalization: the messy suffix and every rule rebuilt from
      // chr() codes (no raw control bytes in source); '\t'/'\n' inside SQL
      // single quotes reach RE2 un-processed, which reads them as tab/newline
      """WITH m AS (SELECT doc_id, text ||
           '  ' || chr(8216) || 'q' || chr(8217) || ' ' || chr(8220) || 'w' || chr(8221) ||
           ' ' || chr(8211) || ' ' || chr(8212) || ' ' || chr(160) || 'x' || chr(8230) || ' ' ||
           chr(1) || chr(7) || 'ok' || chr(9) || 'tab  end' ||
           chr(10) || chr(10) || chr(10) || chr(10) || 'tail  ' AS t
         FROM documents)
         SELECT doc_id, regexp_replace(
           regexp_replace(
             regexp_replace(
               replace(
                 translate(
                   regexp_replace(t, '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                   chr(8216)||chr(8217)||chr(8220)||chr(8221)||chr(8211)||chr(8212)||chr(160),
                   '''''""-- '),
                 chr(8230), '...'),
               '[ \t]+', ' ', 'g'),
             '\n{3,}', chr(10)||chr(10), 'g'),
           '^\s+|\s+$', '', 'g') AS normalized
         FROM m"""),

    // text analysis: token counting (ws + BPE-ish)
    QuerySpec("q_tokens", (s, d) => t(s, d, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"),
        TF.bpeIshTokenCount(col("text")).as("n_bpeish")),
      """SELECT doc_id,
         LEN(list_filter(string_split_regex(TRIM(text), '[\s\x0B]+'), t -> t <> '')) AS n_tokens,
         LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\s\x0BA-Za-z0-9]')) AS n_bpeish
         FROM documents WHERE LENGTH(TRIM(text)) > 0"""),

    // text analysis: quality-score components as exact integers
    QuerySpec("q_quality_ratios", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        ppm(TF.alphaRatio(col("text"))).as("alpha_ppm"),
        ppm(TF.punctRatio(col("text"))).as("punct_ppm"),
        TF.stopwordHits(col("text"), "en").as("stop_en"),
        ppm(TF.qualityScore(col("text"))).as("quality_ppm")),
      """WITH b AS (
           SELECT doc_id, text, LENGTH(text) AS n,
             CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / LENGTH(text) AS alpha,
             CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9\s\x0B]', '', 'g')) AS DOUBLE) / LENGTH(text) AS punct,
             LEN(regexp_extract_all(LOWER(text), '\b(a|and|for|in|is|it|of|that|the|to)\b', 1)) AS stop_en,
             LEN(list_filter(string_split_regex(TRIM(text), '[\s\x0B]+'), t -> t <> '')) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[\s\x0B]', '', 'g')) AS DOUBLE) AS tok_chars
           FROM documents WHERE LENGTH(text) > 0),
         q AS (
           SELECT doc_id, alpha, punct, stop_en,
             0.3 * LEAST(1.0, n / 200.0) + 0.25 * alpha
             + 0.2 * LEAST((CAST(stop_en AS DOUBLE) / n_tok) * 4, 1.0)
             + 0.15 * (CASE WHEN tok_chars / n_tok >= 3 AND tok_chars / n_tok <= 10 THEN 1.0 ELSE 0.5 END)
             + 0.1 * (1.0 - LEAST(punct * 5, 1.0)) AS raw
           FROM b)
         SELECT doc_id,
           CAST(FLOOR(alpha * 1000000) AS BIGINT) AS alpha_ppm,
           CAST(FLOOR(punct * 1000000) AS BIGINT) AS punct_ppm,
           stop_en,
           CAST(FLOOR(GREATEST(0.0, LEAST(1.0, raw)) * 1000000) AS BIGINT) AS quality_ppm
         FROM q"""),

    // curation calibration: percent_rank CDF of the quality score within
    // each source stratum (ppm-quantized for cross-engine bit equality)
    QuerySpec("q_score_percentile", (s, d) => {
      val base = t(s, d, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          ppm(TF.qualityScore(col("text"))).as("quality_ppm"))
      graft.operators.TrainingData
        .percentileNormalize(base, "source", col("quality_ppm"))
        .select(col("doc_id"), col("source"), col("quality_ppm"),
          floor(col("pctl") * 1000000).cast("long").as("pctl_ppm"))
    },
      """WITH b AS (
           SELECT doc_id, source, text, LENGTH(text) AS n,
             CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / LENGTH(text) AS alpha,
             CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9\s\x0B]', '', 'g')) AS DOUBLE) / LENGTH(text) AS punct,
             LEN(regexp_extract_all(LOWER(text), '\b(a|and|for|in|is|it|of|that|the|to)\b', 1)) AS stop_en,
             LEN(list_filter(string_split_regex(TRIM(text), '[\s\x0B]+'), t -> t <> '')) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[\s\x0B]', '', 'g')) AS DOUBLE) AS tok_chars
           FROM documents WHERE LENGTH(text) > 0),
         q AS (
           SELECT doc_id, source,
             0.3 * LEAST(1.0, n / 200.0) + 0.25 * alpha
             + 0.2 * LEAST((CAST(stop_en AS DOUBLE) / n_tok) * 4, 1.0)
             + 0.15 * (CASE WHEN tok_chars / n_tok >= 3 AND tok_chars / n_tok <= 10 THEN 1.0 ELSE 0.5 END)
             + 0.1 * (1.0 - LEAST(punct * 5, 1.0)) AS raw
           FROM b),
         p AS (
           SELECT doc_id, source,
             CAST(FLOOR(GREATEST(0.0, LEAST(1.0, raw)) * 1000000) AS BIGINT) AS quality_ppm
           FROM q)
         SELECT doc_id, source, quality_ppm,
           CAST(FLOOR(percent_rank() OVER (PARTITION BY source ORDER BY quality_ppm) * 1000000) AS BIGINT) AS pctl_ppm
         FROM p"""),

    // text analysis: language ID (stopword-hit argmax)
    QuerySpec("q_langid", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TF.langId(col("text")).as("lang_pred")),
      """WITH h AS (
           SELECT doc_id,
             LEN(regexp_extract_all(LOWER(text), '\b(das|den|der|die|ein|in|ist|mit|und|von)\b', 1)) AS h_de,
             LEN(regexp_extract_all(LOWER(text), '\b(a|and|for|in|is|it|of|that|the|to)\b', 1)) AS h_en,
             LEN(regexp_extract_all(LOWER(text), '\b(de|el|en|es|la|los|por|que|un|y)\b', 1)) AS h_es,
             LEN(regexp_extract_all(LOWER(text), '\b(des|du|en|est|et|la|le|les|que|un)\b', 1)) AS h_fr
           FROM documents)
         SELECT doc_id, CASE
           WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
           WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
           WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
           WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
           ELSE 'fr' END AS lang_pred
         FROM h"""),

    // SFT pair construction: (last-K-turn context, assistant response) —
    // bounded window frame, one shuffle, O(K) state per row
    QuerySpec("q_sft_pairs", (s, d) =>
      TrainingData.sftPairs(s.read.parquet(FsmRec60(s)), contextTurns = 4),
      s"""WITH w AS (
            SELECT conv_id, turn_idx, role, text,
              string_agg(role || ': ' || text, chr(10) || chr(10)) OVER (
                PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS prompt
            FROM read_parquet('${FsmRec60.path}/*.parquet'))
          SELECT conv_id, turn_idx, prompt, text AS response
          FROM w WHERE role = 'assistant' AND prompt IS NOT NULL"""),

    // BPE merge-candidate counting (tokenizer-induction step 1): global
    // top-50 adjacent char pairs — HOF tree + one tiny-key hash-agg
    QuerySpec("q_bpe_pairs", (s, d) =>
      TrainingData.bpePairCounts(t(s, d, "documents"), "text", 50),
      """WITH toks AS (
            SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
            FROM documents),
          p AS (
            SELECT substring(tok, unnest(generate_series(1, length(tok) - 1)), 2)
              AS pair
            FROM toks WHERE length(tok) >= 2)
          SELECT pair, COUNT(*) AS n
          FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50"""),

    // context-length histogram per source: integer bit-length buckets
    // (no float log2 at bucket boundaries) — one hash-agg
    QuerySpec("q_length_hist", (s, d) =>
      TrainingData.lengthHistogram(t(s, d, "documents"), "source",
        col("n_chars")),
      """SELECT source,
            CASE WHEN n_chars <= 0 THEN 0
                 ELSE length(bin(n_chars)) END AS len_bucket,
            COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_size
          FROM documents GROUP BY source, len_bucket"""),

    // web-corpus URL lineage: extract + canonicalize URLs, aggregate per
    // host — regex scan + one partial-aggregatable hash-agg
    QuerySpec("q_url_hosts", (s, d) =>
      TrainingData.urlHostStats(
        s.read.parquet(Urls200(s)), "doc_id", "text"),
      s"""WITH u AS (
            SELECT doc_id, unnest(regexp_extract_all(text,
              'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\n"''<>]*)?')) AS url
            FROM read_parquet('${Urls200.path}/*.parquet')),
          c AS (
            SELECT doc_id,
              regexp_replace(lower(regexp_extract(url,
                'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '') AS host,
              CASE WHEN p = '' THEN '/' ELSE p END AS path
            FROM (SELECT doc_id, url,
                regexp_replace(coalesce(regexp_extract(url,
                  'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(/[^ \\t\\n"''<>]*)?', 1),
                  ''), '#.*${"$"}', '') AS p
              FROM u))
          SELECT host, COUNT(*) AS n_urls,
            COUNT(DISTINCT doc_id) AS n_docs,
            COUNT(DISTINCT path) AS n_paths
          FROM c GROUP BY host"""),

    // C4 heuristic cleaning (line filter + doc rules) over documents with a
    // deterministic multi-line suffix so every rule fires: a keepable tail
    // sentence, a short line, javascript/policy marker lines, and
    // id-derived lorem-ipsum / curly-brace doc-drop triggers
    QuerySpec("q_c4_clean", (s, d) => TrainingData.c4Clean(
      t(s, d, "documents").select(col("doc_id"), concat(col("text"),
        lit("\nThis tail sentence is long enough to keep.\nshort line\n" +
          "Please enable javascript to continue!\n" +
          "Read our privacy policy today okay."),
        when(col("doc_id") % 7 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\ncode block { x } here."))
          .otherwise(lit(""))).as("text")),
      "doc_id", "text"),
      // C4 cleaning: line filter (terminal punct, >=3 words, marker-free)
      // then doc rules (>=5 sentences, no lorem ipsum, no brace) — suffix
      // replicated with chr(10) newlines
      """WITH aug AS (SELECT doc_id, text || chr(10) ||
           'This tail sentence is long enough to keep.' || chr(10) ||
           'short line' || chr(10) ||
           'Please enable javascript to continue!' || chr(10) ||
           'Read our privacy policy today okay.' ||
           CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code block { x } here.' ELSE '' END AS t
         FROM documents),
         l AS (SELECT doc_id, string_split(
             regexp_replace(t, '[\x00-\x09\x0B-\x1F]', ' ', 'g'), chr(10)) AS lines
           FROM aug),
         k AS (SELECT doc_id, lines, list_filter(lines, x ->
             NOT contains(lower(trim(x)), 'javascript') AND
             NOT contains(lower(trim(x)), 'terms of use') AND
             NOT contains(lower(trim(x)), 'privacy policy') AND
             NOT contains(lower(trim(x)), 'cookie policy') AND
             NOT contains(lower(trim(x)), 'uses cookies') AND
             regexp_matches(trim(x), '[.!?"]' || chr(36)) AND
             len(string_split_regex(trim(x), '\s+')) >= 3) AS kept FROM l),
         c AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             array_to_string(kept, chr(10)) AS clean_text FROM k)
         SELECT doc_id, n_lines, n_kept, clean_text,
           CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT) AS n_sentences,
           CASE WHEN len(regexp_extract_all(clean_text, '[.!?]')) >= 5
                 AND NOT contains(lower(clean_text), 'lorem ipsum')
                 AND NOT contains(clean_text, '{')
             THEN 1 ELSE 0 END AS doc_keep
         FROM c"""),

    // Gopher composite quality filter: integer cross-multiplied ratio
    // thresholds; suffix adds bullet/ellipsis lines so the line-shape
    // rules exercise both branches
    QuerySpec("q_gopher_quality", (s, d) => TrainingData.gopherQuality(
      t(s, d, "documents").select(col("doc_id"), concat(col("text"),
        lit("\n- bullet point one\n* item two\nthoughts trailing off...\n" +
          "more thoughts…\n• third bullet\n" +
          "The end should be of use, so that we have it with stopwords."))
        .as("text")),
      "doc_id", "text"),
      // Gopher §A1.1 composite: all ratio thresholds as integer
      // cross-multiplications — no float boundary anywhere
      """WITH aug AS (SELECT doc_id, text || chr(10) ||
           '- bullet point one' || chr(10) || '* item two' || chr(10) ||
           'thoughts trailing off...' || chr(10) ||
           'more thoughts' || chr(8230) || chr(10) ||
           chr(8226) || ' third bullet' || chr(10) ||
           'The end should be of use, so that we have it with stopwords.' AS t0
         FROM documents),
         cl AS (SELECT doc_id,
             regexp_replace(t0, '[\x00-\x09\x0B-\x1F]', ' ', 'g') AS t FROM aug),
         b AS (SELECT doc_id, t,
             list_filter(string_split_regex(t, '\s+'), x -> len(x) > 0) AS toks,
             string_split(t, chr(10)) AS lines FROM cl),
         lt AS (SELECT *, list_transform(toks, x -> lower(x)) AS lowtoks FROM b),
         c AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS n_word_chars,
             CAST(len(regexp_extract_all(t, '#')) +
                  len(regexp_extract_all(t, '\.{3}')) +
                  len(regexp_extract_all(t, chr(8230))) AS BIGINT) AS n_symbols,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
               '^[-*' || chr(8226) || ']'))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines, l -> regexp_matches(trim(l),
               '(\.\.\.|' || chr(8230) || ')' || chr(36)))) AS BIGINT) AS n_ellipsis,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
             CAST((CASE WHEN list_contains(lowtoks, 'the') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'be') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'to') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'of') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'and') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'that') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'have') THEN 1 ELSE 0 END) +
               (CASE WHEN list_contains(lowtoks, 'with') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_hits
           FROM lt)
         SELECT doc_id, n_words, n_word_chars, n_symbols, n_lines, n_bullet,
           n_ellipsis, n_alpha_words, n_stop_hits,
           CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS pass_words,
           CASE WHEN n_words * 3 <= n_word_chars AND n_word_chars <= n_words * 10 THEN 1 ELSE 0 END AS pass_meanlen,
           CASE WHEN n_symbols * 10 <= n_words THEN 1 ELSE 0 END AS pass_symbol,
           CASE WHEN n_bullet * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS pass_bullet,
           CASE WHEN n_ellipsis * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS pass_ellipsis,
           CASE WHEN n_alpha_words * 5 >= n_words * 4 THEN 1 ELSE 0 END AS pass_alpha,
           CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS pass_stop,
           CASE WHEN n_words >= 50 AND n_words <= 100000
                 AND n_words * 3 <= n_word_chars AND n_word_chars <= n_words * 10
                 AND n_symbols * 10 <= n_words
                 AND n_bullet * 10 <= n_lines * 9
                 AND n_ellipsis * 10 <= n_lines * 3
                 AND n_alpha_words * 5 >= n_words * 4
                 AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS gopher_pass
         FROM c"""),

    // char-entropy fingerprint (one-pass codegen kernel; per-class log
    // terms quantized to 1e-4 pre-sum → exact-integer output)
    QuerySpec("q_char_entropy", (s, d) => t(s, d, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.expressions.TextHashExpressions.char_entropy_terms(col("text")).as("e"))
      .select(col("doc_id"), col("e").getItem(0).as("n_cp"),
        col("e").getItem(1).as("ent_q4_sum")),
      // char-entropy fingerprint: DuckDB rebuilds the code-point histogram
      // and the same 1e-4-quantized log terms
      """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
           FROM documents WHERE length(text) > 0),
         g AS (SELECT doc_id, c, COUNT(*)::BIGINT AS cnt FROM ch GROUP BY doc_id, c),
         n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_cp FROM g GROUP BY doc_id)
         SELECT g.doc_id, ANY_VALUE(n.n_cp) AS n_cp,
           CAST(SUM(cnt * CAST(FLOOR(ln(n.n_cp::DOUBLE / cnt::DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS ent_q4_sum
         FROM g JOIN n ON g.doc_id = n.doc_id GROUP BY g.doc_id"""),

    // URL-blocklist document filter: per-row exists over extracted URLs,
    // no join, zero shuffle
    QuerySpec("q_url_filter", (s, d) => TrainingData.urlHostFilter(
      s.read.parquet(Urls200(s)), "doc_id", "text",
      Seq("cdn.bar.net", "a.b.example.com", "foo.org")),
      // URL-blocklist filter: same extract + canonicalize chain as
      // q_url_hosts, then a list_filter membership probe per doc
      s"""SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\n"''<>]*)?')) AS BIGINT) AS n_urls,
           CASE WHEN len(list_filter(regexp_extract_all(text,
               'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\n"''<>]*)?'), u ->
               list_contains(['cdn.bar.net', 'a.b.example.com', 'foo.org'],
                 regexp_replace(lower(regexp_extract(u,
                   'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '')))) > 0
             THEN 1 ELSE 0 END AS blocked
         FROM read_parquet('${Urls200.path}/*.parquet')"""),

    // link/anchor extraction from HTML payload turns (anchor-corpus feed)
    QuerySpec("q_link_extract", (s, d) => TrainingData.linkExtract(
      s.read.parquet(Html120(s)).filter(col("text").contains("<html")),
      Seq("conv_id", "turn_idx"), "text"),
      // link/anchor extraction: both capture groups re-extracted, zipped by
      // index, anchors whitespace-normalized
      s"""WITH t AS (SELECT conv_id, turn_idx,
             regexp_extract_all(text, '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS hs,
             regexp_extract_all(text, '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS asx
           FROM read_parquet('${Html120.path}/*.parquet')
           WHERE contains(text, '<html')),
         e AS (SELECT conv_id, turn_idx, hs, asx,
             unnest(generate_series(1, len(hs))) AS i FROM t)
         SELECT conv_id, turn_idx, CAST(i - 1 AS BIGINT) AS pos,
           hs[i] AS href,
           trim(regexp_replace(asx[i], '\\s+', ' ', 'g')) AS anchor
         FROM e"""),

    // DSIR importance weights: hashed-bigram likelihood ratio of the 'en'
    // slice (target) vs the rest (raw); tiny-key count agg + broadcast
    // model + per-doc agg, log terms quantized 1e-4 pre-sum
    QuerySpec("q_dsir_weights", (s, d) => TrainingData.dsirWeights(
      t(s, d, "documents"), "doc_id", "text", col("lang") === "en", 4096),
      // DSIR replica: bigram stream → fingerprint64 HUGEINT chain → signed
      // pmod bucket → Laplace bucket counts → quantized log-ratio sum
      s"""WITH base AS (SELECT doc_id, (lang = 'en') AS is_t,
    regexp_replace(text, '[\\x00-\\x1F]', ' ', 'g') AS text FROM documents),
tk AS (SELECT doc_id, is_t,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
  FROM base),
bg AS (SELECT doc_id, is_t,
    unnest(list_transform(generate_series(1, len(tk) - 1),
      i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM tk WHERE len(tk) >= 2),
m0 AS (SELECT doc_id, is_t,
    list_reduce(
      list_prepend(0::HUGEINT,
        list_transform(regexp_extract_all(g, '(?s).'), c -> ord(c)::HUGEINT)),
      (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM bg),
${Osql.mixCtes("m", "x")},
f AS (SELECT doc_id, is_t,
    CAST(((${Osql.signed("x")} % 4096) + 4096) % 4096 AS BIGINT) AS b FROM md),
c AS (SELECT b,
    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
    CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM f GROUP BY b),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM c),
sc AS (SELECT f.doc_id, COUNT(*)::BIGINT AS n_feats,
    CAST(SUM(CAST(FLOOR(ln(
      ((ct + 1) * (tr + 4096))::DOUBLE / ((cr + 1) * (tt + 4096))::DOUBLE
    ) * 10000) AS BIGINT)) AS BIGINT) AS dsir_q4_sum
  FROM f JOIN c USING(b) CROSS JOIN tot WHERE NOT is_t GROUP BY f.doc_id)
SELECT d.doc_id, COALESCE(sc.n_feats, 0)::BIGINT AS n_feats,
  COALESCE(sc.dsir_q4_sum, 0)::BIGINT AS dsir_q4_sum
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id WHERE d.lang <> 'en'"""),

    // CCNet-style perplexity filter: conditional bigram LM (add-one
    // smoothing over hashed word buckets) trained on the 'en' slice,
    // scoring every other doc by quantized total/avg NLL
    QuerySpec("q_lm_perplexity", (s, d) => TrainingData.lmPerplexity(
      t(s, d, "documents"), "doc_id", "text", col("lang") === "en", 4096),
      // LM-perplexity replica: per-token fingerprint64 chain → signed pmod
      // word bucket → adjacent-pair keys u*V+v → add-one conditional bigram
      // LM from the 'en' slice → quantized NLL sum over the rest
      s"""WITH base AS (SELECT doc_id, (lang = 'en') AS is_t,
    regexp_replace(text, '[\\x00-\\x1F]', ' ', 'g') AS text FROM documents),
tk AS (SELECT doc_id, is_t,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
  FROM base),
tr AS (SELECT doc_id, is_t, unnest(generate_series(1, len(tk))) AS i, tk
  FROM tk WHERE len(tk) >= 2),
m0 AS (SELECT doc_id, is_t, i,
    list_reduce(
      list_prepend(0::HUGEINT,
        list_transform(regexp_extract_all(tk[i], '(?s).'), c -> ord(c)::HUGEINT)),
      (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tr),
${Osql.mixCtes("m", "x")},
bkt AS (SELECT doc_id, is_t, i,
    CAST(((${Osql.signed("x")} % 4096) + 4096) % 4096 AS BIGINT) AS b FROM md),
pairs AS (SELECT a.doc_id, a.is_t, a.b * 4096 + n.b AS k
  FROM bkt a JOIN bkt n ON a.doc_id = n.doc_id AND n.i = a.i + 1),
c AS (SELECT k, COUNT(*)::BIGINT AS c_uv FROM pairs WHERE is_t GROUP BY k),
cu AS (SELECT k // 4096 AS u, CAST(SUM(c_uv) AS BIGINT) AS c_u FROM c GROUP BY 1),
sc AS (SELECT p.doc_id, COUNT(*)::BIGINT AS n_pairs,
    CAST(SUM(-CAST(FLOOR(ln(
      (COALESCE(c.c_uv, 0) + 1)::DOUBLE / (COALESCE(cu.c_u, 0) + 4096)::DOUBLE
    ) * 10000) AS BIGINT)) AS BIGINT) AS nll_q4_sum
  FROM pairs p LEFT JOIN c USING (k) LEFT JOIN cu ON p.k // 4096 = cu.u
  WHERE NOT p.is_t GROUP BY p.doc_id)
SELECT d.doc_id, COALESCE(sc.n_pairs, 0)::BIGINT AS n_pairs,
  COALESCE(sc.nll_q4_sum, 0)::BIGINT AS nll_q4_sum,
  CASE WHEN COALESCE(sc.n_pairs, 0) = 0 THEN 0
       ELSE sc.nll_q4_sum // sc.n_pairs END::BIGINT AS avg_nll_q4
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id WHERE d.lang <> 'en'"""),

    // HyperLogLog approx-distinct sketch of the token vocabulary: emits the
    // mergeable integer state (2^8 buckets × max rank) — constant-width
    // shuffle regardless of corpus size; estimate readout is driver-side
    QuerySpec("q_hll_tokens", (s, d) => TrainingData.hllSketch(
      t(s, d, "documents").select(explode(wsToks(col("text"))).as("tok")),
      col("tok"), p = 8),
      // HLL sketch replica: fingerprint64 HUGEINT chain per token, bucket =
      // top 8 bits (x // 2^56), rank = 56-bit-field leading zeros + 1 via
      // bin() bit length (65 - p - bitlen; rest = 0 → 57) — integer-exact
      s"""WITH tk AS (SELECT unnest(list_filter(string_split_regex(
      regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
      x -> len(x) > 0)) AS tok FROM documents),
h0 AS (SELECT list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(tok, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tk),
${Osql.mixCtes("h", "x")},
br AS (SELECT x // 72057594037927936::HUGEINT AS bucket,
              x % 72057594037927936::HUGEINT AS rest FROM hd)
SELECT CAST(bucket AS BIGINT) AS bucket,
  CAST(MAX(CASE WHEN rest = 0 THEN 57
       ELSE 57 - length(bin(CAST(rest AS BIGINT))) END) AS BIGINT) AS max_rank
FROM br GROUP BY bucket"""),

    // KMV (bottom-k) distinct sketch over (doc_id, token) incidences — a
    // stream whose distinct count exceeds k, so the D-check exercises the
    // truncation path (the raw vocabulary is sub-k at this SF). Only 8-byte
    // fps shuffle, TakeOrdered bottom-k (no global sort); deterministic
    // state (byte-identical cross-engine, unlike HLL registers) and exactly
    // mergeable across shards/days
    QuerySpec("q_kmv_tokens", (s, d) => TrainingData.kmvSketch(
      t(s, d, "documents").select(col("doc_id"), explode(wsToks(col("text"))).as("tok"))
        .select(concat(col("doc_id").cast("string"), lit(":"), col("tok"))
          .as("v")),
      col("v"), k = 256),
      // KMV replica: same fingerprint chain, DISTINCT at the fp level (Spark
      // dedups fingerprints, so hash-colliding distinct tokens collapse in
      // both engines), unsigned HUGEINT order = the Spark side's sign-bit
      // flip, rank from row_number over the full distinct set before LIMIT
      s"""WITH tk AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) || ':' || tok AS tok
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
      regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
      x -> len(x) > 0)) AS tok FROM documents)),
h0 AS (SELECT list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(tok, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tk),
${Osql.mixCtes("h", "x")},
u AS (SELECT DISTINCT x FROM hd),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS rnk FROM u ORDER BY x LIMIT 256)
SELECT CAST(rnk AS BIGINT) AS rank, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM r"""),

    // KMV resemblance: Jaccard of the even-doc vs odd-doc token-BIGRAM
    // vocabularies (~900 distinct per side, > k=256 → truncation path) from
    // the two bottom-k sketches ALONE — the bottom-k of the union is a
    // coordinated sample, so two 10^12-row corpora compare for the price of
    // two sketch scans plus a ≤k-row reconciliation
    QuerySpec("q_kmv_resemblance", (s, d) => {
      def side(m: Int) = {
        val t0 = wsToks(col("text"))
        val n1 = greatest(size(t0) - 1, lit(0))
        val bigrams = zip_with(slice(t0, lit(1), n1), slice(t0, lit(2), n1),
          (a, b) => concat(a, lit(" "), b))
        TrainingData.kmvSketch(
          t(s, d, "documents").filter(pmod(col("doc_id"), lit(2)) === m)
            .select(explode(bigrams).as("v")),
          col("v"), k = 256)
      }
      TrainingData.kmvResemblance(side(0), side(1), k = 256)
    },
      // KMV-resemblance replica: per-side distinct bigram fingerprints (same
      // ord-polynomial + splitmix chain; `side` rides through mixCtes via
      // SELECT * REPLACE), per-side bottom-k, bottom-k of the union, and the
      // coordinated-sample intersection count — all exact integers
      s"""WITH tk AS (SELECT side, t AS tok FROM (
    SELECT doc_id % 2 AS side,
      unnest(list_transform(generate_series(1, len(l) - 1),
        k -> l[k] || ' ' || l[k + 1])) AS t
    FROM (SELECT doc_id, list_filter(string_split_regex(
        regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
        x -> len(x) > 0) AS l FROM documents))
  GROUP BY side, t),
h0 AS (SELECT side, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(tok, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tk),
${Osql.mixCtes("h", "x")},
ka AS (SELECT DISTINCT x FROM hd WHERE side = 0 ORDER BY x LIMIT 256),
kb AS (SELECT DISTINCT x FROM hd WHERE side = 1 ORDER BY x LIMIT 256),
un AS (SELECT DISTINCT x FROM (SELECT x FROM ka UNION ALL SELECT x FROM kb)
  ORDER BY x LIMIT 256),
i AS (SELECT count(*) AS n_inter FROM un JOIN ka USING (x) JOIN kb USING (x)),
u AS (SELECT count(*) AS k_union FROM un)
SELECT CAST(k_union AS BIGINT) AS k_union, CAST(n_inter AS BIGINT) AS n_inter,
  CAST(CASE WHEN k_union = 0 THEN 0
       ELSE n_inter * 1000000 // k_union END AS BIGINT) AS jaccard_ppm
FROM u, i"""),

    // per-GROUP KMV sketch via the native Catalyst aggregate (kmv_agg, a
    // TypedImperativeAggregate): one sketch per language over (doc, token)
    // incidences. Partial aggregation combines map-side, so the exchange
    // carries ≤ one O(k) buffer per (task, lang) — per-key distinct
    // telemetry over 10^12 rows without a per-key distinct explosion
    QuerySpec("q_kmv_per_lang", (s, d) => {
      import graft.expressions.{SketchAggregates, TextHashExpressions}
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"), explode(wsToks(col("text"))).as("tok"))
        .select(col("lang"), TextHashExpressions.fingerprint64(
          concat(col("doc_id").cast("string"), lit(":"), col("tok"))).as("fp"))
        .groupBy(col("lang"))
        .agg(SketchAggregates.kmv_agg(col("fp"), 64).as("sketch"))
        .select(col("lang"), posexplode(col("sketch")).as(Seq("idx", "fp")))
        .select(col("lang"), (col("idx") + 1).cast("long").as("rank"), col("fp"))
    },
      // per-lang KMV replica: distinct (lang, doc:token) pairs → fingerprint
      // chain (lang rides through mixCtes) → per-lang DISTINCT fp → per-lang
      // bottom-64 via QUALIFY-style row_number
      s"""WITH tk AS (SELECT DISTINCT lang,
    CAST(doc_id AS VARCHAR) || ':' || tok AS tok
  FROM (SELECT lang, doc_id, unnest(list_filter(string_split_regex(
      regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
      x -> len(x) > 0)) AS tok FROM documents)),
h0 AS (SELECT lang, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(tok, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tk),
${Osql.mixCtes("h", "x")},
u AS (SELECT DISTINCT lang, x FROM hd),
r AS (SELECT lang, x,
    row_number() OVER (PARTITION BY lang ORDER BY x) AS rnk FROM u)
SELECT lang, CAST(rnk AS BIGINT) AS rank,
  CAST(${Osql.signed("x")} AS BIGINT) AS fp
FROM r WHERE rnk <= 64"""),

    // per-group top-k via the native Catalyst aggregate (topk_agg): longest
    // 3 documents per language. Spark's InferWindowGroupLimit already keeps
    // the row_number form to <=k rows per task+group before the exchange;
    // the aggregate additionally drops BOTH local sorts (O(k) heap, no
    // input sort), ships (rank, id)-only buffers instead of whole rows,
    // and composes with other aggregates in one GROUP BY pass. Ranks are
    // integers (n_chars); ties break by doc_id's UTF-8 byte order
    QuerySpec("q_topk_agg", (s, d) => {
      import graft.expressions.RankAggregates
      t(s, d, "documents")
        .select(col("lang"), col("n_chars"),
          col("doc_id").cast("string").as("doc_id"))
        .groupBy(col("lang"))
        .agg(RankAggregates.topk_agg(col("n_chars"), col("doc_id"), 3).as("tk"))
        .select(col("lang"), posexplode(col("tk")).as(Seq("idx", "e")))
        .select(col("lang"), (col("idx") + 1).cast("long").as("rn"),
          col("e.rank").as("len"), col("e.id").as("doc_id"))
    },
      // topk_agg replica: the aggregate's (rank desc, id asc-binary) order IS
      // a row_number window over the same keys — the oracle proves the O(k)
      // partial-agg path equals the full-sort semantics
      """SELECT lang, rn, len, doc_id FROM (
  SELECT lang, n_chars AS len, CAST(doc_id AS VARCHAR) AS doc_id,
    ROW_NUMBER() OVER (PARTITION BY lang
      ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR)) AS rn
  FROM documents) WHERE rn <= 3"""),

    // deterministic per-group uniform sample: bottom-k by a salted
    // fingerprint of the doc id. Hash order is uniform over the group, so
    // the k smallest hashes ARE a uniform sample without replacement —
    // reproducible across runs, partitionings, and engines (no RNG state),
    // and the losers never cross the exchange (O(k) agg state per
    // (task, lang) map-side, same partial-agg plane as topk_agg)
    QuerySpec("q_group_sample", (s, d) => {
      import graft.expressions.{RankAggregates, TextHashExpressions}
      t(s, d, "documents")
        .select(col("lang"),
          TextHashExpressions.fingerprint64(
            concat(lit("sample:"), col("doc_id").cast("string"))).as("fp"),
          col("doc_id").cast("string").as("doc_id"))
        .groupBy(col("lang"))
        .agg(RankAggregates.bottomk_agg(col("fp"), col("doc_id"), 4).as("smp"))
        .select(col("lang"), posexplode(col("smp")).as(Seq("idx", "e")))
        .select(col("lang"), (col("idx") + 1).cast("long").as("draw"),
          col("e.rank").as("fp"), col("e.id").as("doc_id"))
    },
      // group-sample replica: same salted fingerprint chain per doc_id, then
      // a row_number window over the SIGNED hash (bottomk_agg compares Java
      // longs) with the id tie-break — proves the O(k) sampler draws exactly
      // the hash-order bottom-k
      s"""WITH tk AS (SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
    'sample:' || CAST(doc_id AS VARCHAR) AS s FROM documents),
h0 AS (SELECT lang, doc_id, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(s, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x FROM tk),
${Osql.mixCtes("h", "x")},
r AS (SELECT lang, doc_id, CAST(${Osql.signed("x")} AS BIGINT) AS fp,
    row_number() OVER (PARTITION BY lang
      ORDER BY CAST(${Osql.signed("x")} AS BIGINT), doc_id) AS rnk
  FROM hd)
SELECT lang, CAST(rnk AS BIGINT) AS draw, fp, doc_id FROM r WHERE rnk <= 4"""),

    // the one-pass composability payoff of aggregate-shaped top-k: corpus
    // profile per language — doc count, total chars, the longest doc, and
    // a deterministic 2-doc sample — in a SINGLE GROUP BY scan (one
    // ObjectHashAggregate, one exchange of O(k) buffers). The window form
    // of the same report needs a sort+window stage per ranking plus a join
    // back to the counts
    QuerySpec("q_lang_profile", (s, d) => {
      import graft.expressions.{RankAggregates, TextHashExpressions}
      t(s, d, "documents")
        .select(col("lang"), col("n_chars"),
          col("doc_id").cast("string").as("doc_id"),
          TextHashExpressions.fingerprint64(
            concat(lit("sample:"), col("doc_id").cast("string"))).as("fp"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          RankAggregates.topk_agg(col("n_chars"), col("doc_id"), 1).as("tk"),
          RankAggregates.bottomk_agg(col("fp"), col("doc_id"), 2).as("smp"))
        .select(col("lang"), col("n_docs"), col("total_chars"),
          col("tk").getItem(0).getField("id").as("longest_doc"),
          col("tk").getItem(0).getField("rank").as("longest_chars"),
          concat_ws(",", transform(col("smp"), e => e.getField("id")))
            .as("sample_docs"))
    },
      // lang-profile replica: plain aggregates + the two window replicas the
      // one-pass Spark aggregate fuses (top-1 by n_chars, bottom-2 by salted
      // fingerprint), joined per lang
      s"""WITH tk AS (SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
    'sample:' || CAST(doc_id AS VARCHAR) AS s FROM documents),
h0 AS (SELECT lang, doc_id, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(s, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x FROM tk),
${Osql.mixCtes("h", "x")},
smp AS (SELECT lang, string_agg(doc_id, ',' ORDER BY rnk) AS sample_docs
  FROM (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      ORDER BY CAST(${Osql.signed("x")} AS BIGINT), doc_id) AS rnk FROM hd)
  WHERE rnk <= 2 GROUP BY lang),
top1 AS (SELECT lang, doc_id AS longest_doc, n_chars AS longest_chars
  FROM (SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id, n_chars,
      row_number() OVER (PARTITION BY lang
        ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR)) AS rn
    FROM documents) WHERE rn = 1),
agg AS (SELECT lang, COUNT(*) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang)
SELECT a.lang, a.n_docs, a.total_chars, t.longest_doc, t.longest_chars,
  s.sample_docs
FROM agg a JOIN top1 t ON t.lang = a.lang JOIN smp s ON s.lang = a.lang"""),

    // count-min sketch of the token stream: mergeable (depth, bucket, cnt)
    // state — constant-width shuffle, heavy-hitter probes without a
    // full-vocabulary exchange
    QuerySpec("q_cms_tokens", (s, d) => TrainingData.cmsSketch(
      t(s, d, "documents").select(explode(wsToks(col("text"))).as("tok")),
      col("tok"), depth = 4, width = 1024),
      // CMS replica: fingerprint64 per token, then per depth row d the
      // splitmix rehash of xor(fp, (d+1)*GOLDEN) — the minHash hash family —
      // and the low 10 bits (width 1024 divides 2^64, so unsigned HUGEINT
      // and signed JVM residues coincide)
      s"""WITH tk AS (SELECT unnest(list_filter(string_split_regex(
      regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
      x -> len(x) > 0)) AS tok FROM documents),
h0 AS (SELECT list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(tok, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM tk),
${Osql.mixCtes("h", "x")},
e0 AS (SELECT s.d AS d, xor(hd.x, s.seed) AS x FROM hd CROSS JOIN (VALUES
  ${(0 until 4).map(i => s"($i, ${java.lang.Long.toUnsignedString((i + 1) * 0x9E3779B97F4A7C15L)}::HUGEINT)").mkString(", ")})
  AS s(d, seed)),
${Osql.mixCtes("e", "x")}
SELECT CAST(d AS BIGINT) AS d, CAST(x % 1024::HUGEINT AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM ed GROUP BY 1, 2"""),

    // sketch-gated EXACT heavy hitters: CMS estimate as a codegen map-side
    // gate, exact count + HAVING only on survivors — no full-vocabulary
    // exchange; output is exact (the gate has no false negatives)
    QuerySpec("q_heavy_hitters", (s, d) => TrainingData.heavyHitters(
      t(s, d, "documents").select(explode(wsToks(col("text"))).as("tok")),
      col("tok"), minCount = 900L),
      // heavy-hitter replica: the final output is EXACT (the CMS gate only
      // prunes, never drops a true heavy hitter), so plain GROUP BY + HAVING
      // is the complete oracle
      s"""SELECT tok AS value, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest(list_filter(string_split_regex(
    regexp_replace(lower(text), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
    x -> len(x) > 0)) AS tok FROM documents)
GROUP BY tok HAVING COUNT(*) >= 900"""),

    // PageRank over the host link graph (integer fixed-point, 5 rounds) —
    // the crawl-quality prior for domain mixture weighting
    QuerySpec("q_pagerank_hosts", (s, d) => graft.operators.Graph.pageRank(
      graft.operators.Graph.hostEdges(
        s.read.parquet(Urls200(s)), "doc_id", "text"),
      "src", "dst", iters = 5),
      // PageRank replica: same edge derivation (positional unnest zip for
      // first-host), then the 5 power-iteration rounds unrolled as
      // MATERIALIZED CTEs in the identical integer fixed-point op order
      {
      val iter = (i: Int) =>
        s"""p$i AS MATERIALIZED (SELECT nd.node,
  (1000000000000::BIGINT * 15) // (100 * (SELECT n FROM nn)) +
    COALESCE(f.inflow, 0) AS rank
  FROM nd LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM((r.rank * 85) // (100 * deg.od)) AS BIGINT) AS inflow
    FROM ed e JOIN deg ON deg.src = e.src JOIN p${i - 1} r ON r.node = e.src
    GROUP BY e.dst) f ON f.node = nd.node)"""
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text,
    'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\n"''<>]*)?') AS l
  FROM read_parquet('${Urls200.path}/*.parquet')),
u0 AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos,
    unnest(l) AS url FROM t),
uh AS (SELECT doc_id, pos, host FROM (SELECT doc_id, pos,
    regexp_replace(lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)),
      '^www\\.', '') AS host FROM u0) WHERE host <> ''),
fh AS (SELECT doc_id, arg_min(host, pos) AS src FROM uh GROUP BY doc_id),
ed AS MATERIALIZED (SELECT DISTINCT fh.src AS src, uh.host AS dst
  FROM uh JOIN fh ON uh.doc_id = fh.doc_id WHERE uh.host <> fh.src),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM ed GROUP BY src),
nd AS MATERIALIZED (SELECT DISTINCT node FROM
  (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd),
p0 AS (SELECT node, 1000000000000::BIGINT // (SELECT n FROM nn) AS rank FROM nd),
${(1 to 5).map(iter).mkString(",\n")}
SELECT node, CAST(rank AS BIGINT) AS rank FROM p5"""
    }),

    // BPE vocabulary induction: the FULL 12-round merge loop (each round
    // one pass over the distinct-word table, never the corpus)
    QuerySpec("q_bpe_train", (s, d) => {
      import s.implicits._
      bpeMergesFor(s, d).toDF("rank", "l_sym", "r_sym", "merged", "n")
    },
      // BPE induction replica: DuckDB re-runs the full 12-round merge loop
      // (pair counts → argmax → replace) from scratch
      s"""WITH ${bpeCtes(BpeMerges)}
${(0 until BpeMerges).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS "rank", split_part(pr, chr(31), 1) AS l_sym,
  split_part(pr, chr(31), 2) AS r_sym, replace(pr, chr(31), '') AS merged,
  cnt AS n FROM b$i""").mkString("\nUNION ALL\n")}"""),

    // tokenizer application: sequential rank-order merge replay per doc
    // (codegen replace chain, zero shuffle)
    QuerySpec("q_bpe_encode", (s, d) => TrainingData.bpeEncode(
      t(s, d, "documents"), "doc_id", "text",
      bpeMergesFor(s, d).map(x => (x._2, x._3))),
      // tokenizer-application replica: the SAME independently-trained merge
      // chain applied to every doc in rank order
      s"""WITH ${bpeCtes(BpeMerges)},
d0 AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
    '[\\x00-\\x1F]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm FROM documents),
e0 AS MATERIALIZED (SELECT doc_id, norm,
    regexp_replace(norm, '(?s)(.)', chr(31) || '\\1' || chr(31), 'g') AS s FROM d0),
${(0 until BpeMerges).map(i =>
        s"""e${i + 1} AS MATERIALIZED (SELECT doc_id, norm, replace(s,
    chr(31) || (SELECT replace(pr, chr(31), chr(31) || chr(31)) FROM b$i) || chr(31),
    chr(31) || (SELECT replace(pr, chr(31), '') FROM b$i) || chr(31)) AS s
  FROM e$i)""").mkString(",\n")}
SELECT doc_id,
  CASE WHEN norm = '' THEN CAST(0 AS BIGINT)
       ELSE CAST(len(string_split(norm, ' ')) AS BIGINT) END AS n_words,
  CASE WHEN norm = '' THEN CAST(0 AS BIGINT)
       ELSE CAST((length(s) - length(replace(s, chr(31), ''))) // 2 -
                 (len(string_split(norm, ' ')) - 1) AS BIGINT) END AS n_tokens,
  substring(trim(regexp_replace(replace(s, chr(31), ' '), ' +', ' ', 'g')), 1, 80) AS enc80
FROM e$BpeMerges"""),

    // DPO preference-pair construction: per-prompt score argmax/argmin as
    // two struct-extrema in one hash-agg (no window — viral-prompt safe)
    QuerySpec("q_preference_pairs", (s, d) =>
      TrainingData.preferencePairs(
        s.read.parquet(Pref300(s)),
        "prompt", "response", col("score"), "cand_id"),
      s"""WITH a AS (
            SELECT prompt,
              max(struct_pack(s := score, cand_id := cand_id,
                response := response)) AS ch,
              min(struct_pack(s := score, cand_id := cand_id,
                response := response)) AS rj,
              COUNT(*) AS n_candidates
            FROM read_parquet('${Pref300.path}/*.parquet')
            GROUP BY prompt)
          SELECT prompt,
            ch.response AS chosen, ch.s AS chosen_score,
            ch.cand_id AS chosen_id,
            rj.response AS rejected, rj.s AS rejected_score,
            rj.cand_id AS rejected_id, n_candidates
          FROM a WHERE ch.cand_id <> rj.cand_id"""),

    // per-conversation tool-usage profile (role counts, distinct tools,
    // time span) — single partial-aggregatable hash-agg
    QuerySpec("q_tool_stats", (s, d) =>
      TrainingData.toolStats(s.read.parquet(FsmRec60(s))),
      s"""SELECT conv_id, COUNT(*) AS n_turns,
            CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
            CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
            array_to_string(list_sort(coalesce(
              list(DISTINCT tool) FILTER (WHERE tool IS NOT NULL), [])), ',') AS tools,
            epoch_us(MIN(ts)) // 1000000 AS t_first_epoch,
            epoch_us(MAX(ts)) // 1000000 AS t_last_epoch
          FROM read_parquet('${FsmRec60.path}/*.parquet')
          GROUP BY conv_id"""),

    // LLM-pipeline: Gopher-style repetition signals (per-row expression
    // trees — no shuffle; Rae et al. 2021 §A1.1)
    // single compiled pass (RepetitionStats); the HOF column forms
    // (TF.dupNgramPpm/dupLineCharPpm) stay as the semantic reference and
    // are equality-pinned against this kernel in TrainingDataSpec
    QuerySpec("q_repetition", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        graft.expressions.TextHashExpressions.repetition_stats(col("text")).as("rs"))
      .select(col("doc_id"),
        col("rs").getItem(0).as("dup2_ppm"),
        col("rs").getItem(1).as("dup3_ppm"),
        col("rs").getItem(2).as("dupline_ppm")),
      """WITH base AS (SELECT doc_id,
    CASE WHEN trim(text) = '' THEN []
         ELSE list_filter(string_split_regex(trim(lower(text)), '[\s\x0B]+'),
                t -> t <> '') END AS toks,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lns
  FROM documents),
grams AS (SELECT doc_id,
    CASE WHEN len(toks) < 2 THEN []
         ELSE list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]) END AS g2,
    CASE WHEN len(toks) < 3 THEN []
         ELSE list_transform(generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS g3,
    lns FROM base),
lstats AS (SELECT doc_id, g2, g3,
    COALESCE(list_sum(list_transform(lns, l -> length(l))), 0) AS total,
    COALESCE(list_sum(list_transform(lns, l ->
      CASE WHEN len(list_filter(lns, x -> x = l)) > 1 THEN length(l) ELSE 0 END)), 0) AS dup
  FROM grams)
SELECT doc_id,
  CASE WHEN len(g2) = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(FLOOR((len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)::DOUBLE * 1000000) AS BIGINT) END AS dup2_ppm,
  CASE WHEN len(g3) = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(FLOOR((len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)::DOUBLE * 1000000) AS BIGINT) END AS dup3_ppm,
  CASE WHEN total = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(FLOOR(dup::DOUBLE / total::DOUBLE * 1000000) AS BIGINT) END AS dupline_ppm
FROM lstats"""),

    // boilerplate strip over fixture HTML turns
    QuerySpec("q_boilerplate", (s, d) => {
      import s.implicits._
      s.read.parquet(Html120(s))
        .filter(col("text").contains("<html"))
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .as[(String, Int, String)]
        .map { case (c, i, x) => (c, i, graft.core.Boilerplate.stripHtml(x)) }
        .toDF("conv_id", "turn_idx", "main_content")
    },
      // Full DuckDB replica of Boilerplate.stripHtml (WSDM'10 block heuristic)
      // over the materialized HTML fixture. RE2 has no backreferences, so the
      // Scala side's `</\1\s*>` subtree/container patterns are expanded into
      // per-tag literal regexes; `array_to_string([],sep)` is NULL in DuckDB,
      // hence the COALESCE on the anchor concat.
      s"""WITH t AS (SELECT conv_id, turn_idx, text
  FROM read_parquet('${Html120.path}/*.parquet') WHERE contains(text, '<html')),
s1 AS (SELECT conv_id, turn_idx,
    regexp_replace(text, '(?s)<!--.*?-->', ' ', 'g') AS s FROM t),
s2 AS (SELECT conv_id, turn_idx,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
      '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
      '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
      '(?is)<noscript\\b[^>]*>.*?</noscript\\s*>', ' ', 'g'),
      '(?is)<template\\b[^>]*>.*?</template\\s*>', ' ', 'g') AS s FROM s1),
s3 AS (SELECT conv_id, turn_idx,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
      '(?is)<nav\\b[^>]*>.*?</nav\\s*>', ' ', 'g'),
      '(?is)<header\\b[^>]*>.*?</header\\s*>', ' ', 'g'),
      '(?is)<footer\\b[^>]*>.*?</footer\\s*>', ' ', 'g'),
      '(?is)<aside\\b[^>]*>.*?</aside\\s*>', ' ', 'g') AS s FROM s2),
blk AS (SELECT conv_id, turn_idx,
    unnest(string_split_regex(s, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|section|article|main|br|blockquote|pre)\\b[^>]*>')) AS b,
    unnest(generate_series(1, len(string_split_regex(s, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|section|article|main|br|blockquote|pre)\\b[^>]*>')))) AS bi
  FROM s3),
scored AS (SELECT conv_id, turn_idx, bi,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(b, '(?s)</?[A-Za-z][^>]*>|<!--.*?-->|<![^>]*>', ' ', 'g'),
        '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),'&nbsp;',' '),'&amp;','&'),
      '[ \\t\\x0B\\f\\r]+', ' ', 'g'), ' ' || chr(10) || chr(9) || chr(13) || chr(11) || chr(12)) AS txt,
    length(trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        COALESCE(array_to_string(list_transform(
          regexp_extract_all(b, '(?is)<a\\b[^>]*>(.*?)</a\\s*>', 1),
          x -> regexp_replace(x, '(?s)</?[A-Za-z][^>]*>|<!--.*?-->|<![^>]*>', ' ', 'g')), ''), ''),
        '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),'&nbsp;',' '),'&amp;','&'),
      '[ \\t\\x0B\\f\\r]+', ' ', 'g'), ' ' || chr(10) || chr(9) || chr(13) || chr(11) || chr(12))) AS alen
  FROM blk),
kept AS (SELECT * FROM scored
  WHERE txt <> ''
    AND (length(txt) >= 10 OR regexp_matches(txt, '[A-Za-z0-9]'))
    AND alen::DOUBLE / greatest(length(txt), 1) <= 0.5),
agg AS (SELECT conv_id, turn_idx, string_agg(txt, chr(10) ORDER BY bi) AS main_content
  FROM kept GROUP BY conv_id, turn_idx)
SELECT t.conv_id, t.turn_idx, COALESCE(a.main_content, '') AS main_content
FROM t LEFT JOIN agg a ON a.conv_id = t.conv_id AND a.turn_idx = t.turn_idx"""),

    // F3: tokenize + stopword filter + rejoin (oracle-checked); lemmatizer
    // variant below is rows-only (custom suffix rules)
    QuerySpec("q_stopword_filter", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), Clean.stopwordFiltered(col("text")).as("filtered")),
      {
      val inList = graft.core.TextStats.NltkStopWordsEn
        .map(w => "'" + w.replace("'", "''") + "'").mkString(",")
      s"""SELECT doc_id, array_to_string(list_filter(
           string_split_regex(TRIM(LOWER(text)), '[\\s\\x0B]+'),
           t -> t <> '' AND t NOT IN ($inList)), ' ') AS filtered
         FROM documents"""
    }),

    // both engines see whitespace-trimmed input (Java's split drops trailing
    // empty tokens, DuckDB's keeps them — trimming removes the divergence)
    QuerySpec("q_lemmatize", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        Clean.lemmatize(regexp_replace(col("text"), "^\\s+|\\s+$", "")).as("lemmas")),
      """SELECT doc_id, array_to_string(list_transform(
           string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
           w -> CASE
             WHEN LENGTH(LOWER(w)) <= 3 THEN LOWER(w)
             WHEN ends_with(LOWER(w), 'ies') THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-3) || 'y'
             WHEN ends_with(LOWER(w), 'sses') THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-2)
             WHEN ends_with(LOWER(w), 'ing') AND LENGTH(w) > 5 THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-3)
             WHEN ends_with(LOWER(w), 'ed') AND LENGTH(w) > 4 THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-2)
             WHEN LENGTH(w) > 4 AND (ends_with(LOWER(w), 'ches') OR ends_with(LOWER(w), 'shes')
               OR ends_with(LOWER(w), 'xes') OR ends_with(LOWER(w), 'zes')) THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-2)
             WHEN ends_with(LOWER(w), 's') AND NOT ends_with(LOWER(w), 'ss') THEN SUBSTRING(LOWER(w), 1, LENGTH(w)-1)
             ELSE LOWER(w) END), ' ') AS lemmas
         FROM documents"""),

    // PII scrub over a deterministically PII-augmented corpus (the fixture
    // text carries no PII; the augmentation is the same expression on both
    // engines, so the redaction itself is what the oracle checks)
    QuerySpec("q_pii_redact", (s, d) => TrainingData.piiRedact(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com ip 10."), col("doc_id") % 256, lit("."),
            (col("doc_id") * 7) % 256, lit(".4 ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" tel +1-555-"),
            lpad(((col("doc_id") * 31) % 10000).cast("string"), 4, "0")).as("raw")),
        "raw")
      .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
        col("n_ssn").cast("long").as("n_ssn"),
        col("n_phone").cast("long").as("n_phone"),
        col("n_ip").cast("long").as("n_ip"), col("redacted")),
      """WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@example.com ip 10.' || (doc_id % 256) ||
    '.' || ((doc_id * 7) % 256) || '.4 ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
    ' tel +1-555-' || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') AS raw
  FROM documents)
, stages AS (
  SELECT doc_id, raw,
    regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
  FROM aug),
stages2 AS (SELECT *, regexp_replace(after_email, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS after_ssn FROM stages),
stages3 AS (SELECT *, regexp_replace(after_ssn, '\+\d{1,2}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS after_phone FROM stages2)
SELECT doc_id,
  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(after_email, '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
  len(regexp_extract_all(after_ssn, '\+\d{1,2}-\d{3}-\d{4}\b'))::BIGINT AS n_phone,
  len(regexp_extract_all(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
  regexp_replace(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
FROM stages3"""),

    // sliding-window chunking (overlap): zero-shuffle per-row HOF windows
    QuerySpec("q_sliding_chunks", (s, d) => TrainingData.slidingChunks(
      t(s, d, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", chunkTokens = 32, strideTokens = 24),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         n AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) > 32
                      THEN CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1
                      ELSE 1 END AS ns
               FROM t),
         c AS (SELECT doc_id, CAST(unnest(range(0, ns)) AS BIGINT) AS chunk_idx, toks FROM n)
         SELECT doc_id, chunk_idx, chunk_idx * 24 AS token_start,
                array_to_string(toks[CAST(chunk_idx*24+1 AS INT) : CAST(chunk_idx*24+32 AS INT)], ' ') AS chunk
         FROM c"""),

    // benchmark decontamination: sliding 8-gram overlap vs the doc_id%97
    // benchmark slice (broadcast bench side; corpus streams once)
    QuerySpec("q_contamination", (s, d) => TrainingData.contamination(
      t(s, d, "documents"), "doc_id", "text", n = 8,
      benchPred = col("doc_id") % 97 === 0),
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 8 THEN []
    ELSE list_transform(generate_series(1, len(toks)-7), i -> array_to_string(toks[i:(i+7)], ' ')) END) AS gs
  FROM base),
flat AS (SELECT doc_id, unnest(gs) AS g FROM grams),
bench AS (SELECT DISTINCT g FROM flat WHERE doc_id % 97 = 0)
SELECT f.doc_id, count(DISTINCT f.g) AS n_contam
FROM flat f JOIN bench b ON f.g = b.g
GROUP BY f.doc_id"""),

    // Bloom-gated decontamination (the 100-TB shape: benchmark rides the
    // plan as a 64-Kbit filter, corpus streams once with no join). The
    // oracle replays the ENTIRE filter — fingerprint chain, double-hashed
    // bit positions, the k-probe membership decision — so the result is
    // pinned bit-for-bit INCLUDING deterministic false positives
    QuerySpec("q_contamination_bloom", (s, d) => TrainingData.contaminationBloom(
      t(s, d, "documents"), "doc_id", "text", n = 8,
      benchPred = col("doc_id") % 97 === 0, mBits = 65536, k = 4),
      // Bloom replica: same gram plane, then the full filter arithmetic —
      // poly-257 + splitmix fingerprint per DISTINCT gram, h1 = u mod m,
      // h2 = ((u >> 32) mod m) | 1 (odd step ⇒ the k positions are distinct,
      // so HAVING count = k is exact), bench positions unioned, a gram
      // flagged iff ALL k of its positions are set — FPs replayed exactly
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 8 THEN []
    ELSE list_transform(generate_series(1, len(toks)-7), i -> array_to_string(toks[i:(i+7)], ' ')) END) AS gs
  FROM base),
flat AS (SELECT doc_id, unnest(gs) AS g FROM grams),
cg AS (SELECT DISTINCT g FROM flat),
f0 AS (SELECT g, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(g, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x FROM cg),
${Osql.mixCtes("f", "x")},
fh AS (SELECT g, x % 65536::HUGEINT AS h1,
  ((x // 4294967296::HUGEINT) % 65536::HUGEINT) -
    (((x // 4294967296::HUGEINT) % 65536::HUGEINT) % 2::HUGEINT) + 1::HUGEINT AS h2
  FROM fd),
pos AS (SELECT g, (h1 + i * h2) % 65536::HUGEINT AS p
  FROM fh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) ii),
bpos AS (SELECT DISTINCT p.p FROM pos p
  JOIN (SELECT DISTINCT g FROM flat WHERE doc_id % 97 = 0) b USING (g)),
flagged AS (SELECT c.g FROM pos c LEFT JOIN bpos ON c.p = bpos.p
  GROUP BY c.g HAVING count(bpos.p) = 4)
SELECT f.doc_id, count(DISTINCT f.g) AS n_flagged
FROM flat f JOIN flagged USING (g)
GROUP BY f.doc_id"""),

    // deterministic per-language sampling from a 64-bit id fingerprint
    QuerySpec("q_stratified_sample", (s, d) => TrainingData.stratifiedSample(
        t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 500000, "de" -> 250000, "es" -> 250000, "fr" -> 100000),
        defaultPpm = 50000)
      .select(col("doc_id"), col("lang"), col("bucket")),
      // fingerprint64(cast(doc_id)) replica (q_fingerprint technique) →
      // signed pmod bucket → per-lang ppm rate
      s"""WITH $idBucketCtes
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                         WHEN 'es' THEN 250000 WHEN 'fr' THEN 100000 ELSE 50000 END"""),

    // Efraimidis–Spirakis weighted sampling without replacement: integer
    // exponential race keyed on the id fingerprint, n_chars as the weight;
    // TakeOrdered top-50 — non-survivors never shuffle
    QuerySpec("q_weighted_sample", (s, d) => TrainingData.weightedSample(
        t(s, d, "documents"), "doc_id", col("n_chars"), k = 50)
      .select(col("doc_id"), col("w"), col("pri")),
      // A-ES exponential race replica: same fingerprint bucket chain, −ln(u)
      // floor-quantized to 1e-4 BEFORE the integer weight division, ties on
      // (fp, doc_id) — the race key is a bigint both engines compute exactly
      s"""WITH $idBucketCtes,
race AS (SELECT b.doc_id, d.n_chars::BIGINT AS w, b.fp,
    (CAST(FLOOR(ln((b.bucket + 1)::DOUBLE / 1000000.0) * -10000.0) AS BIGINT)
      * 1000000) // d.n_chars::BIGINT AS pri
  FROM b JOIN documents d ON b.doc_id = d.doc_id
  WHERE d.n_chars >= 1)
SELECT doc_id, w, pri FROM race ORDER BY pri, w DESC, fp, doc_id LIMIT 50"""),

    // CCNet-style bigram-LM quality score: Laplace bigram model trained on
    // the corpus (top-20 vocab of 31 types, so the <unk> fold is exercised),
    // per-position log-prob quantized to 1e-4 BEFORE summation — the output
    // is all-integer, and DuckDB retrains + rescores independently
    QuerySpec("q_lm_score", (s, d) => TrainingData.ngramLmScore(
      t(s, d, "documents"), "doc_id", "text", topVocab = 20),
      // independent LM retrain + rescore: unigram/bigram counts, top-20 vocab
      // with the same (count desc, token) tie-break, Laplace smoothing, and
      // the 1e-4 pre-sum quantization of each position's ln — all-integer out
      """WITH toks AS (SELECT doc_id,
           CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                THEN []::VARCHAR[]
                ELSE string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS ts
         FROM documents),
at AS (SELECT unnest(ts) AS tok FROM toks),
uni AS (SELECT tok, COUNT(*)::BIGINT AS c FROM at GROUP BY tok),
voc AS (SELECT tok, c FROM uni ORDER BY c DESC, tok LIMIT 20),
vl AS (SELECT list(tok) AS vt, COUNT(*)::BIGINT AS nv FROM voc),
m AS (SELECT doc_id,
    list_transform(ts, t -> CASE WHEN list_contains(vl.vt, t) THEN t ELSE '<unk>' END) AS ms
  FROM toks CROSS JOIN vl),
u1 AS (SELECT tok, COUNT(*)::BIGINT AS c1 FROM (SELECT unnest(ms) AS tok FROM m) GROUP BY tok),
bg AS (SELECT doc_id, ms[i] AS w1, ms[i+1] AS w2
  FROM (SELECT doc_id, ms, unnest(generate_series(1, len(ms)-1)) AS i FROM m WHERE len(ms) >= 2)),
b2 AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
sc AS (SELECT bg.doc_id, COUNT(*)::BIGINT AS n_pos,
    SUM(CAST(FLOOR(ln((b2.c12 + 1)::DOUBLE / (u1.c1 + vl.nv + 1)::DOUBLE) * 10000) AS BIGINT))::BIGINT AS lm_q4_sum
  FROM bg JOIN b2 ON bg.w1 = b2.w1 AND bg.w2 = b2.w2
  JOIN u1 ON u1.tok = bg.w1 CROSS JOIN vl
  GROUP BY bg.doc_id)
SELECT d.doc_id, COALESCE(sc.n_pos, 0)::BIGINT AS n_pos,
  COALESCE(sc.lm_q4_sum, 0)::BIGINT AS lm_q4_sum
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"""),

    // exact greedy sequence packing into 256-token context bins per lang
    QuerySpec("q_seq_packing", (s, d) => TrainingData.sequencePack(
      t(s, d, "documents"), "lang", "doc_id",
      weight = size(split(col("text"), " ")), capacity = 256),
      // greedy fold as a recursive CTE over the per-lang row_number chain
      """WITH RECURSIVE base AS MATERIALIZED (
  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents),
pack AS (
  SELECT lang, doc_id, n_tok, rn, 0::BIGINT AS bin_idx, n_tok AS used FROM base WHERE rn = 1
  UNION ALL
  SELECT b.lang, b.doc_id, b.n_tok, b.rn,
    CASE WHEN p.used + b.n_tok > 256 THEN p.bin_idx + 1 ELSE p.bin_idx END,
    CASE WHEN p.used + b.n_tok > 256 THEN b.n_tok ELSE p.used + b.n_tok END
  FROM pack p JOIN base b ON b.lang = p.lang AND b.rn = p.rn + 1)
SELECT lang, doc_id, n_tok, bin_idx FROM pack"""),

    // temperature-resampled language balance: rates derived from corpus
    // counts (sqrt smoothing), deterministic fingerprint-bucket keep
    QuerySpec("q_temperature_sample", (s, d) => TrainingData.temperatureSample(
        t(s, d, "documents"), "doc_id", "lang", topRatePpm = 300000)
      .select(col("doc_id"), col("lang"), col("bucket")),
      // same bucket chain; rates derived from corpus counts via the
      // correctly-rounded divide/sqrt/multiply/floor chain (bit-exact)
      s"""WITH $idBucketCtes,
cnt AS (SELECT lang, COUNT(*)::BIGINT AS n_l FROM documents GROUP BY lang),
mx AS (SELECT MAX(n_l) AS n_max FROM cnt),
rates AS (SELECT lang,
    least(1000000, CAST(FLOOR(300000.0 * SQRT(n_max::DOUBLE / n_l::DOUBLE)) AS BIGINT)) AS rate_ppm
  FROM cnt, mx)
SELECT b.doc_id, b.lang, b.bucket FROM b JOIN rates r ON b.lang = r.lang
WHERE b.bucket < r.rate_ppm"""),

    // per-source quota cap, ranked by the deterministic id fingerprint
    QuerySpec("q_source_cap", (s, d) => TrainingData.sourceCap(
        t(s, d, "documents"), "doc_id", "source", cap = 30)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk")),
      // fingerprint-ranked per-source quota (unbiased deterministic shuffle)
      s"""WITH $idBucketCtes
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rk FROM b)
WHERE rk <= 30"""),

    // token-budget prefix selection in (quality desc, id) order
    QuerySpec("q_token_budget", (s, d) => TrainingData.tokenBudget(
        t(s, d, "documents"), "doc_id",
        weight = size(split(col("text"), " ")),
        qualityDesc = col("n_chars"), budgetTokens = 10000)
      .select(col("doc_id"), col("q"), col("w"), col("cum_tokens")),
      // global running token sum in (quality desc, id) order, budget prefix
      """WITH basew AS (SELECT doc_id, n_chars AS q,
    len(string_split(text, ' '))::BIGINT AS w FROM documents),
c AS (SELECT doc_id, q, w,
    SUM(w) OVER (ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM basew)
SELECT doc_id, q, w, cum_tokens FROM c WHERE cum_tokens <= 10000"""),
  )
}
