package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Matching, QLearning, SimilaritySearch, TfIdfMatch}
import QueryKit._

/** Matching and retrieval: best/top-k per key, cross-join scoring with the
  * reference's fuzzy scorers, cosine top-k (brute force, LSH, IVF, int8),
  * TF-IDF, BM25 and rerank, topic-space (PLSA, LDA), learned and
  * Q-learning matchers. */
private[graft] object MatchingQueries {

  /** Directory a query exports its fitted model to for this sf dir; the
    * oracle names it with Verify's `__SFHASH__` placeholder. */
  private def exportDir(name: String, tag: String): String =
    s"${graft.SparkEntry.FixtureDir}/${name}_v1_$tag"

  /** Recursive-CTE Ratcliff-Obershelp: DuckDB re-runs difflib's
    * get_matching_blocks from first principles — diagonal runs of matching
    * cells via one gaps-and-islands window pass, then difflib's recursive
    * split as a recursive CTE whose LATERAL picks each segment's longest
    * match with the exact (size desc, earliest-in-a, earliest-in-b)
    * tie-break; matching sizes accumulate as tag-3 marker rows. Validated
    * cell-for-cell against CPython difflib on 1300+ pairs (0 mismatches,
    * incl. forced half-even rounding cases) before being wired here.
    * `pairsSql` must select (pid, a, b); the caller gets CTE
    * `ro(pid, m, la, lb, ratio)` and must open with WITH RECURSIVE. */
  private def roOracleCtes(pairsSql: String): String =
    s"""pairs AS ($pairsSql),
pos AS (SELECT pid, a, b, length(a) AS la, length(b) AS lb FROM pairs),
ac0 AS (SELECT pid, a, unnest(generate_series(0, la-1)) AS i FROM pos),
ac AS (SELECT pid, i, substr(a, i+1, 1) AS ch FROM ac0),
bc0 AS (SELECT pid, b, unnest(generate_series(0, lb-1)) AS j FROM pos),
bc AS (SELECT pid, j, substr(b, j+1, 1) AS ch FROM bc0),
cells AS (SELECT x.pid, x.i, y.j FROM ac x JOIN bc y ON x.pid = y.pid AND x.ch = y.ch),
isl AS (SELECT pid, i, j, i - row_number() OVER (PARTITION BY pid, (j - i) ORDER BY i) AS grp FROM cells),
runs AS (SELECT pid, i, j, (max(i) OVER (PARTITION BY pid, (j - i), grp)) - i + 1 AS r FROM isl),
seg AS (
  SELECT pid, 0 AS alo, la::INT AS ahi, 0 AS blo, lb::INT AS bhi, 0::BIGINT AS msize FROM pos
  UNION ALL
  SELECT s.pid,
    CASE t.tag WHEN 1 THEN s.alo WHEN 2 THEN best.bi + best.k ELSE 0 END,
    CASE t.tag WHEN 1 THEN best.bi WHEN 2 THEN s.ahi ELSE 0 END,
    CASE t.tag WHEN 1 THEN s.blo WHEN 2 THEN best.bj + best.k ELSE 0 END,
    CASE t.tag WHEN 1 THEN best.bj WHEN 2 THEN s.bhi ELSE 0 END,
    CASE t.tag WHEN 3 THEN best.k::BIGINT ELSE 0::BIGINT END
  FROM seg s
  JOIN LATERAL (
    SELECT r.i AS bi, r.j AS bj, least(r.r, s.ahi - r.i, s.bhi - r.j)::INT AS k
    FROM runs r
    WHERE r.pid = s.pid AND r.i >= s.alo AND r.i < s.ahi AND r.j >= s.blo AND r.j < s.bhi
    ORDER BY k DESC, r.i, r.j LIMIT 1) best ON best.k > 0
  CROSS JOIN (VALUES (1), (2), (3)) t(tag)
  WHERE t.tag = 3
     OR (t.tag = 1 AND s.alo < best.bi AND s.blo < best.bj)
     OR (t.tag = 2 AND best.bi + best.k < s.ahi AND best.bj + best.k < s.bhi)),
msum AS (SELECT pid, SUM(msize)::BIGINT AS m FROM seg GROUP BY pid),
ro AS (SELECT p.pid, COALESCE(m.m, 0) AS m, p.la, p.lb,
    CASE WHEN p.la + p.lb = 0 THEN 1.0::DOUBLE
         ELSE (2.0 * COALESCE(m.m, 0)) / (p.la + p.lb) END AS ratio
  FROM pos p LEFT JOIN msum m ON p.pid = m.pid)"""

  /** Shared BM25 oracle scaffolding: q_bm25 and q_bm25_rerank must replay
    * the SAME pinned float-operation order as `TfIdfMatch.bm25Scores`
    * bit-for-bit — one generator serves both so the pinned order can never
    * drift in just one of them. */
  private object Bm25Osql {
    val terms = Seq("join", "hash", "window")
    def term(t: String, i: Int): String = {
      val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
      s"""CAST(floor(
            ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))
            * ($tf * 2.2 / ($tf + 1.2 * (0.25
                + 0.75 * (CAST(dl AS DOUBLE) * n_docs) / sum_dl)))
            * 10000.0) AS BIGINT)"""
    }
    val dfCols: String = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(",\n            ")
    val scoreExpr: String =
      terms.zipWithIndex.map { case (t, i) => term(t, i) }.mkString(" + ")
    /** base/b2/stats CTE prefix (tokenized docs, doc lengths, corpus stats). */
    val statsCtes: String =
      s"""base AS (SELECT doc_id,
            list_filter(string_split_regex(regexp_replace(
                lower(coalesce(text, '')), '[\\x00-\\x1F]', ' ', 'g'), '\\s+'),
              x -> len(x) > 0) AS toks
          FROM documents),
          b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
          stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
            CAST(SUM(dl) AS DOUBLE) AS sum_dl,
            $dfCols
          FROM b2)"""
  }

  // --- shared PLSA-oracle list arithmetic (q_plsa_match + q_plsa_foldin)
  /** rowsum over row (i // w) of width `w` in flat list `l` */
  private def plsaRowSum(l: String, w: String) =
    s"list_reduce($l[(i // $w) * $w + 1 : (i // $w) * $w + $w], (a, b) -> a + b)"
  /** row-normalize flat list `src` of width `w`; zero rows keep `keep` */
  private def plsaNormed(src: String, w: String, keep: String) =
    s"""list_transform(generate_series(0, len($src) - 1), i ->
      CASE WHEN ${plsaRowSum(src, w)} = 0.0 THEN $keep[i + 1]
           ELSE $src[i + 1] / ${plsaRowSum(src, w)} END)"""

  /** The joint PLSA-EM fit over CTE `d0(doc_id, tk)`: doc and vocabulary
    * indexes, the dense count list, the modular-pattern init, and `iters`
    * exact EM steps as an unrolled CTE chain over flat list-of-doubles state
    * (θ: doc-major width k; φ: topic-major width V) ending in CTE
    * `i<iters>(nf, dn, vn, ids, th, ph)`. */
  private def plsaFitCtes(k: Int, iters: Int): String = {
    val iterBlocks = (1 to iters).map { t =>
      val p = if (t == 1) "s0" else s"i${t - 1}"
      s"""i${t}a AS (SELECT nf, dn, vn, ids, th, ph,
  list_transform(generate_series(0, dn * vn - 1), i ->
    list_reduce(list_transform(generate_series(0, ${k - 1}), z ->
      th[(i // vn) * $k + z + 1] * ph[z * vn + (i % vn) + 1]), (a, b) -> a + b)) AS dnm
  FROM $p),
i${t}b AS (SELECT *, list_transform(generate_series(0, dn * $k - 1), i ->
    list_reduce(list_transform(generate_series(0, vn - 1), w ->
      nf[(i // $k) * vn + w + 1] * th[i + 1] * ph[(i % $k) * vn + w + 1] / dnm[(i // $k) * vn + w + 1]),
      (a, b) -> a + b)) AS tn
  FROM i${t}a),
i${t}c AS (SELECT *, list_transform(generate_series(0, $k * vn - 1), i ->
    list_reduce(list_transform(generate_series(0, dn - 1), dd ->
      nf[dd * vn + (i % vn) + 1] * th[dd * $k + (i // vn) + 1] * ph[i + 1] / dnm[dd * vn + (i % vn) + 1]),
      (a, b) -> a + b)) AS pn
  FROM i${t}b),
i$t AS (SELECT nf, dn, vn, ids,
  ${plsaNormed("tn", k.toString, "th")} AS th,
  ${plsaNormed("pn", "vn", "ph")} AS ph
  FROM i${t}c)"""
    }.mkString(",\n")
    s"""ds AS (SELECT doc_id, tk, ROW_NUMBER() OVER (ORDER BY doc_id) AS di FROM d0),
vz AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) AS w
  FROM (SELECT DISTINCT unnest(tk) AS tok FROM ds)),
nrows AS (SELECT ds.di, vz.w, len(list_filter(ds.tk, t -> t = vz.tok))::DOUBLE AS c
  FROM ds CROSS JOIN vz),
base AS (SELECT
  (SELECT list(c ORDER BY di, w) FROM nrows) AS nf,
  (SELECT COUNT(*)::INTEGER FROM ds) AS dn,
  (SELECT COUNT(*)::INTEGER FROM vz) AS vn,
  (SELECT list(doc_id ORDER BY doc_id) FROM ds) AS ids),
b1 AS (SELECT *, list_transform(generate_series(0, dn * $k - 1), i ->
    1.0 + CAST((ids[i // $k + 1] * 31 + (i % $k) * 17) % 97 AS DOUBLE) / 1000.0) AS thr,
  list_transform(generate_series(0, $k * vn - 1), i ->
    1.0 + CAST(((i // vn) * 13 + (i % vn) * 7) % 89 AS DOUBLE) / 1000.0) AS phr
  FROM base),
s0 AS (SELECT nf, dn, vn, ids,
  ${plsaNormed("thr", k.toString, "thr")} AS th,
  ${plsaNormed("phr", "vn", "phr")} AS ph
  FROM b1),
$iterBlocks"""
  }

  /** Topic-space cosine of two width-`k` lists, zero-norm guarded. */
  private def plsaCos(k: Int, a: String, b: String): String =
    s"""CASE WHEN list_reduce(list_transform(generate_series(1, $k), i -> $a[i] * $a[i]), (x, y) -> x + y) = 0.0
           OR list_reduce(list_transform(generate_series(1, $k), i -> $b[i] * $b[i]), (x, y) -> x + y) = 0.0 THEN 0.0
         ELSE list_reduce(list_transform(generate_series(1, $k), i -> $a[i] * $b[i]), (x, y) -> x + y)
           / (SQRT(list_reduce(list_transform(generate_series(1, $k), i -> $a[i] * $a[i]), (x, y) -> x + y))
            * SQRT(list_reduce(list_transform(generate_series(1, $k), i -> $b[i] * $b[i]), (x, y) -> x + y))) END"""

  def specs: Seq[QuerySpec] = Seq(

    // J2: best match per key (window argmax, deterministic tiebreak)
    QuerySpec("q_bestmatch_window", (s, d) => {
      val e = t(s, d, "events")
      e.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(desc("value"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("best_event"), col("value"))
    },
      """SELECT user_id, event_id AS best_event, value FROM (
           SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) rn
           FROM events) WHERE rn = 1"""),

    // J4: top-k per key (k=2, Top2_Matches.py semantics)
    QuerySpec("q_topk_per_key", (s, d) => Matching.topKPerKey(
        t(s, d, "events").withColumn("score", col("value")),
        col("user_id"), 2, col("event_id"))
      .select(col("user_id"), col("event_id"), col("value"), col("rn")),
      """SELECT user_id, event_id, value, rn FROM (
           SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) rn
           FROM events) WHERE rn <= 2"""),

    // J1: cross join + score + threshold (theta join)
    QuerySpec("q_cross_join_score", (s, d) => {
      val score = lit(1.0) / (lit(1.0) + abs(length(col("n_name")) - length(col("r_name"))))
      Matching.crossScore(t(s, d, "nation"), t(s, d, "region"), score)
        .filter(col("score") > 0.2)
        .select(col("n_name"), col("r_name"), ppm(col("score")).as("score_ppm"))
    },
      """SELECT n_name, r_name, CAST(FLOOR(score * 1000000) AS BIGINT) AS score_ppm FROM (
           SELECT n_name, r_name,
             1.0 / (1.0 + ABS(LENGTH(n_name) - LENGTH(r_name))) AS score
           FROM nation CROSS JOIN region) WHERE score > 0.2"""),

    // J1 with the reference's REAL scorer (fuzzy.py:13-45): cross join two
    // slices, TWO fuzz.token_sort_ratio score columns per pair (name vs
    // name, type vs type), exactly the nested-iterrows result frame —
    // broadcast-NL plus a codegen kernel instead of 820×29k Python loops.
    // Scores are ints 0..100, directly hashable; the DuckDB oracle re-runs
    // Ratcliff-Obershelp itself via a recursive segment CTE.
    QuerySpec("q_token_sort_pairs", (s, d) => {
      val p = t(s, d, "part")
      val l = p.filter(col("p_partkey") < 40)
        .select(col("p_partkey").as("cis_index"),
          col("p_name").as("l_name"), col("p_type").as("l_type"))
      val r = p.filter(col("p_partkey") >= 100 && col("p_partkey") < 140)
        .select(col("p_partkey").as("master_index"),
          col("p_name").as("r_name"), col("p_type").as("r_type"))
      l.crossJoin(broadcast(r))
        .select(col("cis_index"), col("master_index"),
          graft.expressions.StringSimilarity
            .token_sort_ratio(col("l_name"), col("r_name"))
            .cast("long").as("name_sim"),
          graft.expressions.StringSimilarity
            .token_sort_ratio(col("l_type"), col("r_type"))
            .cast("long").as("type_sim"))
    },
      // full independent fuzz.token_sort_ratio: full_process + token sort in
      // SQL, Ratcliff-Obershelp via the recursive segment CTE, half-even
      // rounding replicated explicitly (kinds 1/2 = name/type score columns)
      {
        // fuzzywuzzy asciidammit + full_process + token sort as one SQL
        // expression — first delete U+0080–U+00FF (force_ascii=True default),
        // then the RE2 class `[^\p{L}\p{N}_]` is Python's unicode `\W`
        // (verified against CPython `re` on mixed-script fixtures; the kernel
        // mirrors the same categories). DuckDB's binary-UTF-8 list_sort is
        // code-point order, matching Python sorted() and the kernel.
        def tokenSortSql(x: String): String =
          s"""array_to_string(list_sort(list_filter(string_split_regex(
      trim(lower(regexp_replace(regexp_replace($x, '[\\x{0080}-\\x{00FF}]', '', 'g'),
        '[^\\p{L}\\p{N}_]', ' ', 'g'))), ' +'),
      t -> t <> '')), ' ')"""
        // fuzzywuzzy utils.intr = Python3 round-half-EVEN (DuckDB round() is
        // half-away-from-zero): floor + fraction/parity CASE over the identical
        // IEEE double `100 * (2.0*m/(la+lb))`.
        def intrScoreSql: String =
          """CAST(CASE WHEN x - floor(x) > 0.5 THEN floor(x) + 1
            WHEN x - floor(x) < 0.5 THEN floor(x)
            ELSE floor(x) + (CAST(floor(x) AS BIGINT) % 2) END AS BIGINT)"""
        val pairsSql =
          s"""SELECT 1000000 + l.p_partkey*1000 + r.p_partkey AS pid,
      ${tokenSortSql("l.p_name")} AS a, ${tokenSortSql("r.p_name")} AS b
    FROM part l, part r
    WHERE l.p_partkey < 40 AND r.p_partkey >= 100 AND r.p_partkey < 140
    UNION ALL
    SELECT 2000000 + l.p_partkey*1000 + r.p_partkey,
      ${tokenSortSql("l.p_type")}, ${tokenSortSql("r.p_type")}
    FROM part l, part r
    WHERE l.p_partkey < 40 AND r.p_partkey >= 100 AND r.p_partkey < 140"""
        s"""WITH RECURSIVE
${roOracleCtes(pairsSql)},
scx AS (SELECT pid, 100 * ((2.0 * m) / (la + lb)) AS x FROM ro WHERE la > 0 AND lb > 0),
sc AS (SELECT pid, $intrScoreSql AS score FROM scx),
-- fuzz.ratio decorator order: equal processed strings (incl. BOTH empty)
-- hit check_for_equivalence -> 100 before the empty guard -> 0
allsc AS (SELECT r.pid,
  CASE WHEN r.la = 0 AND r.lb = 0 THEN 100 ELSE COALESCE(sc.score, 0) END AS score
  FROM ro r LEFT JOIN sc ON r.pid = sc.pid)
SELECT n.cis AS cis_index, n.mas AS master_index,
  n.score AS name_sim, ty.score AS type_sim
FROM (SELECT (pid % 1000000) // 1000 AS cis, pid % 1000 AS mas, score
      FROM allsc WHERE pid // 1000000 = 1) n
JOIN (SELECT (pid % 1000000) // 1000 AS cis, pid % 1000 AS mas, score
      FROM allsc WHERE pid // 1000000 = 2) ty
  ON n.cis = ty.cis AND n.mas = ty.mas"""
      }),

    // J2 with the reference's REAL scorer (bestmatch.py:19-44): argmax of
    // difflib SequenceMatcher.ratio per rule, first-in-file-order ties,
    // match columns nulled at `score > 0.8` — every rule row emitted. The
    // ' kit' suffix manufactures over-threshold matches for overlapping
    // keys so both branches carry rows.
    QuerySpec("q_seqmatch_best", (s, d) => {
      val p = t(s, d, "part")
      val rules = p.filter(col("p_partkey") < 30)
        .select(col("p_partkey").as("rule_id"), col("p_name").as("rule"))
      val controls = p.filter(col("p_partkey") >= 15 && col("p_partkey") < 45)
        .select(col("p_partkey").as("control_id"),
          concat(col("p_name"), lit(" kit")).as("control"))
      val pairs = Matching.crossScore(rules, controls,
        graft.expressions.StringSimilarity.seq_ratio(col("rule"), col("control")))
      Matching.bestMatchNullBelow(pairs, col("rule_id"), col("control_id"),
          0.8, Seq("control_id", "control"))
        .select(col("rule_id"), col("rule"), col("control_id"), col("control"),
          ppm(col("score")).as("score_ppm"))
    },
      // difflib SequenceMatcher argmax per rule + the strict >0.8 null-out
      // (bestmatch.py replica); same R-O chain on the RAW strings
      {
        val pairsSql =
          """SELECT l.p_partkey*1000 + r.p_partkey AS pid,
      l.p_name AS a, r.p_name || ' kit' AS b
    FROM part l, part r
    WHERE l.p_partkey < 30 AND r.p_partkey >= 15 AND r.p_partkey < 45"""
        s"""WITH RECURSIVE
${roOracleCtes(pairsSql)},
ranked AS (SELECT pid // 1000 AS rule_id, pid % 1000 AS control_id, ratio,
    row_number() OVER (PARTITION BY pid // 1000 ORDER BY ratio DESC, pid % 1000) AS rn
  FROM ro),
best AS (SELECT rule_id, control_id, ratio FROM ranked WHERE rn = 1)
SELECT b.rule_id, lp.p_name AS rule,
  CASE WHEN b.ratio > 0.8 THEN b.control_id END AS control_id,
  CASE WHEN b.ratio > 0.8 THEN rp.p_name || ' kit' END AS control,
  CASE WHEN b.ratio > 0.8 THEN CAST(FLOOR(b.ratio * 1000000) AS BIGINT) END AS score_ppm
FROM best b
JOIN part lp ON lp.p_partkey = b.rule_id
JOIN part rp ON rp.p_partkey = b.control_id"""
      }),

    // similarity search: brute-force cosine top-3 (exact baseline)
    QuerySpec("q_embedding_top3", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilaritySearch.bruteForceTopK(emb.filter(col("id") < 20), emb, 3)
        .select(col("query_id"), col("corpus_id"), ppm(col("score")).as("score_ppm"), col("rn"))
    },
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id cid, embedding cv FROM embeddings),
         s AS (SELECT qid, cid,
           list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
           (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            SQRT(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
           FROM q, c WHERE qid != cid)
         SELECT qid AS query_id, cid AS corpus_id,
           CAST(FLOOR(score * 1000000) AS BIGINT) AS score_ppm, rn
         FROM (SELECT qid, cid, score,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) rn FROM s)
         WHERE rn <= 3"""),

    // BM25 retrieval scoring against a literal query: one global stats agg
    // (N, Σdl, per-term df), broadcast, zero-shuffle scoring; per-term
    // contributions 1e-4-floor-quantized pre-sum
    QuerySpec("q_bm25", (s, d) => TfIdfMatch.bm25Scores(
      t(s, d, "documents"), "doc_id", "text", Seq("join", "hash", "window")),
      // BM25 replica: same tokenizer, same stats, same pinned float-op order
      // (dl/avgdl written (dl·N)/Σdl; per-term floor(idf·tfc·1e4) pre-sum)
      s"""WITH ${Bm25Osql.statsCtes}
          SELECT doc_id, dl AS n_tokens,
            ${Bm25Osql.scoreExpr}
            AS bm25_q4
          FROM b2 CROSS JOIN stats"""),

    // retrieve-then-rerank: BM25 top-50 via TakeOrdered, then the positional
    // rerank features (coverage / ordered-bigram adjacency / tf) computed
    // ONLY on the candidates through a broadcast join-back — the two-stage
    // retrieval shape that keeps expensive scoring off the corpus scan
    QuerySpec("q_bm25_rerank", (s, d) => TfIdfMatch.bm25Rerank(
      t(s, d, "documents"), "doc_id", "text", Seq("join", "hash", "window"),
      k = 50, m = 10),
      // rerank replica: the full q_bm25 chain → ORDER BY/LIMIT 50 candidates →
      // positional features over the candidate token lists (1-indexed
      // generate_series probe for ordered bigrams) → packed integer rerank key
      {
        val terms = Bm25Osql.terms
        val coverage = terms
          .map(t => s"CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END")
          .mkString(" + ")
        val adjacency = terms.sliding(2).map { bg =>
          s"""len(list_filter(generate_series(1, len(toks) - 1),
             i -> toks[i] = '${bg.head}' AND toks[i + 1] = '${bg(1)}'))"""
        }.mkString(" + ")
        val tfTotal = terms
          .map(t => s"len(list_filter(toks, x -> x = '$t'))").mkString(" + ")
        s"""WITH ${Bm25Osql.statsCtes},
          scored AS (SELECT doc_id, toks,
            ${Bm25Osql.scoreExpr}
            AS bm25_q4
          FROM b2 CROSS JOIN stats),
          cand AS (SELECT doc_id, toks, bm25_q4 FROM scored
            ORDER BY bm25_q4 DESC, doc_id LIMIT 50),
          feat AS (SELECT doc_id, bm25_q4,
            CAST($coverage AS BIGINT) AS coverage,
            least(999999::BIGINT, CAST($adjacency AS BIGINT)) AS adjacency,
            least(999999::BIGINT, CAST($tfTotal AS BIGINT)) AS tf_capped
          FROM cand),
          r AS (SELECT doc_id, bm25_q4, coverage, adjacency,
            coverage * 1000000000000::BIGINT + adjacency * 1000000::BIGINT
              + tf_capped AS rerank_q
          FROM feat)
          SELECT CAST(row_number() OVER (
              ORDER BY rerank_q DESC, bm25_q4 DESC, doc_id) AS BIGINT) AS rank,
            doc_id, bm25_q4, coverage, adjacency, rerank_q
          FROM r ORDER BY rerank_q DESC, bm25_q4 DESC, doc_id LIMIT 10"""
      }),

    // similarity search: LSH-bucketed ANN (scale path, multi-probe radius 1)
    QuerySpec("q_embedding_ann_lsh", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilaritySearch.lshTopK(emb.filter(col("id") < 20), emb, 3, dim = 64,
          bits = 4, probeHamming = 1)
        .select(col("query_id"), col("corpus_id"), ppm(col("score")).as("score_ppm"), col("rn"))
    },
      // Independent DuckDB recomputation of `SimilaritySearch.lshTopK`
      // (bits=4, multi-probe Hamming 1, k=3) over queries vec_id < 20.
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
${bucketCtes("42", tables = 1, bits = 4, dim = 64)},
qry AS (SELECT b.vec_id AS query_id, xor(b.bucket, m.m) AS bucket
  FROM bkt b CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m) m
  WHERE b.vec_id < 20),
cnd AS (SELECT q.query_id, c.vec_id AS corpus_id
  FROM qry q JOIN bkt c ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
${normCte(64)},
scored AS (SELECT n.query_id, n.corpus_id,
    ${cosExpr("eq.embedding", "ec.embedding", "nq.nn", "nc.nn", 64)} AS cos
  FROM cnd n JOIN emb eq ON eq.vec_id = n.query_id JOIN emb ec ON ec.vec_id = n.corpus_id
  JOIN nrm nq ON nq.vec_id = n.query_id JOIN nrm nc ON nc.vec_id = n.corpus_id),
rnk AS (SELECT query_id, corpus_id, cos,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rn
  FROM scored)
SELECT query_id, corpus_id, CAST(FLOOR(cos * 1000000) AS BIGINT) AS score_ppm, CAST(rn AS INT) AS rn
FROM rnk WHERE rn <= 3"""),

    // deterministic PLSA-EM topic matcher: the cross-engine-verifiable
    // sibling of q_topic_match (which keeps the reference's Spark ML LDA).
    // The full 5-iteration EM fit replays in DuckDB as an unrolled CTE chain
    QuerySpec("q_plsa_match", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TopicModel.plsaBestMatch(
          docs.filter(col("doc_id") < 50)
            .select(col("doc_id").as("id"), col("text")),
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 200)
            .select(col("doc_id").as("id"), col("text")))
        .select(col("left_id"), col("right_id"), ppm(col("score")).as("score_ppm"))
    },
      // Independent DuckDB replay of `TopicModel.plsaBestMatch` (k=10,
      // iters=5): the COMPLETE PLSA-EM fit — modular-pattern init, five exact
      // EM steps as an unrolled CTE chain over flat list-of-doubles state
      // (θ: doc-major width k; φ: topic-major width V), zero-row guard, and
      // the topic-space cosine argmax. Every sum is an ascending-order
      // list_reduce, matching the Scala fold order term for term, so the
      // learned topic mixtures are bit-identical cross-engine.
      {
        val k = 10
        val iters = 5
        s"""WITH d0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w\\w+') AS tk
  FROM documents WHERE doc_id < 200),
${plsaFitCtes(k, iters)},
emb AS (SELECT ids[di] AS id,
    list_transform(generate_series(0, ${k - 1}), z -> th[(di - 1) * $k + z + 1]) AS tv
  FROM (SELECT *, unnest(generate_series(1, dn)) AS di FROM i$iters)),
sc AS (SELECT l.id AS left_id, r.id AS right_id, ${plsaCos(k, "l.tv", "r.tv")} AS score
  FROM emb l CROSS JOIN emb r WHERE l.id < 50 AND r.id >= 50)
SELECT left_id, right_id, CAST(FLOOR(score * 1000000) AS BIGINT) AS score_ppm
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY score DESC, right_id) AS rn FROM sc)
WHERE rn = 1"""
      }),

    // the OVER-CAP PLSA plane (the 100-TB path): fitSampleLimit 64 < the
    // 200-doc corpus at every sf, so the fingerprint-sampled fit + the
    // distributed per-doc theta fold-in run here — and the oracle replays
    // the sampling chain, the sample fit, AND the fold-in independently
    QuerySpec("q_plsa_foldin", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.TopicModel.plsaBestMatch(
          docs.filter(col("doc_id") < 50)
            .select(col("doc_id").as("id"), col("text")),
          docs.filter(col("doc_id") >= 50 && col("doc_id") < 200)
            .select(col("doc_id").as("id"), col("text")),
          fitSampleLimit = 64)
        .select(col("left_id"), col("right_id"), ppm(col("score")).as("score_ppm"))
    },
      // Independent DuckDB replay of the OVER-CAP `plsaBestMatch` plane
      // (`fitSampleLimit` = cap < corpus — the 100-TB path): the fingerprint64
      // sample ranking (char-257 fold + splitmix64, signed order, id
      // tie-break — the q_group_sample chain), the joint EM fit on the sample
      // docs (same unrolled chain as q_plsa_match), then the distributed
      // per-doc theta fold-in — `iters` theta-only EM blocks against the
      // FITTED φ over ALL docs — as a dense flat-list replica. Zero-count
      // (doc, word) terms add an exact 0.0 to nonnegative partial sums, so
      // the dense w-ascending folds equal the Scala kernel's sparse
      // w-ascending folds bit for bit.
      {
        val k = 10
        val iters = 5
        val cap = 64
        val foldBlocks = (1 to iters).map { t =>
          val p = if (t == 1) "f0s" else s"g${t - 1}"
          s"""g${t}a AS (SELECT mf, dm, vn, jds, ph, tf,
  list_transform(generate_series(0, dm * vn - 1), i ->
    list_reduce(list_transform(generate_series(0, ${k - 1}), z ->
      tf[(i // vn) * $k + z + 1] * ph[z * vn + (i % vn) + 1]), (a, b) -> a + b)) AS dnm
  FROM $p),
g${t}b AS (SELECT *, list_transform(generate_series(0, dm * $k - 1), i ->
    list_reduce(list_transform(generate_series(0, vn - 1), w ->
      mf[(i // $k) * vn + w + 1] * tf[i + 1] * ph[(i % $k) * vn + w + 1] / dnm[(i // $k) * vn + w + 1]),
      (a, b) -> a + b)) AS tn
  FROM g${t}a),
g$t AS (SELECT mf, dm, vn, jds, ph,
  ${plsaNormed("tn", k.toString, "tf")} AS tf
  FROM g${t}b)"""
        }.mkString(",\n")
        s"""WITH h0 AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM documents WHERE doc_id < 200),
${Osql.mixCtes("h", "x")},
samp AS (SELECT doc_id FROM hd
  ORDER BY CAST(${Osql.signed("x")} AS BIGINT), doc_id LIMIT $cap),
d0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w\\w+') AS tk
  FROM documents WHERE doc_id IN (SELECT doc_id FROM samp)),
${plsaFitCtes(k, iters)},
e0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w\\w+') AS tk
  FROM documents WHERE doc_id < 200),
es AS (SELECT doc_id, tk, ROW_NUMBER() OVER (ORDER BY doc_id) AS dj FROM e0),
mrows AS (SELECT es.dj, vz.w, len(list_filter(es.tk, t -> t = vz.tok))::DOUBLE AS c
  FROM es CROSS JOIN vz),
fb AS (SELECT
  (SELECT list(c ORDER BY dj, w) FROM mrows) AS mf,
  (SELECT COUNT(*)::INTEGER FROM es) AS dm,
  (SELECT list(doc_id ORDER BY doc_id) FROM es) AS jds,
  vn, ph FROM i$iters),
f1 AS (SELECT *, list_transform(generate_series(0, dm * $k - 1), i ->
    1.0 + CAST((jds[i // $k + 1] * 31 + (i % $k) * 17) % 97 AS DOUBLE) / 1000.0) AS tfr
  FROM fb),
f0s AS (SELECT mf, dm, vn, jds, ph,
  ${plsaNormed("tfr", k.toString, "tfr")} AS tf
  FROM f1),
$foldBlocks,
emb AS (SELECT jds[dj] AS id,
    list_transform(generate_series(0, ${k - 1}), z -> tf[(dj - 1) * $k + z + 1]) AS tv
  FROM (SELECT *, unnest(generate_series(1, dm)) AS dj FROM g$iters)),
sc AS (SELECT l.id AS left_id, r.id AS right_id, ${plsaCos(k, "l.tv", "r.tv")} AS score
  FROM emb l CROSS JOIN emb r WHERE l.id < 50 AND r.id >= 50)
SELECT left_id, right_id, CAST(FLOOR(score * 1000000) AS BIGINT) AS score_ppm
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY score DESC, right_id) AS rn FROM sc)
WHERE rn = 1"""
      }),

    // learned-scorer matching (classifier_model.py): LR fit over
    // concatenated pair embeddings with cosine-threshold auto-labels
    // (0.2 here — the synthetic vectors are near-orthogonal, so the
    // reference's 0.8 would yield a single class; the operator default
    // stays 0.8). The fit is golden-pinned (LearnedMatchGoldenSpec); the
    // query EXPORTS the fitted model and the oracle replays the ENTIRE
    // inference plane — feature concat, (x-m)/sd scaling, the balanced
    // pairwise logit ADDITION TREE (Model.logit's contract — NOT a flat
    // left-assoc chain), the top-2 window — over the same doubles
    QuerySpec("q_learned_match", (s, d) => {
      val dir = exportDir("lr", sfTag(d))
      deleteDir(dir)
      val emb = t(s, d, "embeddings")
      val left = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val right = emb.filter(col("vec_id") >= 100 && col("vec_id") < 160)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val model = graft.operators.LearnedMatch.fit(left, right, threshold = 0.2)
      graft.operators.LearnedMatch.modelFrame(s, model)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
      graft.operators.LearnedMatch.rankPairs(
          graft.operators.LearnedMatch.scoredPairs(left, right, model), 2)
        .select(col("left_id"), col("right_id"),
          ppm(col("logit")).as("logit_ppm"), col("rn"))
    },
      // learned-scorer inference oracle: rebuilds every pair's concatenated
      // feature vector from the SOURCE embeddings table, applies the
      // exported scaler+LR model with the kernel's exact BALANCED PAIRWISE
      // addition tree (Model.logit deliberately avoids a left fold — a flat
      // chain rounds doubles differently AND trips DuckDB's expression-depth
      // limit), and replays the top-2 window — the whole inference plane
      // cross-engine, only the iterative fit golden-pinned
      // (LearnedMatchGoldenSpec)
      {
        // balanced pairwise addition tree, the kernel's exact contract (see
        // LearnedMatch.Model.logit): log2(128)=7 paren depth — a flat
        // left-assoc 128-term chain trips DuckDB's expression-depth limit
        def sumTree(ts: Seq[String]): String =
          if (ts.length == 1) ts.head
          else sumTree(ts.grouped(2).map(g =>
            if (g.length == 2) s"(${g(0)} + ${g(1)})" else g(0)).toSeq)
        val terms = sumTree((1 to 128).map { i =>
          val x = if (i <= 64) s"CAST(l.embedding[$i] AS DOUBLE)"
                  else s"CAST(r.embedding[${i - 64}] AS DOUBLE)"
          s"mo.w[$i] * (($x - mo.m[$i]) / mo.sd[$i])"
        })
        s"""WITH mo AS (
            SELECT list(w ORDER BY dim) AS w, list(m ORDER BY dim) AS m,
                   list(sd ORDER BY dim) AS sd, max(intercept) AS b
            FROM read_parquet('${exportDir("lr", "__SFHASH__")}/model/*.parquet')),
          scored AS (
            SELECT l.vec_id AS left_id, r.vec_id AS right_id,
              ($terms) + mo.b AS logit
            FROM embeddings l CROSS JOIN embeddings r CROSS JOIN mo
            WHERE l.vec_id < 20 AND r.vec_id >= 100 AND r.vec_id < 160),
          ranked AS (
            SELECT left_id, right_id, logit,
              ROW_NUMBER() OVER (PARTITION BY left_id
                ORDER BY logit DESC, right_id) AS rn
            FROM scored)
          SELECT left_id, right_id,
            CAST(floor(logit * 1000000) AS BIGINT) AS logit_ppm, rn
          FROM ranked WHERE rn <= 2"""
      }),

    // A7: Q-learning match fold (row-independent episode folds, broadcast
    // control side). The seeded RNG + IEEE-ordered update arithmetic make
    // the whole 200-episode learning process bit-replayable — the DuckDB
    // oracle re-runs it via a recursive CTE carrying the Q row as a list
    QuerySpec("q_qlearning_match", (s, d) => {
      val emb = t(s, d, "embeddings")
      QLearning.bestMatches(
          emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
            .select(col("vec_id").as("id"), col("embedding").as("vec")))
        .select(col("guideline_id"), col("control_id"),
          ppm(col("q_value")).as("q_ppm"), ppm(col("best_score")).as("score_ppm"))
    },
      // Independent DuckDB replay of `QLearning.bestMatches` (episodes=200,
      // lr=0.1, γ=0.9, ε=0.1, seed=0x51AB): the reward matrix (ordered-fold
      // cosines), the splitmix64 epsilon/action draws (HUGEINT arithmetic),
      // and the full 200-step Q fold — a RECURSIVE CTE carrying each
      // guideline's Q row as a DOUBLE list, with np.argmax's first-max-index
      // semantics via list_position(q, list_max(q)). Every update is IEEE
      // left-to-right in both engines, so the learned Q rows (and therefore
      // the argmax readout) are bit-identical.
      {
        val qUpd = "t.q[t.act] + 0.1*(t.rewards[t.act] + 0.9*t.mq - t.q[t.act])"
        s"""WITH RECURSIVE emb AS (SELECT vec_id, embedding FROM embeddings),
g AS (SELECT vec_id AS gid, embedding AS gv FROM emb
  WHERE vec_id < 20 AND embedding IS NOT NULL),
c AS (SELECT vec_id AS cid, embedding AS cv,
    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS ci
  FROM emb WHERE vec_id >= 100 AND vec_id < 130 AND embedding IS NOT NULL),
nc AS (SELECT COUNT(*)::HUGEINT AS n, COUNT(*)::INTEGER AS ni FROM c),
gn AS (SELECT gid, list_reduce(list_transform(generate_series(1, 64), i -> gv[i]::DOUBLE * gv[i]::DOUBLE), (a, b) -> a + b) AS nn FROM g),
cn AS (SELECT cid, list_reduce(list_transform(generate_series(1, 64), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (a, b) -> a + b) AS nn FROM c),
rw AS MATERIALIZED (SELECT g.gid, list(${cosExpr("g.gv", "c.cv", "gn.nn", "cn.nn", 64)} ORDER BY c.ci) AS rewards
  FROM g JOIN gn ON gn.gid = g.gid CROSS JOIN c JOIN cn ON cn.cid = c.cid
  GROUP BY g.gid),
r0 AS (SELECT gid, e, kind,
    xor(xor(20907::HUGEINT, ((gid * 2654435761)::HUGEINT) % ${Osql.Mod}), (2*e + kind)::HUGEINT) AS x
  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS e) es
  CROSS JOIN (SELECT unnest([0, 1]) AS kind) ks),
${Osql.mixCtes("r", "x")},
rnd AS MATERIALIZED (SELECT gid, e,
    MAX(CASE WHEN kind = 0 THEN (x // 2048::HUGEINT)::DOUBLE / 9007199254740992.0 END) AS u,
    MAX(CASE WHEN kind = 1 THEN CAST(x % (SELECT n FROM nc) AS INTEGER) END) AS ra
  FROM rd GROUP BY gid, e),
rec AS (
  SELECT gid, 0 AS e,
    list_transform(generate_series(1, (SELECT ni FROM nc)), i -> 0.0::DOUBLE) AS q FROM g
  UNION ALL
  SELECT t.gid, t.e + 1,
    list_transform(generate_series(1, (SELECT ni FROM nc)), i ->
      CASE WHEN i = t.act THEN $qUpd ELSE t.q[i] END) AS q
  FROM (
    SELECT rec.gid, rec.e, rec.q, w.rewards, list_max(rec.q) AS mq,
      CASE WHEN n.u < 0.1 THEN n.ra + 1
           ELSE CAST(list_position(rec.q, list_max(rec.q)) AS INTEGER) END AS act
    FROM rec JOIN rnd n ON n.gid = rec.gid AND n.e = rec.e
    JOIN rw w ON w.gid = rec.gid
    WHERE rec.e < 200) t),
fin AS (SELECT gid, q, CAST(list_position(q, list_max(q)) AS INTEGER) AS best
  FROM rec WHERE e = 200)
SELECT f.gid AS guideline_id, c.cid AS control_id,
  CAST(FLOOR(f.q[f.best] * 1000000) AS BIGINT) AS q_ppm,
  CAST(FLOOR(w.rewards[f.best] * 1000000) AS BIGINT) AS score_ppm
FROM fin f JOIN c ON c.ci = f.best JOIN rw w ON w.gid = f.gid"""
      }),

    // int8-quantized ANN sweep (4x corpus memory reduction): symmetric
    // per-vector quantization, integer dot/norm scoring — DuckDB replays
    // the quantizer AND the integer cosine exactly
    QuerySpec("q_embedding_quantized_top3", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilaritySearch.quantizedTopK(emb.filter(col("id") < 20), emb, 3)
        .select(col("query_id"), col("corpus_id"), ppm(col("score")).as("score_ppm"), col("rn"))
    },
      // int8 quantizer replica: per-vector scale = max|v|/127, floor(x+0.5)
      // clamp ±127, then exact integer dot/norm cosine
      """WITH sc AS (SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         FROM embeddings),
qz AS (SELECT vec_id,
    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0::BIGINT)
         ELSE list_transform(embedding, x ->
           CAST(GREATEST(-127.0, LEAST(127.0, FLOOR(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT)) END AS q
  FROM sc),
pr AS (SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
    list_reduce(list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i]), (x, y) -> x + y) AS dot,
    list_reduce(list_transform(generate_series(1, 64), i -> a.q[i] * a.q[i]), (x, y) -> x + y) AS na,
    list_reduce(list_transform(generate_series(1, 64), i -> b.q[i] * b.q[i]), (x, y) -> x + y) AS nb
  FROM qz a CROSS JOIN qz b WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
scd AS (SELECT query_id, corpus_id,
    CASE WHEN na = 0 OR nb = 0 THEN 0.0
         ELSE dot::DOUBLE / (SQRT(na::DOUBLE) * SQRT(nb::DOUBLE)) END AS score
  FROM pr)
SELECT query_id, corpus_id, CAST(FLOOR(score * 1000000) AS BIGINT) AS score_ppm,
  CAST(rn AS INT) AS rn
FROM (SELECT query_id, corpus_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rn FROM scd)
WHERE rn <= 3"""),

    // similarity search: IVF ANN (codegen'd one-pass list assignment, no
    // corpus shuffle). lloydIters = 0 keeps centroids = exact corpus vectors
    // (fingerprint-ranked medoid seeds), so DuckDB replays the ENTIRE
    // operator — seeding, assignment, probing, re-rank; the Lloyd-refined
    // path is recall-gated in DedupRecallSpec instead
    QuerySpec("q_embedding_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilaritySearch.ivfTopK(emb.filter(col("id") < 20), emb, 3,
          nlist = 16, nprobe = 4, lloydIters = 0)
        .select(col("query_id"), col("corpus_id"), ppm(col("score")).as("score_ppm"), col("rn"))
    },
      // Independent DuckDB replay of `SimilaritySearch.ivfTopK` at
      // lloydIters = 0 (nlist=16, nprobe=4, k=3): fingerprint-ranked medoid
      // seeding (the TextStats id-hash chain in HUGEINT arithmetic), one-pass
      // max-cosine list assignment with lowest-index ties, query probing, and
      // the exact cosine re-rank — the ENTIRE approximate operator is
      // recomputed cross-engine, not just its output schema.
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
e0 AS (SELECT vec_id, embedding,
  list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(CAST(vec_id AS VARCHAR), '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM emb),
${Osql.mixCtes("e", "x")},
efp AS (SELECT vec_id, embedding, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM ed),
cent AS (SELECT embedding AS centv,
    ROW_NUMBER() OVER (ORDER BY fp, vec_id) - 1 AS cluster,
    list_reduce(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (a, b) -> a + b) AS cn
  FROM (SELECT * FROM efp ORDER BY fp, vec_id LIMIT 16)),
${normCte(64)},
asn0 AS (SELECT e.vec_id AS corpus_id, e.embedding AS cv, n.nn AS cvn, c.cluster,
    ${cosExpr("e.embedding", "c.centv", "n.nn", "c.cn", 64)} AS s
  FROM emb e JOIN nrm n ON n.vec_id = e.vec_id CROSS JOIN cent c),
asn AS (SELECT corpus_id, cv, cvn, cluster FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY s DESC, cluster) AS arn FROM asn0)
  WHERE arn = 1),
qp AS (SELECT query_id, qv, qvn, cluster FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, n.nn AS qvn, c.cluster,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY ${cosExpr("e.embedding", "c.centv", "n.nn", "c.cn", 64)} DESC, c.cluster) AS crn
    FROM emb e JOIN nrm n ON n.vec_id = e.vec_id CROSS JOIN cent c WHERE e.vec_id < 20)
  WHERE crn <= 4),
sc AS (SELECT q.query_id, a.corpus_id,
    ${cosExpr("q.qv", "a.cv", "q.qvn", "a.cvn", 64)} AS cos
  FROM qp q JOIN asn a ON q.cluster = a.cluster WHERE q.query_id <> a.corpus_id)
SELECT query_id, corpus_id, CAST(FLOOR(cos * 1000000) AS BIGINT) AS score_ppm, CAST(rn AS INT) AS rn
FROM (SELECT query_id, corpus_id, cos,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rn FROM sc)
WHERE rn <= 3"""),

    // J8: scalar-query scored scan — one embedded query vs every row
    QuerySpec("q_scalar_query_scan", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      Matching.queryScan(
          emb.filter(col("vec_id") > 0).crossJoin(broadcast(q)),
          graft.expressions.VectorExpressions.float_cosine(col("embedding"), col("qv")))
        .select(col("vec_id"), ppm(col("score")).as("score_ppm"))
        .orderBy(desc("score_ppm"), col("vec_id")).limit(20)
    },
      """WITH q AS (SELECT embedding qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, CAST(FLOOR((
           list_sum(list_transform(list_zip(embedding, qv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
           (SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) * 1000000) AS BIGINT) AS score_ppm
         FROM embeddings, q WHERE vec_id > 0
         ORDER BY score_ppm DESC, vec_id LIMIT 20"""),

    // J9/A4: union-fit TF-IDF best match — exact-vocabulary variant (the
    // reference's TfidfVectorizer has no hashing either), DuckDB-oracled;
    // the HashingTF variant stays unit-tested as the dense-vector path
    QuerySpec("q_tfidf_match", (s, d) => {
      val doc = t(s, d, "documents").select(col("doc_id").as("id"), col("text"))
      graft.operators.TfIdfMatch.bestMatchExact(
        doc.filter(col("id") < 50), doc.filter(col("id") >= 50 && col("id") < 200))
    },
      // Independent DuckDB recomputation of `TfIdfMatch.bestMatchExact`: the
      // 1e-4 weight quantization makes every aggregate an exact integer, so the
      // two engines' sums cannot diverge by summation order.
      """WITH l AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 50),
r AS (SELECT doc_id AS id, text FROM documents WHERE doc_id >= 50 AND doc_id < 200),
lt AS (SELECT left_id, term, COUNT(*) AS tf FROM
  (SELECT id AS left_id, unnest(regexp_extract_all(lower(text), '\w\w+')) AS term FROM l)
  GROUP BY left_id, term),
rt AS (SELECT right_id, term, COUNT(*) AS tf FROM
  (SELECT id AS right_id, unnest(regexp_extract_all(lower(text), '\w\w+')) AS term FROM r)
  GROUP BY right_id, term),
nn AS (SELECT (SELECT COUNT(*) FROM l) + (SELECT COUNT(*) FROM r) AS n),
idf AS (SELECT term, ln(((SELECT n FROM nn) + 1.0) / (df + 1.0)) + 1.0 AS idf
  FROM (SELECT term, COUNT(*) AS df FROM
    (SELECT term FROM lt UNION ALL SELECT term FROM rt) GROUP BY term)),
lw AS (SELECT left_id, lt.term AS term, CAST(FLOOR(tf * idf * 10000) AS BIGINT) AS w
  FROM lt JOIN idf ON lt.term = idf.term),
rw AS (SELECT right_id, rt.term AS term, CAST(FLOOR(tf * idf * 10000) AS BIGINT) AS w
  FROM rt JOIN idf ON rt.term = idf.term),
nl AS (SELECT left_id, SUM(w * w) AS sl FROM lw GROUP BY left_id),
nr AS (SELECT right_id, SUM(w * w) AS sr FROM rw GROUP BY right_id),
dotp AS (SELECT left_id, right_id, SUM(lw.w * rw.w) AS dot
  FROM lw JOIN rw ON lw.term = rw.term GROUP BY left_id, right_id),
scored AS (SELECT d.left_id, d.right_id,
    CAST(FLOOR(d.dot::DOUBLE / (SQRT(nl.sl::DOUBLE) * SQRT(nr.sr::DOUBLE)) * 1000000) AS BIGINT) AS score_ppm
  FROM dotp d JOIN nl ON nl.left_id = d.left_id JOIN nr ON nr.right_id = d.right_id),
best AS (SELECT left_id, right_id, score_ppm,
    ROW_NUMBER() OVER (PARTITION BY left_id ORDER BY score_ppm DESC, right_id) AS rn FROM scored)
SELECT left_id, right_id, score_ppm FROM best WHERE rn = 1
UNION ALL
SELECT l.id AS left_id, (SELECT MIN(id) FROM r) AS right_id, CAST(0 AS BIGINT) AS score_ppm
FROM l WHERE l.id NOT IN (SELECT left_id FROM scored)"""),

    // J5: top-k per key, reversed sides (k=5, Top5_Albert.py:64)
    QuerySpec("q_top5_reversed", (s, d) => Matching.topKPerKey(
        t(s, d, "events").withColumn("score", col("value")),
        col("event_type"), 5, col("event_id"))
      .select(col("event_type"), col("event_id"), col("value"), col("rn")),
      """SELECT event_type, event_id, value, rn FROM (
           SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) rn
           FROM events) WHERE rn <= 5"""),

    // J6: group-wise head(1) after global sort (BERT_Finetuned.py:136)
    QuerySpec("q_group_head1", (s, d) => t(s, d, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(desc("value"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("event_id"), col("value")),
      """SELECT event_type, event_id, value FROM (
           SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) rn
           FROM events) WHERE rn = 1"""),

    // A4: LDA topic-space matcher (union-fit, k=10). The Spark ML fit is
    // not SQL-replayable (pinned instead by LdaGoldenSpec), so the query
    // EXPORTS the run's topic vectors and scores the readout FROM the
    // export; the oracle replays the cosine-argmax over the same exported
    // doubles with the loop's exact left-assoc i-ascending chain — the
    // whole scoring tail (cosine, argmax, tie order, ppm floor) is
    // cross-engine-checked, with only the fit itself golden-pinned.
    QuerySpec("q_topic_match", (s, d) => {
      val dir = exportDir("lda", sfTag(d))
      deleteDir(dir)
      val doc = t(s, d, "documents").select(col("doc_id").as("id"), col("text"))
      val (lv, rv) = graft.operators.TopicModel.topicEmbeds(
        doc.filter(col("id") < 30), doc.filter(col("id") >= 30 && col("id") < 120))
      lv.coalesce(1).write.mode("overwrite").parquet(s"$dir/lv")
      rv.coalesce(1).write.mode("overwrite").parquet(s"$dir/rv")
      graft.operators.TopicModel.bestTopicCosine(
          s.read.parquet(s"$dir/lv"), s.read.parquet(s"$dir/rv"))
        .select(col("left_id"), col("right_id"), ppm(col("score")).as("score_ppm"))
    },
      // LDA readout oracle: replays bestTopicCosine over the query's OWN
      // exported topic vectors (same doubles, parquet is exact for IEEE754).
      // The k=10 chains below are literal left-assoc i-ascending sums —
      // bit-identical to the Scala loop's dot/na/nb accumulators — so score,
      // argmax, tie order, and the ppm floor all replay exactly; only the ML
      // fit that PRODUCED the vectors stays golden-pinned (LdaGoldenSpec).
      // __SFHASH__ is substituted by Verify with this run's sf-dir hash.
      {
        val dot = (1 to 10).map(i => s"l.lv[$i]*r.rv[$i]").mkString(" + ")
        val na = (1 to 10).map(i => s"l.lv[$i]*l.lv[$i]").mkString(" + ")
        val nb = (1 to 10).map(i => s"r.rv[$i]*r.rv[$i]").mkString(" + ")
        s"""WITH s AS (
            SELECT l.left_id, r.right_id,
              CASE WHEN ($na) = 0.0 OR ($nb) = 0.0 THEN 0.0
                   ELSE ($dot) / (sqrt($na) * sqrt($nb)) END AS score
            FROM read_parquet('${exportDir("lda", "__SFHASH__")}/lv/*.parquet') l
            CROSS JOIN read_parquet('${exportDir("lda", "__SFHASH__")}/rv/*.parquet') r),
          ranked AS (
            SELECT left_id, right_id, score,
              ROW_NUMBER() OVER (PARTITION BY left_id
                ORDER BY score DESC, right_id) AS rn
            FROM s)
          SELECT left_id, right_id,
            CAST(floor(score * 1000000) AS BIGINT) AS score_ppm
          FROM ranked WHERE rn = 1"""
      }),
  )
}
