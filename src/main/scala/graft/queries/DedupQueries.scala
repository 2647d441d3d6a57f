package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TrainingData}
import QueryKit._

/** Duplicate detection and removal: exact and substring dedup, n-gram,
  * MinHash, SimHash and embedding near-dup, near-dup clusters and their
  * retention policy, conversation-level and incremental (snapshot-backed)
  * dedup, repeated-line and chunk dedup, document fingerprints. */
private[graft] object DedupQueries {

  /** Conversation near-dup fixture: the fsmrec60 transcripts plus a mutated
    * clone (suffix `_b`, one turn in seven dropped) of every third
    * conversation — deterministic re-rolled-conversation pairs at Jaccard
    * ≈ 6/7 over turn-hash sets. */
  private val ConvDup = new Fixture("convdup", (s, path) => {
    val base = s.read.parquet(FsmRec60(s))
    val clones = base
      .filter(substring(col("conv_id"), -2, 2).cast("int") % 3 === 0)
      .filter(col("turn_idx") % 7 =!= 3)
      .withColumn("conv_id", concat(col("conv_id"), lit("_b")))
    base.unionByName(clones).repartition(8)
      .write.mode("overwrite").parquet(path)
  })

  /** Whitespace-token stream of `documents.text`, lowercased (TextStats.wsTokens). */
  private def tokCte: String =
    """toks AS (
  SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS tok
  FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> '')"""

  /** Per-token hash64 → 64 bit votes → signed simhash per document
    * (`Dedup.simHashNearDup`'s signature, CTE `sims(doc_id, sim)`). */
  private def simhashCtes: String =
    s"""$tokCte,
tb AS (SELECT doc_id, ${Osql.utf8Bytes("tok")} AS bytes FROM toks),
m0 AS (SELECT doc_id, ${Osql.fnv("bytes")} AS x FROM tb),
${Osql.mixCtes("m", "x")},
votes AS (SELECT doc_id, gs.b AS b,
    SUM(CASE WHEN (x // (1::HUGEINT << gs.b)) % 2 = 1 THEN 1 ELSE -1 END) AS acc
  FROM md CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) gs
  GROUP BY doc_id, gs.b),
simu AS (SELECT doc_id, SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
  FROM votes GROUP BY doc_id),
sims AS (SELECT d.doc_id AS doc_id,
    CAST(${Osql.signed("COALESCE(s.u, 0::HUGEINT)")} AS BIGINT) AS sim
  FROM documents d LEFT JOIN simu s ON d.doc_id = s.doc_id)"""

  /** The full MinHash signature/banding/verify replica, parameterized by
    * the candidate-pair predicate — shared by the self-join near-dup
    * oracle and the incremental (new-batch vs history) variant. */
  private def minhashPairsSql(pairPred: String, leftName: String,
                              rightName: String): String =
    s"""WITH tl AS (
  SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS toks
  FROM documents WHERE regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
sh AS (SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shingle
  FROM tl),
tb AS (SELECT doc_id, shingle, ${Osql.utf8Bytes("shingle")} AS bytes FROM sh),
fnv0 AS (SELECT doc_id, shingle, ${Osql.fnv("bytes")} AS x FROM tb),
${Osql.mixCtes("fnv", "x")},
bh AS (SELECT doc_id, x AS h FROM fnvd),
mh0 AS (SELECT doc_id, gs.i AS i,
    xor(h, (gs.i::HUGEINT * 11400714819323198485::HUGEINT) % ${Osql.Mod}) AS x
  FROM bh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) gs),
${Osql.mixCtes("mh", "x")},
sigs AS (SELECT doc_id, i, MIN(${Osql.signed("x")}) AS sig_s FROM mhd GROUP BY doc_id, i),
sigu AS (SELECT doc_id, i,
    (CASE WHEN sig_s < 0 THEN sig_s + ${Osql.Mod} ELSE sig_s END)::HUGEINT AS sig FROM sigs),
bk00 AS (SELECT a.doc_id, a.i // 2 AS band_idx,
    xor(xor(14695981039346656037::HUGEINT, (a.i // 2)::HUGEINT), a.sig) AS x
  FROM sigu a WHERE a.i % 2 = 0),
${Osql.mixCtes("bk0", "x")},
bk10 AS (SELECT k.doc_id, k.band_idx, xor(k.x, s.sig) AS x
  FROM bk0d k JOIN sigu s ON s.doc_id = k.doc_id AND s.i = k.band_idx * 2 + 1),
${Osql.mixCtes("bk1", "x")},
bk AS (SELECT doc_id, band_idx, x AS band_key FROM bk1d),
cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM bk l JOIN bk r ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND ($pairPred)),
sets AS (SELECT DISTINCT doc_id, h FROM bh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sets GROUP BY doc_id),
inter AS (SELECT c.left_id, c.right_id, COUNT(*) AS it
  FROM cand c JOIN sets a ON a.doc_id = c.left_id JOIN sets b ON b.doc_id = c.right_id AND a.h = b.h
  GROUP BY c.left_id, c.right_id),
jac AS (SELECT c.left_id, c.right_id,
    COALESCE(i.it, 0)::DOUBLE / (nl.n + nr.n - COALESCE(i.it, 0)) AS j
  FROM cand c LEFT JOIN inter i ON i.left_id = c.left_id AND i.right_id = c.right_id
  JOIN sizes nl ON nl.doc_id = c.left_id JOIN sizes nr ON nr.doc_id = c.right_id)
SELECT left_id AS $leftName, right_id AS $rightName,
  CAST(FLOOR(j * 1000000) AS BIGINT) AS jaccard_ppm
FROM jac WHERE j >= 0.35"""

  def specs: Seq[QuerySpec] = Seq(

    // Dedup (exact): canonical representative per identical text
    QuerySpec("q_dedup_exact", (s, d) => Dedup.exact(t(s, d, "documents"), "text", "doc_id")
      .select(col("keep_id"), col("dup_count"), length(col("text")).as("text_len")),
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count, LENGTH(text) AS text_len
         FROM documents GROUP BY text"""),

    // Dedup (exact substring): corpus-duplicated spans of length >= 32,
    // hashed-gram shuffle (scale path); oracle recomputes with raw grams
    QuerySpec("q_dup_substrings", (s, d) => Dedup.duplicateSpans(
      t(s, d, "documents"), "doc_id", "text", k = 32, hashGrams = true),
      """WITH pts AS (
           SELECT doc_id AS id, text,
                  CAST(unnest(range(0, greatest(length(text)-32+1, 0))) AS INT) AS pos
           FROM documents),
         g AS (SELECT id, pos, substr(text, pos+1, 32) AS gram FROM pts),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         cov AS (SELECT id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
         brk AS (
           SELECT id, pos,
                  CASE WHEN prev IS NULL OR pos - prev > 32 THEN 1 ELSE 0 END AS b
           FROM (SELECT id, pos,
                        lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
                 FROM cov)),
         isl AS (SELECT id, pos,
                        sum(b) OVER (PARTITION BY id ORDER BY pos) AS island
                 FROM brk)
         SELECT id, CAST(min(pos) AS INT) AS start,
                CAST(max(pos) + 32 AS INT) AS "end"
         FROM isl GROUP BY id, island"""),

    // apply side of q_dup_substrings: rebuild docs with duplicated spans cut
    QuerySpec("q_dup_substrings_removed", (s, d) => Dedup.removeDuplicateSpans(
      t(s, d, "documents"), "doc_id", "text", k = 32, hashGrams = true),
      """WITH pts AS (
           SELECT doc_id AS id, text,
                  CAST(unnest(range(0, greatest(length(text)-32+1, 0))) AS INT) AS pos
           FROM documents),
         g AS (SELECT id, pos, substr(text, pos+1, 32) AS gram FROM pts),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         cov AS (SELECT id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
         brk AS (
           SELECT id, pos,
                  CASE WHEN prev IS NULL OR pos - prev > 32 THEN 1 ELSE 0 END AS b
           FROM (SELECT id, pos,
                        lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
                 FROM cov)),
         isl AS (SELECT id, pos,
                        sum(b) OVER (PARTITION BY id ORDER BY pos) AS island
                 FROM brk),
         spans AS (SELECT id, min(pos) AS s, max(pos) + 32 AS e
                   FROM isl GROUP BY id, island),
         mids AS (SELECT id,
                         coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS seg_start,
                         s AS seg_end
                  FROM spans),
         tails AS (SELECT id, max(e) AS seg_start, 2147483647 AS seg_end
                   FROM spans GROUP BY id),
         segs AS (SELECT * FROM mids UNION ALL SELECT * FROM tails),
         cut AS (
           SELECT segs.id, seg_start,
                  substr(d.text, seg_start+1,
                         greatest(0, least(seg_end, length(d.text)) - seg_start)) AS seg
           FROM segs JOIN documents d ON d.doc_id = segs.id
           WHERE seg_end > seg_start),
         reb AS (SELECT id, string_agg(seg, '' ORDER BY seg_start) AS cleaned
                 FROM cut GROUP BY id)
         SELECT d.doc_id AS id, coalesce(reb.cleaned, d.text) AS cleaned,
                CAST(length(d.text) - length(coalesce(reb.cleaned, d.text)) AS BIGINT) AS removed
         FROM documents d LEFT JOIN reb ON reb.id = d.doc_id"""),

    // dedup (n-gram Jaccard within blocks): exact-integer similarity output
    QuerySpec("q_jaccard_pairs", (s, d) => Dedup.ngramJaccardPairs(
        t(s, d, "documents"), "text", "doc_id", "source", 0.35)
      .select(col("left_id"), col("right_id"), ppm(col("jaccard")).as("jaccard_ppm")),
      """WITH s AS (SELECT doc_id, source,
             list_distinct(list_filter(
               string_split_regex(TRIM(LOWER(text)), '[\s\x0B]+'), t -> t <> '')) AS toks
           FROM documents)
         SELECT l.doc_id AS left_id, r.doc_id AS right_id,
           CAST(FLOOR((CAST(LEN(list_intersect(l.toks, r.toks)) AS DOUBLE) /
             (LEN(l.toks) + LEN(r.toks) - LEN(list_intersect(l.toks, r.toks)))) * 1000000) AS BIGINT) AS jaccard_ppm
         FROM s l JOIN s r ON l.source = r.source AND l.doc_id < r.doc_id
         WHERE CAST(LEN(list_intersect(l.toks, r.toks)) AS DOUBLE) /
           (LEN(l.toks) + LEN(r.toks) - LEN(list_intersect(l.toks, r.toks))) >= 0.35"""),

    // conversation-level near-dup: Jaccard over turn-hash sets, blocked on
    // a shared exact turn, df-capped stop-shingles, integer threshold
    QuerySpec("q_conv_neardup", (s, d) =>
      Dedup.convNearDup(s.read.parquet(ConvDup(s)),
        thrPpm = 600000L, dfCap = 40),
      s"""WITH t AS (
            SELECT DISTINCT conv_id, md5(text) AS th
            FROM read_parquet('${ConvDup.path}/*.parquet')
            WHERE text IS NOT NULL),
          keep AS (
            SELECT conv_id, th FROM (
              SELECT conv_id, th, COUNT(*) OVER (PARTITION BY th) AS df
              FROM t)
            WHERE df <= 40),
          sz AS (SELECT conv_id, COUNT(*) AS n FROM keep GROUP BY conv_id),
          c AS (
            SELECT l.conv_id AS cid1, r.conv_id AS cid2, COUNT(*) AS inter
            FROM keep l JOIN keep r
              ON l.th = r.th AND l.conv_id < r.conv_id
            GROUP BY 1, 2)
          SELECT cid1, cid2, inter, s1.n AS n1, s2.n AS n2
          FROM c
          JOIN sz s1 ON c.cid1 = s1.conv_id
          JOIN sz s2 ON c.cid2 = s2.conv_id
          WHERE inter * 1000000 >= (s1.n + s2.n - inter) * 600000"""),

    // incremental exact dedup: documents split into two "daily" batches
    // (even ids, then odd ids), each committed through
    // Dedup.incrementalExact — in-batch keep-min, fingerprint anti-join
    // against the snapshot table, tagged delta append (replays are no-ops,
    // so re-running this query is idempotent). Emits the table's final
    // (survivor id, content fingerprint) rows. Bump the v1 suffix if the
    // dedup semantics ever change — committed tags pin the old content.
    QuerySpec("q_incremental_dedup", (s, d) => {
      // the table path hashes the SOURCE FILE metadata too: committed tags
      // make replays no-ops, so a regenerated documents.parquet at the same
      // sf path would otherwise keep serving the OLD table's rows while the
      // oracle recomputes from the new data
      val srcMeta = {
        val f = new java.io.File(s"$d/documents.parquet")
        s"${f.length()}_${f.lastModified()}"
      }
      val table = s"${graft.SparkEntry.ScratchDir}/increm_v1_${sfTag(d + srcMeta)}/docs"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalExact(docs.filter(col("doc_id") % 2 === 0),
        table, "doc_id", "text", "day-0")
      Dedup.incrementalExact(docs.filter(col("doc_id") % 2 === 1),
        table, "doc_id", "text", "day-1")
      graft.sources.Snapshot.read(s, table).select(col("doc_id"), col("fp"))
    },
      // incremental-dedup replica: fingerprint64 per doc, then per fp group
      // the day-0 (even-id) minimum wins if the fp appeared on day 0, else
      // the day-1 minimum — exactly the anti-join batch order
      s"""WITH f0 AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(text, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM documents),
${Osql.mixCtes("f", "x")},
fp AS (SELECT doc_id, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM fd)
SELECT COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END), MIN(doc_id)) AS doc_id,
  fp
FROM fp GROUP BY fp"""),

    // incremental NEAR-dup: even-id docs seed the signature table, odd-id
    // docs arrive as the next batch; emits that batch's (new, dup_of,
    // jaccard) pairs. The table is rebuilt from scratch each run (tag
    // replay would otherwise return the empty set on a re-run)
    QuerySpec("q_incremental_neardup", (s, d) => {
      val dir = freshScratch("incnd_v1", d)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalNearDup(docs.filter(col("doc_id") % 2 === 0),
        s"$dir/sigs", "doc_id", "text", "day-0", threshold = 0.35).count()
      Dedup.incrementalNearDup(docs.filter(col("doc_id") % 2 === 1),
        s"$dir/sigs", "doc_id", "text", "day-1", threshold = 0.35)
        .select(col("new_id"), col("dup_of"), ppm(col("jaccard")).as("jaccard_ppm"))
    },
      // incremental near-dup replica: same signature/band/verify chain, but
      // candidates are (odd new-batch doc, even history doc) pairs
      minhashPairsSql(
      "l.doc_id % 2 = 1 AND r.doc_id % 2 = 0", "new_id", "dup_of")),

    // SemDeDup: semantic dedup inside IVF clusters (keep the member
    // farthest from its centroid; all cosines ppm-floored)
    QuerySpec("q_semdedup", (s, d) => {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      // nlist ∝ corpus size (≈64 vectors/cluster) keeps the per-cluster
      // self-join linear in n — the docstring's scale rule, now enacted
      // instead of a hardcoded 16; integer formula replayed by the oracle
      val nlist = math.max(16L, (emb.count() + 63L) / 64L).toInt
      graft.operators.Dedup.semDedup(emb, "vec_id", "embedding",
        nlist = nlist, thresholdPpm = 300000L)
    },
      // Independent DuckDB replay of `Dedup.semDedup` (nlist=16, t=0.3):
      // fingerprint-ranked seeds, max-cosine assignment, within-cluster
      // dominance rule — the same chain as q_embedding_ann_ivf's oracle plus the
      // ppm-floored keep-low-centroid-similarity pair filter.
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
nl AS (SELECT GREATEST(16, (COUNT(*) + 63) // 64) AS nlist FROM emb),
e0 AS (SELECT vec_id, embedding,
  list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(CAST(vec_id AS VARCHAR), '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM emb),
${Osql.mixCtes("e", "x")},
efp AS (SELECT vec_id, embedding, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM ed),
cent AS (SELECT embedding AS centv, rn - 1 AS cluster,
    list_reduce(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (a, b) -> a + b) AS cn
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY fp, vec_id) AS rn FROM efp)
  WHERE rn <= (SELECT nlist FROM nl)),
${normCte(64)},
asn0 AS (SELECT e.vec_id AS id, e.embedding AS cv, n.nn AS cvn, c.cluster,
    ${cosExpr("e.embedding", "c.centv", "n.nn", "c.cn", 64)} AS s
  FROM emb e JOIN nrm n ON n.vec_id = e.vec_id CROSS JOIN cent c),
asn AS (SELECT id, cv, cvn, CAST(cluster AS INTEGER) AS cluster,
    CAST(FLOOR(s * 1000000) AS BIGINT) AS ccos_ppm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cluster) AS arn FROM asn0)
  WHERE arn = 1),
drp AS (SELECT DISTINCT l.id AS id
  FROM asn l JOIN asn r ON l.cluster = r.cluster AND l.id <> r.id
  WHERE CAST(FLOOR(${cosExpr("l.cv", "r.cv", "l.cvn", "r.cvn", 64)} * 1000000) AS BIGINT) >= 300000
    AND (r.ccos_ppm < l.ccos_ppm OR (r.ccos_ppm = l.ccos_ppm AND r.id < l.id)))
SELECT a.id, a.cluster, a.ccos_ppm,
  CASE WHEN d.id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM asn a LEFT JOIN drp d ON a.id = d.id"""),

    // LLM-pipeline: cross-document repeated-line removal (the CCNet/
    // RefinedWeb boilerplate-line pass) over transcript turns
    QuerySpec("q_repeated_lines", (s, d) => Dedup.repeatedLines(
        slimTable(s, Slim150).withColumn("id",
          concat_ws("#", col("conv_id"), col("turn_idx"))),
        "text", "id")
      .select(col("id"), col("cleaned"), col("dropped")),
      s"""WITH t AS (SELECT conv_id || '#' || turn_idx AS id, text
  FROM read_parquet('${Slim150.path}/*.parquet')),
lines AS (SELECT id,
    unnest(string_split(text, chr(10))) AS line,
    unnest(generate_series(0, len(string_split(text, chr(10))) - 1)) AS li
  FROM t),
hot AS (SELECT trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) AS norm FROM lines WHERE trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) <> ''
  GROUP BY trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) HAVING COUNT(DISTINCT id) >= 2),
kept AS (SELECT id, li, line FROM lines
  WHERE trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) = '' OR trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) NOT IN (SELECT norm FROM hot)),
agg AS (SELECT id, string_agg(line, chr(10) ORDER BY li) AS cleaned FROM kept GROUP BY id),
drp AS (SELECT id, COUNT(*) AS dropped FROM lines
  WHERE trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) <> '' AND trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12)) IN (SELECT norm FROM hot) GROUP BY id)
SELECT t.id, COALESCE(a.cleaned, '') AS cleaned, COALESCE(p.dropped, 0) AS dropped
FROM t LEFT JOIN agg a ON a.id = t.id LEFT JOIN drp p ON p.id = t.id"""),

    // dedup: MinHash+LSH near-dup candidates (verified jaccard)
    QuerySpec("q_minhash_lsh", (s, d) => Dedup.minHashLsh(
        t(s, d, "documents"), "text", "doc_id", threshold = 0.35)
      .select(col("left_id"), col("right_id"), ppm(col("jaccard")).as("jaccard_ppm")),
      // Independent DuckDB recomputation of `Dedup.minHashLsh` (k=3 shingles,
      // 16 hashes, 8 bands, threshold 0.35): shingle base hashes → signed minima
      // per seed → banded keys (mix-fold) → candidate equi-join → exact
      // shingle-set Jaccard verify. Replicates the BANDING too, so candidate
      // misses on either side would surface as row-count mismatches.
      minhashPairsSql("l.doc_id < r.doc_id", "left_id", "right_id")),

    // dedup: SimHash near-dup (pigeonhole bands — exact recall within maxHamming)
    QuerySpec("q_simhash_neardup", (s, d) => Dedup.simHashNearDup(
        t(s, d, "documents"), "text", "doc_id", maxHamming = 3),
      // Independent DuckDB recomputation: the simhash signatures, then
      // BRUTE-FORCE all-pairs Hamming ≤ 3 — which also re-proves the
      // pigeonhole bands' exact-recall claim cross-engine (the Spark side
      // only examines banded candidates).
      s"""WITH $simhashCtes
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
  CAST(bit_count(xor(l.sim, r.sim)) AS INT) AS hamming
FROM sims l JOIN sims r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.sim, r.sim)) <= 3"""),

    // dedup: embedding-cosine near-dup (multi-table hyperplane LSH; the 0.3
    // threshold matches this corpus's similarity regime — 8 tables × 2 bits
    // gives measured recall ≥ 0.9 there, see DedupRecallSpec)
    QuerySpec("q_embedding_neardup", (s, d) => Dedup.embeddingNearDup(
        t(s, d, "embeddings"), "embedding", "vec_id", dim = 64,
        bits = 2, tables = 8, threshold = 0.3)
      .select(col("left_id"), col("right_id"), ppm(col("cos")).as("cos_ppm")),
      // Independent DuckDB recomputation of `Dedup.embeddingNearDup` (8 tables
      // × 2 bits, threshold 0.3) including the LSH blocking itself.
      s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
${bucketCtes("42 + 1000 * t.tbl", tables = 8, bits = 2, dim = 64)},
cand AS (SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
  FROM bkt l JOIN bkt r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
${normCte(64)},
scored AS (SELECT c.left_id, c.right_id,
    ${cosExpr("el.embedding", "er.embedding", "nl.nn", "nr.nn", 64)} AS cos
  FROM cand c JOIN emb el ON el.vec_id = c.left_id JOIN emb er ON er.vec_id = c.right_id
  JOIN nrm nl ON nl.vec_id = c.left_id JOIN nrm nr ON nr.vec_id = c.right_id)
SELECT left_id, right_id, CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_ppm
FROM scored WHERE cos >= 0.3"""),

    // document fingerprint (custom codegen'd 64-bit rolling-hash Expression)
    QuerySpec("q_fingerprint", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp")),
      """WITH h AS (
  SELECT doc_id,
    list_reduce(
      list_prepend(0::HUGEINT,
        list_transform(regexp_extract_all(text, '(?s).'), c -> ord(c)::HUGEINT)),
      (a, b) -> (a * 257::HUGEINT + b) % 18446744073709551616::HUGEINT) AS h0
  FROM documents),
s1 AS (SELECT doc_id, (h0 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS x FROM h),
s2 AS (SELECT doc_id, ((xor(x, x // 1073741824::HUGEINT) * 484763065::HUGEINT + ((xor(x, x // 1073741824::HUGEINT) * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS x FROM s1),
s3 AS (SELECT doc_id, ((xor(x, x // 134217728::HUGEINT) * 321982955::HUGEINT + ((xor(x, x // 134217728::HUGEINT) * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS x FROM s2),
s4 AS (SELECT doc_id, xor(x, x // 2147483648::HUGEINT) AS x FROM s3)
SELECT doc_id,
  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT) AS fp
FROM s4"""),

    // sub-document chunk dedup over a corpus with injected clone docs
    // (keep-first = min(struct) hash-agg, skew-safe; see TrainingData)
    QuerySpec("q_chunk_dedup", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      TrainingData.chunkDedup(
        docs.unionAll(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "doc_id", "text", chunkTokens = 25)
    },
      """WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         md5(array_to_string(toks[(i*25+1):(i*25+25)], ' ')) AS chunk_hash
  FROM base, unnest(generate_series(0, ((len(toks)+24)//25) - 1)) u(i)),
ranked AS (SELECT doc_id, chunk_idx, chunk_hash,
    row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks)
SELECT doc_id, chunk_idx, chunk_hash FROM ranked WHERE rn = 1"""),

    // near-dup cluster assignment: connected components over simhash pairs
    // (iterative min-label propagation to the exact fixpoint)
    QuerySpec("q_neardup_clusters", (s, d) => Dedup.nearDupClusters(
      Dedup.simHashNearDup(t(s, d, "documents"), "text", "doc_id")),
      // Connected components over the simhash pair graph: DuckDB recomputes the
      // signatures AND the pairs, then derives each node's component as the min
      // id reachable via a recursive closure — independently re-deriving what
      // Spark computes by iterative min-label propagation.
      s"""WITH RECURSIVE $simhashCtes,
pairs AS MATERIALIZED (
  SELECT l.doc_id AS left_id, r.doc_id AS right_id
  FROM sims l JOIN sims r ON l.doc_id < r.doc_id
  WHERE bit_count(xor(l.sim, r.sim)) <= 3),
edges AS MATERIALIZED (SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL SELECT right_id, left_id FROM pairs),
nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r)
SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id"""),

    // retention policy over those clusters: keep the longest member of each
    // duplicate cluster (ties → lowest id) + every unclustered doc; emits
    // ALL ids with the kept verdict (corpus filter + removal telemetry)
    QuerySpec("q_neardup_keep", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.keepBestPerCluster(docs,
        Dedup.nearDupClusters(Dedup.simHashNearDup(docs, "text", "doc_id")),
        "doc_id", col("n_chars"))
    },
      // Retention-policy replica: the q_neardup_clusters closure plus
      // the keep rule — rank clustered members by (n_chars desc, doc_id asc),
      // rank 1 kept; unclustered docs kept with a NULL cluster.
      s"""WITH RECURSIVE $simhashCtes,
pairs AS MATERIALIZED (
  SELECT l.doc_id AS left_id, r.doc_id AS right_id
  FROM sims l JOIN sims r ON l.doc_id < r.doc_id
  WHERE bit_count(xor(l.sim, r.sim)) <= 3),
edges AS MATERIALIZED (SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL SELECT right_id, left_id FROM pairs),
nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r),
comp AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
clustered AS (
  SELECT d.doc_id, c.cluster, d.n_chars AS keep_score,
    (row_number() OVER (PARTITION BY c.cluster
       ORDER BY d.n_chars DESC, d.doc_id ASC)) = 1 AS kept
  FROM documents d JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, cluster, keep_score, kept FROM clustered
UNION ALL
SELECT d.doc_id, NULL AS cluster, d.n_chars AS keep_score, true AS kept
FROM documents d ANTI JOIN comp c ON d.doc_id = c.doc_id"""),
  )
}
