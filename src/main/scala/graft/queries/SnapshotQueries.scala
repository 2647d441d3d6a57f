package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.sources.{Snapshot, Xlsx}
import QueryKit._

/** The snapshot table format (upsert, delete, manifest pruning, z-order,
  * metadata-only stats, incremental reads), the exactly-once streaming sink,
  * and the JSONL, ORC and xlsx sink-and-source roundtrips. Each oracle
  * recomputes the final content straight from the sf tables. */
private[graft] object SnapshotQueries {

  def specs: Seq[QuerySpec] = Seq(

    // JSONL sink+source roundtrip: the query WRITES documents as JSON lines
    // then reads them back; the oracle computes the same projection from
    // the parquet source directly, so any escape/encoding corruption in
    // the JSON path breaks the content fingerprints
    QuerySpec("q_jsonl_roundtrip", (s, d) => {
      // sf-dir-keyed path: unlike the constant-content fixtures, this one is
      // a function of `d` — a shared path could be clobbered by a concurrent
      // Verify/Bench over a different sf dir between write and read-back
      val path = s"${SparkEntry.FixtureDir}/jsonl_docs_${sfTag(d)}"
      t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
        .repartition(4).write.mode("overwrite").json(path)
      s.read.schema("doc_id LONG, text STRING, lang STRING").json(path)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars_rt"),
          graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"))
    },
      // JSONL roundtrip oracle: computed from the PARQUET source — it never
      // sees the intermediate JSON, so equality proves the roundtrip
      s"""WITH f0 AS (SELECT doc_id, lang,
    CAST(length(text) AS BIGINT) AS n_chars_rt, text,
    list_reduce(list_prepend(0::HUGEINT,
      list_transform(regexp_extract_all(text, '(?s).'), c -> ord(c)::HUGEINT)),
    (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM documents),
${Osql.mixCtes("f", "x")}
SELECT doc_id, lang, n_chars_rt, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM fd"""),

    // ORC sink + source roundtrip (the other columnar interchange format,
    // bundled with Spark): same content-fingerprint proof as the JSONL
    // roundtrip — the oracle computes from the PARQUET source only, so a
    // corrupting write or read would hash-mismatch
    QuerySpec("q_orc_roundtrip", (s, d) => {
      val path = s"${SparkEntry.FixtureDir}/orc_docs_${sfTag(d)}"
      t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
        .repartition(4).write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars_rt"),
          graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"))
    },
      // ORC roundtrip: same parquet-source-only replica as the JSONL one
      s"""WITH o0 AS (SELECT doc_id, lang,
    CAST(length(text) AS BIGINT) AS n_chars_rt, text,
    list_reduce(list_prepend(0::HUGEINT,
      list_transform(regexp_extract_all(text, '(?s).'), c -> ord(c)::HUGEINT)),
    (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM documents),
${Osql.mixCtes("o", "x")}
SELECT doc_id, lang, n_chars_rt, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM od"""),

    // keyed snapshot MERGE (copy-on-write upsert): day-0 commits all docs,
    // day-1 upserts modified versions of id%5==0 docs plus brand-new
    // +1000000-offset rows; only touched chunks rewrite, the rest hard-link.
    // Table rebuilt each run (the upsert is version-additive, a re-run on a
    // stale table would double-apply)
    QuerySpec("q_snapshot_upsert", (s, d) => {
      val dir = freshScratch("upsert_v1", d)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Snapshot.write(docs, s"$dir/docs", "doc_id", 16)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Snapshot.upsert(batch, s"$dir/docs", tag = "day-1")
      Snapshot.read(s, s"$dir/docs")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"))
    },
      // snapshot-upsert oracle: the merge computed directly from the source
      // table — update-in-place for id%5==0, original otherwise, +1000000
      // clones for id%7==0 — then the fingerprint chain over the final text
      s"""WITH merged AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
            FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
          u0 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
            list_reduce(list_prepend(0::HUGEINT,
              list_transform(regexp_extract_all(text, '(?s).'),
                c -> ord(c)::HUGEINT)),
              (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
          FROM merged),
          ${Osql.mixCtes("u", "x")}
          SELECT doc_id, n_chars, CAST(${Osql.signed("x")} AS BIGINT) AS fp
          FROM ud"""),

    // keyed snapshot DELETE (right-to-be-forgotten): purge id%9==0 docs;
    // only their chunks rewrite, the rest hard-link — oracle is the
    // complement select
    QuerySpec("q_snapshot_delete", (s, d) => {
      val dir = freshScratch("del_v1", d)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Snapshot.write(docs, s"$dir/docs", "doc_id", 16)
      Snapshot.deleteKeys(
        docs.filter(col("doc_id") % 9 === 0).select(col("doc_id")),
        s"$dir/docs", tag = "purge")
      Snapshot.read(s, s"$dir/docs")
        .select(col("doc_id"),
          graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"))
    },
      // snapshot-delete oracle: the complement select + fingerprint chain
      s"""WITH dl0 AS (SELECT doc_id,
            list_reduce(list_prepend(0::HUGEINT,
              list_transform(regexp_extract_all(text, '(?s).'),
                c -> ord(c)::HUGEINT)),
              (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
          FROM documents WHERE doc_id % 9 <> 0),
          ${Osql.mixCtes("dl", "x")}
          SELECT doc_id, CAST(${Osql.signed("x")} AS BIGINT) AS fp FROM dld"""),

    // manifest-level data skipping: one snapshot write + four delta appends,
    // one per event_type, so every data file carries a SINGLE event_type in
    // its manifest stats; readWhere prunes non-matching files from the
    // manifest alone (no footer, no listing) and re-applies the predicate
    // as the residual filter — pruning must be output-invisible, so the
    // oracle is the plain WHERE over the source table
    QuerySpec("q_snapshot_prune", (s, d) => {
      val dir = freshScratch("prune_v1", d)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val types = Seq("click", "error", "purchase", "signup", "view")
      Snapshot.write(
        ev.filter(col("event_type") === types.head), s"$dir/events", "user_id", 4)
      types.tail.foreach(ty => Snapshot.append(
        ev.filter(col("event_type") === ty), s"$dir/events", "user_id", 4,
        tag = s"t-$ty"))
      Snapshot.readWhere(s, s"$dir/events",
        col("event_type").isin("purchase", "signup") && col("value") >= 10.0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          ppm(col("value")).as("value_ppm"))
    },
      // data-skipping oracle: the plain WHERE over the source table — file
      // pruning must be invisible in the output
      """SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000000) AS BIGINT) AS value_ppm
         FROM events
         WHERE event_type IN ('purchase', 'signup') AND value >= 10.0"""),

    // metadata-only incremental consumption: three "daily" commits split by
    // event_id residue; readAppended(0) must return exactly the rows days 1
    // and 2 added — a pure manifest file-set diff, no scan of day 0 —
    // matching the residue predicate over the source table
    QuerySpec("q_snapshot_incr", (s, d) => {
      val dir = freshScratch("incr_v1", d)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"))
      Snapshot.write(
        ev.filter(pmod(col("event_id"), lit(3)) === 0), s"$dir/ev", "user_id", 4)
      (1 to 2).foreach(day => Snapshot.append(
        ev.filter(pmod(col("event_id"), lit(3)) === day), s"$dir/ev", "user_id", 4,
        tag = s"day-$day"))
      Snapshot.readAppended(s, s"$dir/ev", 0)
    },
      // incremental-consumption oracle: the day-1/day-2 residue rows straight
      // from the source — the file-set diff must return exactly these
      """SELECT event_id, user_id FROM events
         WHERE event_id % 3 IN (1, 2)"""),

    // §2.9 streaming sink D-coverage: the exactly-once StreamingSnapshot
    // commit path driven by a REAL Structured Streaming query (file source,
    // maxFilesPerTrigger=1 → one tagged delta per staged slice), then a
    // crash-replay of batch 0 (must be a tag no-op — a double-commit would
    // duplicate rows and hash-mismatch) and one late batch via the
    // appendBatch primitive. The oracle recomputes the final table content
    // straight from the source events table, so the sink's exactly-once
    // row set gets a cross-engine check, not just a unit assertion.
    QuerySpec("q_stream_commits", (s, d) => {
      val dir = freshScratch("stream_v1", d)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), ppm(col("value")).as("value_ppm"))
      def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(5)) === r)
      // stage two arrival slices as single-file parquet drops
      slice(0).coalesce(1).write.parquet(s"$dir/in/s0")
      slice(1).coalesce(1).write.parquet(s"$dir/in/s1")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(s"$dir/in")
      val q = graft.streaming.StreamingSnapshot.sink(
        stream, s"$dir/table", s"$dir/ckpt", "event_type", 4)
      try q.processAllAvailable() finally q.stop()
      // at-least-once redelivery of a committed batch: tag makes it a no-op
      graft.streaming.StreamingSnapshot.appendBatch(
        slice(0), s"$dir/table", 0L, "event_type", 4)
      // a genuinely new late batch commits one more tagged delta
      graft.streaming.StreamingSnapshot.appendBatch(
        slice(2), s"$dir/table", 99L, "event_type", 4)
      Snapshot.read(s, s"$dir/table")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value_ppm"))
    },
      // streaming-sink oracle: the exactly-once committed content is exactly
      // the three arrival slices, no dup (replayed batch 0) and no loss
      """SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000000) AS BIGINT) AS value_ppm
         FROM events WHERE event_id % 5 IN (0, 1, 2)"""),

    // S5/S7 sheet addressing: write one three-sheet workbook (two nation
    // slices + region, the reference's real sheet names — Similarity.py:28
    // 'MCL', text_preprocessing3.py:3 'Guidelines+Description'), then read
    // it back via sheet_name=None (all sheets) AND a named-sheet read, and
    // emit the full readback content. The oracle recomputes the identical
    // rows straight from the parquet source, so the whole roundtrip —
    // stringify → _xHHHH_/XML escape → zip → workbook.xml+rels-resolved
    // parse — must be byte-lossless and the addressing exact.
    QuerySpec("q_xlsx_sheets", (s, d) => {
      val dir = freshScratch("xlsx_v1", d)
      val guide = t(s, d, "nation").orderBy(col("n_nationkey"))
        .select(col("n_nationkey").cast("string").as("k"), col("n_name").as("v"))
      val mcl = t(s, d, "region").orderBy(col("r_regionkey"))
        .select(col("r_regionkey").cast("string").as("k"), col("r_name").as("v"))
      val extra = t(s, d, "nation").filter(col("n_regionkey") < 2)
        .orderBy(col("n_nationkey"))
        .select(col("n_name").as("k"), col("n_regionkey").cast("string").as("v"))
      Xlsx.writeSheets(Seq(
        "Guidelines+Description" -> guide, "MCL" -> mcl, "Ensure Extra" -> extra),
        s"$dir/book.xlsx")
      val all = Xlsx.readAllSheets(s, s"$dir/*.xlsx")
        .filter(col("row_idx") > 0)
        .select(col("sheet"), col("row_idx").cast("long").as("row_idx"),
          concat_ws("\u0001", col("cells")).as("line"))
      val named = Xlsx.readSheet(s, s"$dir/*.xlsx", "MCL")
        .filter(col("row_idx") > 0)
        .select(lit("named:MCL").as("sheet"),
          col("row_idx").cast("long").as("row_idx"),
          concat_ws("\u0001", col("cells")).as("line"))
      all.union(named)
    },
      // xlsx sheet-addressing oracle: the workbook content recomputed straight
      // from the source tables — readback must be byte-identical (the MCL
      // sheet appears twice: once via the all-sheets read, once via the
      // named-sheet read)
      """WITH guide AS (SELECT 'Guidelines+Description' AS sheet,
              CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT) AS row_idx,
              CAST(n_nationkey AS VARCHAR) || chr(1) || n_name AS line
            FROM nation),
          mcl AS (SELECT 'MCL' AS sheet,
              CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS BIGINT) AS row_idx,
              CAST(r_regionkey AS VARCHAR) || chr(1) || r_name AS line
            FROM region),
          extra AS (SELECT 'Ensure Extra' AS sheet,
              CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT) AS row_idx,
              n_name || chr(1) || CAST(n_regionkey AS VARCHAR) AS line
            FROM nation WHERE n_regionkey < 2)
          SELECT sheet, row_idx, line FROM guide
          UNION ALL SELECT sheet, row_idx, line FROM mcl
          UNION ALL SELECT sheet, row_idx, line FROM extra
          UNION ALL SELECT 'named:MCL' AS sheet, row_idx, line FROM mcl"""),

    // z-order clustered snapshot: files cut from the Morton-sorted run
    // carry tight min/max on BOTH user_id and event_id, so the readWhere
    // rectangle prunes on both dimensions — output must still equal the
    // plain WHERE over the source
    QuerySpec("q_snapshot_zorder", (s, d) => {
      val dir = freshScratch("zord_v1", d)
      graft.GraftExtensions.registerOn(s)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"))
      Snapshot.write(ev, s"$dir/ev", "event_type", 2,
        clusterBy = Seq("zorder2(user_id, event_id)"), rowsPerFile = 500)
      Snapshot.readWhere(s, s"$dir/ev",
        col("user_id") < 100L && col("event_id") >= 2000L)
    },
      // z-order oracle: two-dimensional pruning must be output-invisible
      """SELECT event_id, user_id, event_type FROM events
         WHERE user_id < 100 AND event_id >= 2000"""),

    // metadata-only table stats surfaced as a one-row result: count/min/
    // max/null-count come from the manifest ALONE (no scan) and must match
    // the oracle's full aggregation over the source
    QuerySpec("q_snapshot_stats", (s, d) => {
      val dir = freshScratch("tstat_v1", d)
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"))
      Snapshot.write(
        ev.filter(col("event_id") % 2 === 0), s"$dir/ev", "user_id", 4)
      Snapshot.append(
        ev.filter(col("event_id") % 2 === 1), s"$dir/ev", "user_id", 4, tag = "odd")
      val (rows, cols) = Snapshot.tableStats(s"$dir/ev")
      def l(c: String, f: Snapshot.ColumnStats => Any): Long =
        f(cols(c)).asInstanceOf[Long]
      def str(c: String, f: Snapshot.ColumnStats => Any): String =
        f(cols(c)).asInstanceOf[String]
      import s.implicits._
      Seq((rows, l("event_id", _.min.get), l("event_id", _.max.get),
        l("user_id", _.min.get), l("user_id", _.max.get),
        str("event_type", _.min.get), str("event_type", _.max.get),
        cols("event_type").nulls))
        .toDF("n_rows", "min_eid", "max_eid", "min_uid", "max_uid",
          "min_type", "max_type", "null_types")
    },
      // metadata-only stats oracle: the full aggregation the manifest fold
      // must reproduce without opening a data file
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                min(event_id) AS min_eid, max(event_id) AS max_eid,
                min(user_id) AS min_uid, max(user_id) AS max_uid,
                min(event_type) AS min_type, max(event_type) AS max_type,
                CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_types
         FROM events"""),
  )
}
