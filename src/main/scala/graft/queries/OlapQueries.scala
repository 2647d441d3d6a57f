package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TrainingData
import QueryKit._

/** Relational analytics over the sf tables: aggregation, rollup and pivot,
  * partition pruning, joins, windows (sessions, first/top rows, running
  * flags, as-of), SQL string functions and JSON extraction. */
private[graft] object OlapQueries {

  /** Hive-partitioned layout of the sf documents table (partition column =
    * lang), sf-keyed: the q_partition_pruned input demonstrating directory
    * pruning on the partition predicate. */
  private def partitionedDocs(d: String): Fixture =
    new Fixture(s"docs_bylang_${sfTag(d)}", (s, path) =>
      s.read.parquet(s"$d/documents.parquet")
        .write.mode("overwrite").partitionBy("lang").parquet(path))

  def specs: Seq[QuerySpec] = Seq(

    // A1/A2: hash aggregation with exact-integer outputs
    QuerySpec("q_agg_pricing", (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(lit(1)).as("cnt"),
        floor(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))) * 100)
          .cast("long").as("revenue_cents")),
      """SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
         COUNT(*) AS cnt,
         CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) * 100) AS BIGINT) AS revenue_cents
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // partition pruning: documents laid out Hive-partitioned by lang; the
    // lang predicate becomes a PartitionFilter — non-matching directories
    // are never listed, the 100-TB-scan primitive for partitioned lakes
    QuerySpec("q_partition_pruned", (s, d) => s.read
      .parquet(partitionedDocs(d)(s))
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars")),
      // partition-pruning replica: the layout is content-preserving, so the
      // oracle reads the ORIGINAL table with the same predicate
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang = 'en' GROUP BY source"""),

    // OLAP rollup: subtotal lattice over (returnflag, linestatus) with
    // grouping_id to disambiguate the NULL subtotal rows — one pass, the
    // same partial-aggregatable shape as the flat agg
    QuerySpec("q_rollup_pricing", (s, d) => t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping_id().cast("long").as("gid")),
      // rollup replica: GROUPING() bits composed exactly like Spark's
      // grouping_id (first grouping column = most significant bit)
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS cnt,
         CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    // OLAP pivot: per-source language mix as columns — expressed as
    // conditional aggregation (the portable, engine-neutral plan: one
    // hash-agg, no transpose operator needed)
    QuerySpec("q_pivot_lang", (s, d) => t(s, d, "documents")
      .groupBy(col("source"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("lang") === "de", 1L).otherwise(0L)).as("n_de"),
        sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("n_fr"),
        sum(when(!col("lang").isin("en", "de", "fr"), 1L).otherwise(0L)).as("n_other"),
        count(lit(1)).as("n_docs")),
      """SELECT source,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
         CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
         CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr') THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
         COUNT(*) AS n_docs
         FROM documents GROUP BY source"""),

    // P1/P4/P7: predicate + projection (pushed to the parquet scan)
    QuerySpec("q_filter_project", (s, d) => t(s, d, "documents")
      .filter(col("text").contains("spark") && col("n_chars") > 200)
      .select(col("doc_id"), col("lang"), col("n_chars")),
      "SELECT doc_id, lang, n_chars FROM documents WHERE text LIKE '%spark%' AND n_chars > 200"),

    // X9/O3: first-match-and-stop → row_number over event time
    QuerySpec("q_first_event_per_user", (s, d) => t(s, d, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event"),
        col("ts").cast("timestamp").cast("long").as("ts_epoch")),
      """SELECT user_id, event_id AS first_event, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch FROM (
           SELECT user_id, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
           FROM events) WHERE rn = 1"""),

    // Sessionization (gaps-and-islands): per-user sessions split at >30-min
    // gaps, summarized per session — one window pass + one hash agg
    QuerySpec("q_sessionize", (s, d) => graft.operators.Sessionize
      .sessionSummary(t(s, d, "events"), "user_id", "ts", "event_id", 1800L)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("t_start").cast("timestamp").cast("long").as("start_epoch"),
        col("t_end").cast("timestamp").cast("long").as("end_epoch")),
      // exact-microsecond gap arithmetic, mirroring byGap (a floored
      // whole-second replica under-splits sub-second streams)
      """WITH o AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         b AS (SELECT user_id, event_id, ts, us,
                      CASE WHEN prev IS NOT NULL AND us - prev > 1800000000
                           THEN 1 ELSE 0 END AS brk FROM o),
         s AS (SELECT user_id, us,
                      sum(brk) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
               FROM b)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                COUNT(*) AS n_events,
                CAST(min(us)//1000000 AS BIGINT) AS start_epoch,
                CAST(max(us)//1000000 AS BIGINT) AS end_epoch
         FROM s GROUP BY user_id, session_idx"""),

    // Sessionization (native session_window agg — same code path in
    // Structured Streaming); windows merge at <= gap, split strictly > gap
    QuerySpec("q_session_window", (s, d) => graft.operators.Sessionize
      .sessionWindows(t(s, d, "events"), "user_id", "ts", 1800L)
      .select(col("user_id"),
        col("w_start").cast("timestamp").cast("long").as("w_start_epoch"),
        col("w_end").cast("timestamp").cast("long").as("w_end_epoch"),
        col("n_events")),
      """WITH o AS (
           SELECT user_id, ts, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         b AS (SELECT user_id, ts, us,
                      CASE WHEN prev IS NOT NULL AND us - prev > 1800000000
                           THEN 1 ELSE 0 END AS brk FROM o),
         s AS (SELECT user_id, us,
                      sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
               FROM b)
         SELECT user_id, CAST(min(us)//1000000 AS BIGINT) AS w_start_epoch,
                CAST((max(us)+1800000000)//1000000 AS BIGINT) AS w_end_epoch,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sid"""),

    // X11: stateful capture flag as running-max window
    QuerySpec("q_capture_flag", (s, d) => t(s, d, "events")
      .withColumn("flag", max(when(col("event_type") === "purchase", 1).otherwise(0))
        .over(Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("flag") === 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("events_after_first_purchase")),
      """SELECT user_id, COUNT(*) AS events_after_first_purchase FROM (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag
           FROM events) WHERE flag = 1 GROUP BY user_id"""),

    // O4: union-by-name concat
    QuerySpec("q_union_concat", (s, d) => {
      val doc = t(s, d, "documents")
      doc.filter(col("lang") === "en").select(col("doc_id"), col("lang"), col("source"))
        .unionByName(doc.filter(col("lang") === "fr")
          .select(col("doc_id"), col("lang"), col("source")))
    },
      """SELECT doc_id, lang, source FROM documents WHERE lang = 'en'
         UNION ALL SELECT doc_id, lang, source FROM documents WHERE lang = 'fr'"""),

    // O1/O2: global top-k with unique tiebreak
    QuerySpec("q_global_topk", (s, d) => t(s, d, "events")
      .orderBy(desc("value"), col("event_id")).limit(10)
      .select(col("event_id"), col("user_id"), col("value")),
      "SELECT event_id, user_id, value FROM events ORDER BY value DESC, event_id LIMIT 10"),

    // J3-ish equi join + aggregation
    QuerySpec("q_join_agg", (s, d) => t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), floor(sum(col("o_totalprice").cast("decimal(18,4)")) * 100)
        .cast("long").as("total_cents")),
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100) AS BIGINT) AS total_cents
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"""),

    // broadcast dim join (small side explicitly broadcast)
    QuerySpec("q_dim_join_count", (s, d) => t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").filter(col("p_size") < 10)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).cast("long").as("sum_qty")),
      """SELECT p_brand, COUNT(*) AS n_lines, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size < 10 GROUP BY p_brand"""),

    // X1-ish: first regex extraction per row
    QuerySpec("q_regex_extract_first", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), regexp_extract(col("text"), "\\b(b[a-z]+)\\b", 1).as("first_b")),
      "SELECT doc_id, COALESCE(regexp_extract(text, '\\b(b[a-z]+)\\b', 1), '') AS first_b FROM documents"),

    // X5/X6: findall count per row
    QuerySpec("q_regex_count_hits", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\b(data|join)\\b"), lit(1))).as("n_hits")),
      "SELECT doc_id, LEN(regexp_extract_all(text, '\\b(data|join)\\b', 1)) AS n_hits FROM documents"),

    // X2-ish: marker-delimited slice via split_part (first piece before marker)
    QuerySpec("q_split_slice", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(expr("split_part(text, ' scan ', 1)"), 1, 40).as("head40")),
      "SELECT doc_id, SUBSTRING(split_part(text, ' scan ', 1), 1, 40) AS head40 FROM documents"),

    // X10: first-N-words key
    QuerySpec("q_first_words_key", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), concat_ws(" ",
        expr("split_part(text, ' ', 1)"), expr("split_part(text, ' ', 2)")).as("key2")),
      """SELECT doc_id, CONCAT_WS(' ', split_part(text, ' ', 1), split_part(text, ' ', 2)) AS key2
         FROM documents"""),

    // JSON prop extraction (events.props is a JSON string)
    QuerySpec("q_json_props", (s, d) => t(s, d, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"),

    // as-of join: latest click at-or-before each purchase per user —
    // union-tag + ONE running-last window, no range cross product
    QuerySpec("q_asof_attrib", (s, d) => {
      val ev = t(s, d, "events")
      val us = (c: Column) => unix_micros(c.cast("timestamp"))
      graft.operators.AsOfJoin.asOf(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", Seq("value"))
        .select(col("event_id"), col("user_id"), us(col("ts")).as("ts_us"),
          col("asof_event_id"), col("asof_value"),
          us(col("asof_ts")).as("asof_ts_us"),
          (us(col("ts")) - us(col("asof_ts"))).as("gap_us"))
    },
      // as-of replica: DuckDB's NATIVE ASOF LEFT JOIN — an independent
      // algorithm (sort-merge as-of) replaying the same contract: inclusive
      // l.ts >= r.ts, right side pre-deduped per (user, ts) by greatest
      // event_id (arg_max == the Spark struct-max)
      """WITH r AS (SELECT user_id, ts, max(event_id) AS click_id,
    arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
  r.click_id AS asof_event_id, r.click_value AS asof_value,
  epoch_us(r.ts) AS asof_ts_us,
  epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""),

    // exact per-source size quantiles: integer-arithmetic discrete
    // definition (rn*1e6 >= n*p), no float interpolation anywhere
    QuerySpec("q_len_quantiles", (s, d) => TrainingData.exactQuantiles(
      t(s, d, "documents"), "source", col("n_chars"),
      Seq(250000, 500000, 900000, 990000)),
      // exact integer quantiles: same rank/count window + rn*1e6 >= n*p rule
      """WITH r AS (SELECT source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n FROM documents)
         SELECT source, CAST(MAX(n) AS BIGINT) AS n,
           MIN(CASE WHEN rn * 1000000 >= n * 250000 THEN n_chars END) AS q250000,
           MIN(CASE WHEN rn * 1000000 >= n * 500000 THEN n_chars END) AS q500000,
           MIN(CASE WHEN rn * 1000000 >= n * 900000 THEN n_chars END) AS q900000,
           MIN(CASE WHEN rn * 1000000 >= n * 990000 THEN n_chars END) AS q990000
         FROM r GROUP BY source"""),

    // tumbling 1-hour windows over events (same plan shape as the
    // streaming path, exact-cent sums)
    QuerySpec("q_tumbling_counts", (s, d) => TrainingData.tumblingCounts(
      t(s, d, "events"), "user_id", "ts", col("value"), "1 hour"),
      // tumbling windows: date_trunc buckets == Spark's epoch-aligned
      // window() for exact-hour widths; money in exact cents
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS w0, value FROM events)
         SELECT user_id,
           CAST(epoch_ms(w0) / 1000 AS BIGINT) AS w_start_epoch,
           CAST(epoch_ms(w0 + INTERVAL 1 HOUR) / 1000 AS BIGINT) AS w_end_epoch,
           COUNT(*) AS n_events,
           CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,4))) * 100) AS BIGINT) AS sum_cents
         FROM b GROUP BY user_id, w0"""),

    // A5: mean-pool embedding per label — posexplode + hash-agg on
    // (label, dim): never materializes a group (VERDICT r1 #6: the
    // collect_list formulation OOMs on a hot label at scale). Per-element
    // micro-unit flooring makes the sums exact integers, order-independent,
    // and engine-portable; the mean is sum_micro/cnt.
    QuerySpec("q_meanpool_by_label", (s, d) => t(s, d, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 1000000L).cast("long")).as("sum_micro"),
        count(lit(1)).as("cnt")),
      """SELECT label, CAST(dim AS INTEGER) AS dim,
           SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT))::BIGINT AS sum_micro,
           COUNT(*) AS cnt
         FROM (SELECT label, unnest(embedding) AS v,
                 unnest(generate_series(0, LEN(embedding) - 1)) AS dim
               FROM embeddings)
         GROUP BY label, dim"""),
  )
}
