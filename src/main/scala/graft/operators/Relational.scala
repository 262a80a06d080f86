package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.ExtractPipeline

/** Relational operator inventory (SURVEY §2.2-§2.9) expressed over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle. Every entry
  * demonstrates one reference operator class in idiomatic Catalyst;
  * floating aggregates are rounded (4 dp) so the cross-engine hash
  * compare is insensitive to summation order.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** name → (spark impl, duckdb oracle sql) */
  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ── headline aggregation (A1/A3-class: partial+final hash agg) ──
    ("q1_agg", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }: DataFrame, Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // ── P1/P3/P11: trim/empty filter + canonicalize projection ──────
    ("p1_filter_trim", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0 && col("n_chars") > 200)
        .select(col("doc_id"), upper(trim(col("lang"))).as("lang_uc"), col("n_chars"))
    }: DataFrame, Some("""
      SELECT doc_id, upper(trim(lang)) AS lang_uc, n_chars
      FROM documents WHERE length(trim(text)) > 0 AND n_chars > 200""")),

    // ── P2: fix_diameter regex (lookaround in Spark; equivalent group
    //    rewrite in RE2-based DuckDB) ───────────────────────────────
    ("p2_fix_diameter", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(
            concat(lit("dia O"), (col("doc_id") % 10).cast("string"),
              lit(" O"), (col("doc_id") % 7).cast("string"), lit("x OZ")),
            "(?<=\\s)O(?=\\d)", "Ø").as("fixed"))
    }: DataFrame, Some("""
      SELECT doc_id,
             regexp_replace('dia O' || CAST(doc_id % 10 AS VARCHAR) ||
                            ' O' || CAST(doc_id % 7 AS VARCHAR) || 'x OZ',
                            '(\s)O([0-9])', '\1Ø\2', 'g') AS fixed
      FROM documents""")),

    // ── P6: quantity regex predicate over a JSON-ish field ──────────
    ("p6_qty_valid", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k"))
        .withColumn("valid", col("k").rlike("^\\d+$"))
    }: DataFrame, Some("""
      SELECT event_id, k, regexp_matches(k, '^\d+$') AS valid
      FROM (SELECT event_id,
              coalesce(regexp_extract(props, '"k": (\d+)', 1), '') AS k
            FROM events)""")),

    // ── P8: drawing-number extraction from pdf URLs (case-insensitive)
    ("p8_drawing_extract", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "part")
        .select(col("p_partkey"),
          concat(lit("/files/"), col("p_name"),
            when(col("p_partkey") % 2 === 0, ".pdf").otherwise(".PDF")).as("url"))
        .withColumn("drawing_number",
          ExtractPipeline.drawingNumberCol(col("url")))
    }: DataFrame, Some("""
      SELECT p_partkey, url,
             coalesce(regexp_extract(url, '(?i)/([^/]+)\.pdf$', 1), '') AS drawing_number
      FROM (SELECT p_partkey,
              '/files/' || p_name ||
              CASE WHEN p_partkey % 2 = 0 THEN '.pdf' ELSE '.PDF' END AS url
            FROM part)""")),

    // ── P10: confidence bucketing (two-threshold CASE) ──────────────
    ("p10_conf_bucket", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "lineitem")
        .withColumn("conf", col("l_quantity") / 50.0)
        .withColumn("bucket",
          when(col("conf") >= 0.95, "High")
            .when(col("conf") >= 0.8, "Medium").otherwise("Low"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }: DataFrame, Some("""
      SELECT CASE WHEN l_quantity / 50.0 >= 0.95 THEN 'High'
                  WHEN l_quantity / 50.0 >= 0.8 THEN 'Medium'
                  ELSE 'Low' END AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1""")),

    // ── P10 variant: the Streamlit app's threshold set (0.9/0.8,
    //    app.py:35-41) — the reference ships TWO bucketing scales; the
    //    frontend's 0.95/0.8 is p10_conf_bucket above ────────────────
    ("p10b_conf_bucket_app", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "lineitem")
        .withColumn("conf", col("l_quantity") / 50.0)
        .withColumn("bucket",
          when(col("conf") >= 0.9, "High")
            .when(col("conf") >= 0.8, "Medium").otherwise("Low"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }: DataFrame, Some("""
      SELECT CASE WHEN l_quantity / 50.0 >= 0.9 THEN 'High'
                  WHEN l_quantity / 50.0 >= 0.8 THEN 'Medium'
                  ELSE 'Low' END AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1""")),

    // ── O4: top-1 per group with tie-break (rating desc, name asc) ──
    ("o4_top1_per_group", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_name").asc)
      Fn.table(s, dir, "supplier")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("s_nationkey"), col("s_name"), col("s_acctbal"))
    }: DataFrame, Some("""
      SELECT s_nationkey, s_name, s_acctbal FROM (
        SELECT s_nationkey, s_name, s_acctbal,
               row_number() OVER (PARTITION BY s_nationkey
                                  ORDER BY s_acctbal DESC, s_name ASC) AS rn
        FROM supplier) WHERE rn = 1""")),

    // ── A2: exact upper median sorted[n//2] per group ───────────────
    // Two-pass k-th selection, NOT a per-group row sort: with ~5 event
    // types, row_number().over(partitionBy(event_type)) serializes the
    // whole table into ≤5 sort tasks — a scale-killer at 100×. Instead:
    // (1) value-histogram via a fully parallel hash aggregate (the only
    // pass over the rows; `value` is 2-dp-quantized so the histogram is
    // bounded ≈ type_count × value_range × 100 regardless of row count;
    // a continuous column would get an explicit quantize + bucket
    // re-scan here), (2) cumulative pick over the tiny histogram —
    // upper median = smallest value whose cumulative count reaches
    // rank floor(n/2)+1. The event_id tie-break of the sort form is
    // value-irrelevant: equal-rank rows share the value.
    ("a2_upper_median", (s: SparkSession, dir: String) => {
      val hist = Fn.table(s, dir, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      val totals = hist.groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc)
      hist
        .withColumn("cum", sum(col("c")).over(w))
        .join(broadcast(totals), Seq("event_type"))
        .withColumn("target", floor(col("n") / 2) + 1)
        .filter(col("cum") >= col("target") && (col("cum") - col("c")) < col("target"))
        .select(col("event_type"), col("value").as("upper_median"))
    }: DataFrame, Some("""
      SELECT event_type, value AS upper_median FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events) WHERE rn = CAST(floor(n / 2) AS INT) + 1""")),

    // ── A3: ordered text-join aggregate per group ───────────────────
    ("a3_text_join", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("l_linenumber"), col("l_returnflag")))),
            x => x.getField("l_returnflag")), " ").as("flags"))
    }: DataFrame, Some("""
      SELECT l_orderkey,
             string_agg(l_returnflag, ' '
                        ORDER BY l_linenumber, l_returnflag) AS flags
      FROM lineitem GROUP BY l_orderkey""")),

    // ── A7: distinct-set accumulation, canonical order ──────────────
    ("a7_collect_set", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(array_join(array_sort(collect_set(col("c_nationkey").cast("string"))), ",")
          .as("nations"))
    }: DataFrame, Some("""
      SELECT c_mktsegment,
             string_agg(k, ',' ORDER BY k) AS nations
      FROM (SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS VARCHAR) AS k
            FROM customer) GROUP BY c_mktsegment""")),

    // ── A8 (engine-scope extension): distinct-count SKETCH via linear
    //    counting — hash each key into m=1024 buckets, count occupied
    //    buckets per group; estimate = -m·ln(empty_fraction). The
    //    sketch pass is two codegen'd hash-aggs whose state is bounded
    //    by m PER GROUP regardless of corpus size — the at-scale
    //    answer when exact count(distinct) (a full shuffle of every
    //    distinct key) is too expensive. The md5 bucket hash makes the
    //    sketch DETERMINISTIC, so the oracle replays it bit-exactly —
    //    unlike HLL, whose engine-specific hashing can only be
    //    range-checked. The query also emits the exact count so the
    //    driver verifies both paths; at 100 TB you would emit only the
    //    sketch columns. ln() lives in the accuracy SPEC, not the
    //    query: the emitted columns stay integer-exact cross-engine. ──
    ("a8_linear_count", (s: SparkSession, dir: String) => {
      val m = 1024L
      val ev = Fn.table(s, dir, "events")
      val bucket = pmod(Fn.md5Prefix32(
        concat(lit("lc:"), col("user_id").cast("string"))), lit(m))
      val occ = ev.select(col("event_type"), bucket.as("b")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("occupied"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      occ.join(exact, Seq("event_type"))
        .select(col("event_type"), lit(m).as("m"),
          col("occupied"), col("exact_distinct"))
    }: DataFrame, Some(s"""
      WITH b AS (
        SELECT DISTINCT event_type,
               ${Fn.sqlHash32Expr("'lc:' || CAST(user_id AS VARCHAR)")} % 1024 AS bkt
        FROM events),
      occ AS (SELECT event_type, count(*) AS occupied FROM b GROUP BY 1),
      ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
             FROM events GROUP BY 1)
      SELECT o.event_type, CAST(1024 AS BIGINT) AS m, o.occupied,
             ex.exact_distinct
      FROM occ o JOIN ex USING (event_type)""")),

    // ── A9 (engine-scope extension): EXACT interpolated percentiles
    //    per group — Spark's `percentile` and DuckDB's `quantile_cont`
    //    implement the same linear-interpolation definition, verified
    //    identical at 4 dp. Scale note: the exact aggregate buffers the
    //    per-group value multiset, which is fine when the GROUP KEY is
    //    a bounded dimension (25 nations here ⇒ state ∝ group size /
    //    25); for unbounded keys the at-scale path is approx_percentile
    //    (t-digest, bounded state) — engine-specific sketches can only
    //    be range-checked, which is why the ORACLED query is the exact
    //    form; the range check itself is a9b below. ─────────────────
    ("a9_percentiles", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
          round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90"),
          round(expr("percentile(c_acctbal, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n"))
    }: DataFrame, Some("""
      SELECT c_nationkey,
             round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
             round(quantile_cont(c_acctbal, 0.9), 4) AS p90,
             round(quantile_cont(c_acctbal, 0.99), 4) AS p99,
             count(*) AS n
      FROM customer GROUP BY 1""")),

    // ── A9 at-scale path: approx_percentile (t-digest; bounded state
    //    per group regardless of group size — the answer when group
    //    keys are unbounded and the exact aggregate's per-group value
    //    buffer no longer fits). A sketch's output is engine-specific,
    //    so cross-engine EQUALITY is impossible; verification is a
    //    RANGE GATE instead (the a8 sketch-plus-exact pattern). The
    //    sketch's contract is a RANK guarantee (observed rank within
    //    1/accuracy of the target), so the gate brackets by exact
    //    ORDER STATISTICS, not interpolated values: each sketched
    //    quantile must lie between the group's sorted values one
    //    position below/above the target rank's floor/ceil — wide
    //    enough to absorb the sketch's rank-rounding at small n AND
    //    its 1e-4 rank error at large n, but a broken sketch flips a
    //    boolean and fails the hash compare. (The verification side
    //    collects the group multiset — fine on this bounded-key
    //    fixture; production emits only the sketch column.) The
    //    oracle pins every verdict at `true`. ────────────────────────
    ("a9b_approx_percentiles", (s: SparkSession, dir: String) => {
      val ap = expr(
        "approx_percentile(c_acctbal, array(0.5D, 0.9D, 0.99D), 10000)")
      def ok(i: Int, p: Double) = {
        val t = lit(p) * (col("n") - 1) // target position, 0-based
        val lo = greatest(lit(1L), floor(t).cast("long")) // = (floor(t)-1)+1
        val hi = least(col("n"), ceil(t).cast("long") + 2) // = (ceil(t)+1)+1
        (element_at(col("ap"), i) >= element_at(col("sv"), lo.cast("int")) &&
          element_at(col("ap"), i) <= element_at(col("sv"), hi.cast("int")))
      }
      Fn.table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(ap.as("ap"),
          sort_array(collect_list(col("c_acctbal"))).as("sv"),
          count(lit(1)).as("n"))
        .select(col("c_nationkey"),
          ok(1, 0.5).as("p50_ok"), ok(2, 0.9).as("p90_ok"),
          ok(3, 0.99).as("p99_ok"), col("n"))
    }: DataFrame, Some("""
      SELECT c_nationkey, true AS p50_ok, true AS p90_ok, true AS p99_ok,
             count(*) AS n
      FROM customer GROUP BY 1""")),

    // ── A10: HyperLogLog++ distinct-count sketch — the UNBOUNDED-
    //    cardinality companion to a8's linear-counting sketch (m=1024
    //    registers caps out around 10⁵ distincts; HLL's error stays
    //    ~rsd at any cardinality in O(2^p) bits). Same verification
    //    pattern as a9b: sketches cannot hash-match across engines, so
    //    the query emits the EXACT distinct count plus a boolean gate
    //    (|hll − exact| ≤ 3·rsd·exact, rsd = 0.02), and the oracle
    //    pins every verdict at `true` and recomputes the exact count.
    //    approx_count_distinct is deterministic (hash-based registers,
    //    merge = register-wise max, partition-order independent), so a
    //    green gate is stable, not a lucky draw. The exact countDistinct
    //    lives on the bounded-key fixture only; production emits just
    //    the sketch column — one hash-agg, map-side partial merge. ────
    ("a10_hll_distinct", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("hll"),
          countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("hll") - col("exact_distinct")).cast("double")
            <= lit(0.06) * col("exact_distinct").cast("double"))
            .as("hll_ok"))
    }: DataFrame, Some("""
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
             true AS hll_ok
      FROM events GROUP BY 1""")),

    // ── W1: sequential numbering per partition (row_number + order) ─
    ("w1_item_numbers", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Fn.table(s, dir, "events")
        .withColumn("item_number", row_number().over(w))
        .select(col("event_id"), col("user_id"), col("item_number"))
    }: DataFrame, Some("""
      SELECT event_id, user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS item_number
      FROM events""")),

    // ── W2-adjacent: event-time tumbling window aggregation (the
    //    batch shape of the streaming windowed agg; window() is the
    //    streaming-compatible operator) ─────────────────────────────
    ("w2_tumbling_window", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
    }: DataFrame, Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total
      FROM events GROUP BY 1, 2""")),

    // ── W2 variant: SLIDING (hopping) event-time windows — 1h length,
    //    30min hop: every event lands in exactly two windows. The
    //    DuckDB twin materializes both window starts per event ───────
    ("w4_sliding_window", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
    }: DataFrame, Some("""
      SELECT ws AS window_start, event_type,
             count(*) AS n, round(sum(value), 4) AS total
      FROM (SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                           time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
                   event_type, value
            FROM events)
      GROUP BY 1, 2""")),

    // ── O6: global top-k under a total order — plans as
    //    TakeOrderedAndProject (per-partition top-k + driver merge),
    //    never a full global sort ─────────────────────────────────────
    ("o6_global_topk", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(100)
        .select(col("event_id"), col("event_type"), col("value"))
    }: DataFrame, Some("""
      SELECT event_id, event_type, value
      FROM events ORDER BY value DESC, event_id ASC LIMIT 100""")),

    // ── session windows (gap timeout 1h): the sessionization shape;
    //    session_window() is streaming-compatible, the oracle is the
    //    classic gaps-and-islands SQL ─────────────────────────────────
    ("w3_session_window", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "events")
        .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .select(col("user_id"), col("first_ts"), col("last_ts"), col("n_events"))
    }: DataFrame, Some("""
      WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 1 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, sid""")),

    // ── J1+C1: scored top-1 lookup join + classification. The join
    //    strategy is picked from the dictionary's parquet-footer bytes
    //    (a metadata read, never a sizing scan): the driver's supplier
    //    dictionary is small, so this plans the broadcast leg;
    //    [[bestMatch]] carries the shuffle leg a 10⁷-entry dictionary
    //    needs, pinned by plan tests at both sizes. ─────────────────
    ("j1_best_match", (s: SparkSession, dir: String) => {
      val q = upper(trim(regexp_replace(col("c_name"), "Customer", "Supplier")))
        .substr(lit(1), lit(9) + (col("c_custkey") % 10).cast("int"))
      val cust = Fn.spread(s, dir, "customer")
        .select(col("c_custkey").as("qid"), q.as("q"))
      val dict = Fn.table(s, dir, "supplier").select(col("s_name"))
      bestMatch(cust, dict, Fn.colBytesStat(s, dir, "supplier", "s_name"),
          minQLen = 9, maxQLen = 18)
        .withColumnRenamed("qid", "c_custkey")
    }: DataFrame, Some("""
      WITH q AS (
        SELECT c_custkey,
               substr(upper(trim(replace(c_name, 'Customer', 'Supplier'))),
                      1, 9 + CAST(c_custkey % 10 AS INT)) AS q
        FROM customer),
      scored AS (
        SELECT q.c_custkey, q.q, s.s_name,
               CASE WHEN q.q = upper(trim(s.s_name)) THEN 1.0
                    WHEN starts_with(upper(trim(s.s_name)), q.q) THEN 0.99
                    WHEN contains(upper(trim(s.s_name)), q.q) THEN 0.85
                    ELSE 0.0 END AS r
        FROM q CROSS JOIN supplier s),
      best AS (
        SELECT c_custkey, q, s_name, r,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY r DESC, s_name ASC) AS rn
        FROM scored)
      SELECT c_custkey, q,
             CASE WHEN r > 0.85 THEN s_name ELSE '' END AS matched,
             CASE WHEN r > 0.85 THEN 'Child Part' ELSE 'BO' END AS row_type,
             r AS rating
      FROM best WHERE rn = 1""")),

    // ── J2: positional zip via row_number + full outer join. Two
    //    per-customer order sequences (urgent vs rest) zip by position
    //    — the reference's per-column zip within one conversation.
    //    KEYED ON o_custkey (high cardinality, grows with the data):
    //    the window's parallelism scales with the corpus, unlike the
    //    25-value nationkey the r2 verdict flagged (≤25 sort tasks no
    //    matter the cluster size). The PIPELINE's real zip was always
    //    per-conversation (ExtractPipeline); this standing query now
    //    matches that shape. ──────────────────────────────────────────
    ("j2_positional_zip", (s: SparkSession, dir: String) => {
      val ord = Fn.table(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_orderpriority"))
      val a = ord.filter(col("o_orderpriority").startsWith("1"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("custkey")).orderBy(col("o_orderkey"))))
        .select(col("custkey"), col("pos"), col("o_orderkey").as("urgent_order"))
      val b = ord.filter(!col("o_orderpriority").startsWith("1"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("custkey")).orderBy(col("o_orderkey"))))
        .select(col("custkey"), col("pos"), col("o_orderkey").as("other_order"))
      // USING full-outer join: Spark emits coalesced key columns
      a.join(b, Seq("custkey", "pos"), "full_outer")
        .select(col("custkey"), col("pos"),
          coalesce(col("urgent_order"), lit(-1L)).as("urgent_order"),
          coalesce(col("other_order"), lit(-1L)).as("other_order"))
    }: DataFrame, Some("""
      WITH a AS (SELECT o_custkey AS custkey, o_orderkey AS urgent_order,
                        row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderkey) AS pos
                 FROM orders WHERE starts_with(o_orderpriority, '1')),
           b AS (SELECT o_custkey AS custkey, o_orderkey AS other_order,
                        row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderkey) AS pos
                 FROM orders WHERE NOT starts_with(o_orderpriority, '1'))
      SELECT coalesce(a.custkey, b.custkey) AS custkey,
             coalesce(a.pos, b.pos) AS pos,
             coalesce(a.urgent_order, -1) AS urgent_order,
             coalesce(b.other_order, -1) AS other_order
      FROM a FULL OUTER JOIN b
        ON a.custkey = b.custkey AND a.pos = b.pos""")),

    // ── J4: snowflake dimension chain — fact ⋈ broadcast(nation) ⋈
    //    broadcast(region). The at-scale shape of the reference's
    //    metadata joins: every dimension rides the task as a hash map,
    //    the fact table never shuffles for the join ─────────────────
    ("j4_dim_chain", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "supplier")
        .join(broadcast(Fn.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Fn.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 4).as("total_bal"))
    }: DataFrame, Some("""
      SELECT r_name, n_name, count(*) AS n_suppliers,
             round(sum(s_acctbal), 4) AS total_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2""")),

    // ── J5: AS-OF join — each event matched to the latest order of
    //    the same customer with o_orderdate <= ts. Spark has no native
    //    as-of operator; the scalable formulation is union-both-sides
    //    + one keyed window (last non-null carried forward), NOT a
    //    range join: one shuffle on the key, per-key sorted scan,
    //    parallelism scales with key cardinality, and no
    //    broadcast/cartesian anywhere — the big-big as-of shape.
    //    Order rows sort BEFORE events at equal ts (is_event asc) so
    //    the match is inclusive, and ord_key joins the sort so the
    //    winner among orders tied on timestamp is the max orderkey —
    //    the tie-break lives IN the window order, costing nothing,
    //    instead of a dedup groupBy that would shuffle the whole order
    //    side once more before the window. ───────────────────────────
    ("j5_asof", (s: SparkSession, dir: String) => {
      val ord = Fn.table(s, dir, "orders")
        .select(col("o_custkey").as("key"), col("o_orderdate").as("ts"),
          col("o_orderkey").as("ord_key"),
          lit(0).as("is_event"), lit(null).cast("long").as("event_id"))
      val ev = Fn.table(s, dir, "events")
        .select(col("user_id").as("key"), col("ts"),
          lit(null).cast("long").as("ord_key"),
          lit(1).as("is_event"), col("event_id"))
      val w = Window.partitionBy(col("key"))
        .orderBy(col("ts").asc, col("is_event").asc, col("ord_key").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord.unionByName(ev)
        .withColumn("asof", last(col("ord_key"), ignoreNulls = true).over(w))
        .filter(col("is_event") === 1)
        .select(col("event_id"), col("key").as("user_id"),
          coalesce(col("asof"), lit(-1L)).as("asof_orderkey"))
    }: DataFrame, Some("""
      WITH u AS (
        SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS ord_key,
               0 AS is_event, CAST(NULL AS BIGINT) AS event_id
        FROM orders
        UNION ALL
        SELECT user_id, ts, NULL, 1, event_id FROM events)
      SELECT event_id, key AS user_id, coalesce(carried, -1) AS asof_orderkey
      FROM (
        SELECT event_id, key, is_event,
               last_value(ord_key IGNORE NULLS) OVER (
                 PARTITION BY key
                 ORDER BY ts ASC, is_event ASC, ord_key ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        FROM u)
      WHERE is_event = 1""")),

    // ── J6: RANGE (interval) join — count events inside each 2-hour
    //    window of the same user. The scalable formulation BANDS the
    //    inequality into an equi-join: windows explode to the hour
    //    buckets they cover (≤3 rows for a 2 h window — the explode
    //    rides the SMALL window side only), events carry their single
    //    bucket, the join matches on (user, bucket), and the exact
    //    bound check is a post-join filter. A raw t BETWEEN lo AND hi
    //    join condition would plan a BroadcastNestedLoopJoin — the
    //    all-pairs shape PlanShapeSpec bans. An event meets a window
    //    at most once (one bucket per event), so no dedup is needed.
    //    Windows are derived deterministically from the event stream
    //    (every 97th event opens one), keeping the fixture
    //    self-contained. ─────────────────────────────────────────────
    ("j6_range_join", (s: SparkSession, dir: String) => {
      val hour = 3600L
      val ev = Fn.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val win = ev.filter(pmod(col("event_id"), lit(97L)) === 0)
        .select(col("event_id").as("window_id"), col("user_id"),
          col("ts").as("wstart"),
          (col("ts") + expr("INTERVAL '2' HOUR")).as("wend"))
      val winB = win.withColumn("bucket", explode(sequence(
        floor(unix_timestamp(col("wstart")) / hour).cast("long"),
        floor(unix_timestamp(col("wend")) / hour).cast("long"))))
      val evB = ev.withColumn("bucket",
        floor(unix_timestamp(col("ts")) / hour).cast("long"))
      evB.join(winB, Seq("user_id", "bucket"))
        .filter(col("ts") >= col("wstart") && col("ts") <= col("wend"))
        .groupBy(col("window_id"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
    }: DataFrame, Some("""
      WITH win AS (
        SELECT event_id AS window_id, user_id, ts AS wstart,
               ts + INTERVAL 2 HOUR AS wend
        FROM events WHERE event_id % 97 = 0)
      SELECT w.window_id, w.user_id, count(*) AS n_events
      FROM win w JOIN events e
        ON e.user_id = w.user_id AND e.ts >= w.wstart AND e.ts <= w.wend
      GROUP BY 1, 2""")),

    // ── J3: semi / anti joins (dictionary containment) ──────────────
    ("j3_semi", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "customer")
        .join(Fn.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }: DataFrame, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    ("j3_anti", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "customer")
        .join(Fn.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }: DataFrame, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    // ── S1 (§2.8): union + distinct (the childParts ++ boData concat
    //    feeding the max-item fold, frontend/index.html:2364-2368) ───
    ("s1_union_distinct", (s: SparkSession, dir: String) => {
      val c = Fn.table(s, dir, "customer")
        .select(col("c_nationkey").cast("int").as("nationkey"),
          col("c_name").as("name"))
      val su = Fn.table(s, dir, "supplier")
        .select(col("s_nationkey").cast("int").as("nationkey"),
          col("s_name").as("name"))
      c.unionByName(su).distinct()
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_entities"), max(col("name")).as("max_name"))
    }: DataFrame, Some("""
      SELECT nationkey, count(*) AS n_entities, max(name) AS max_name
      FROM (SELECT DISTINCT * FROM (
              SELECT CAST(c_nationkey AS INT) AS nationkey, c_name AS name
              FROM customer
              UNION ALL
              SELECT CAST(s_nationkey AS INT) AS nationkey, s_name AS name
              FROM supplier))
      GROUP BY nationkey""")),

    // ── S2 (§2.8 extension): ROLLUP — region/nation subtotals + grand
    //    total in ONE pass (partial aggregation handles the lattice;
    //    no per-level rescan). NULL lattice keys are emitted as '' so
    //    the cross-engine hash never sees engine-specific null order ──
    ("s2_rollup", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "supplier")
        .join(broadcast(Fn.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Fn.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 4).as("total_bal"))
        .select(coalesce(col("r_name"), lit("")).as("region"),
          coalesce(col("n_name"), lit("")).as("nation"),
          col("n_suppliers"), col("total_bal"))
    }: DataFrame, Some("""
      SELECT coalesce(r_name, '') AS region, coalesce(n_name, '') AS nation,
             count(*) AS n_suppliers, round(sum(s_acctbal), 4) AS total_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)""")),

    // ── W5: running total per user (rows-frame cumulative window) —
    //    keyed on user_id (high cardinality; parallelism scales with
    //    the data), explicit total order for determinism ──────────────
    ("w5_running_total", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Fn.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 4).as("running_total"))
    }: DataFrame, Some("""
      SELECT event_id, user_id,
             round(sum(value) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_total
      FROM events""")),

    // ── C3: provenance/warning string assembly in pure columns ──────
    ("c3_warning_string", (s: SparkSession, dir: String) => {
      val li = Fn.table(s, dir, "lineitem")
      val qty = struct(lit("q").as("text"),
        (col("l_discount") * 10).as("confidence"),
        (col("l_returnflag") === "R").as("ocr"))
      val desc = struct(lit("d").as("text"),
        (col("l_tax") * 10).as("confidence"),
        (col("l_returnflag") === "A").as("ocr"))
      val mat = struct(
        when(col("l_linenumber") % 3 === 0, "").otherwise("m").as("text"),
        (col("l_quantity") / 50.0).as("confidence"),
        lit(true).as("ocr"))
      li.select(col("l_orderkey"), col("l_linenumber"),
        ExtractPipeline.rowWarningCol(qty, desc, mat,
          col("l_linestatus") === "F",
          col("l_quantity") / 50.0).as("warning"))
    }: DataFrame, Some("""
      SELECT l_orderkey, l_linenumber,
        array_to_string(list_filter([
          CASE WHEN len(o) > 0 THEN 'OCR(' || array_to_string(o, ',') || ')' END,
          CASE WHEN len(e) > 0 THEN 'OCRedited(' || array_to_string(e, ',') || ')' END,
          CASE WHEN len(m) > 0 THEN 'Manual(' || array_to_string(m, ',') || ')' END,
          CASE WHEN len(w) > 0 THEN 'Warning(' || array_to_string(w, ',') || ')' END
        ], x -> x IS NOT NULL), '; ') AS warning
      FROM (
        SELECT l_orderkey, l_linenumber,
          list_filter([
            CASE WHEN qocr AND qc > 0 THEN 'Q' END,
            CASE WHEN docr AND dc > 0 THEN 'D' END,
            CASE WHEN mtext <> '' AND mc > 0 THEN 'M' END
          ], x -> x IS NOT NULL) AS o,
          list_filter([
            CASE WHEN qocr AND qc = 0 THEN 'Q' END,
            CASE WHEN docr AND dc = 0 THEN 'D' END
          ], x -> x IS NOT NULL) AS e,
          list_filter([
            CASE WHEN NOT qocr THEN 'Q' END,
            CASE WHEN NOT docr THEN 'D' END
          ], x -> x IS NOT NULL) AS m,
          list_filter([
            CASE WHEN qc > 0 AND qc < 0.95 THEN 'Q' END,
            CASE WHEN dc > 0 AND dc < 0.95 THEN 'D' END,
            CASE WHEN mtext <> '' AND mc > 0 AND mc < 0.95 THEN 'M' END,
            CASE WHEN needs_review THEN 'T' END,
            CASE WHEN sim < 0.95 THEN 'P' END
          ], x -> x IS NOT NULL) AS w
        FROM (
          SELECT l_orderkey, l_linenumber,
                 l_discount * 10 AS qc, (l_returnflag = 'R') AS qocr,
                 l_tax * 10 AS dc, (l_returnflag = 'A') AS docr,
                 CASE WHEN l_linenumber % 3 = 0 THEN '' ELSE 'm' END AS mtext,
                 l_quantity / 50.0 AS mc,
                 (l_linestatus = 'F') AS needs_review,
                 l_quantity / 50.0 AS sim
          FROM lineitem)
      )"""))
  )

  /** Scored best-match lookup (J1+C1) at BOTH dictionary scales.
    *
    * Scoring (reference: frontend/index.html:1815 strict `> 0.85`
    * accept, alphabetical tie-break): tier 0 exact, 1 prefix,
    * 2 contains, else no match. Top-1 per query via min over ONE LONG
    * `tier * 2³² + dictIndex` — a codegen'd HashAggregate with
    * map-side partial combine (min over a string/struct falls back to
    * SortAggregate: it sorted all 15M scored rows, 20× slower). The
    * dictionary stays a DataFrame end-to-end (nothing collected,
    * nothing shipped as a task literal), and its global alphabetical
    * index is the two-level [[Fn.orderedIndex]] — parallel even at
    * 10⁷ entries; index order IS the tie-break.
    *
    * Two legs, chosen by `dictBytes` — a parquet-footer / manifest
    * statistic, never a sizing scan — through [[Fn.broadcastable]]:
    *
    *  - '''broadcast''' (`dictBytes` broadcastable): broadcast
    *    nested-loop scored join; every (query, entry) pair is scored
    *    and the partial agg collapses them before any exchange. Right
    *    up to ~10⁶ entries. (The per-element HOF argmax in the BOM
    *    pipeline is right for ~10-entry dictionaries; at 1000 × 15k
    *    the interpreted lambda was 84 s — this form ~1.5 s.)
    *  - '''shuffle''' (otherwise): a 10⁷-entry dictionary is
    *    hundreds of MB serialized — broadcasting it OOMs executors.
    *    Instead the dictionary explodes into an INVERTED SUBSTRING
    *    INDEX: every distinct substring of each (canonicalized) entry
    *    with length in `[minQLen, maxQLen]` — ≤ len·(maxQLen-minQLen+1)
    *    rows per entry, linear in dictionary size. `q` equi-joins the
    *    index (`q = substring` ⇔ the entry CONTAINS q, which subsumes
    *    the exact and prefix tiers), the when-chain re-scores the
    *    candidates exactly, and the same long-key argmax picks top-1.
    *    The join key is the FULL query string — discriminative, no
    *    hot first-k-chars band degenerating on common-prefix-heavy
    *    dictionaries. Queries with no candidate stitch back as
    *    no-match rows via one anti-join (the one extra shuffle of the
    *    query side this leg costs over the broadcast leg).
    *
    * CONTRACT: every query row must have `minQLen <= length(q) <=
    * maxQLen` — out-of-domain rows silently emit the no-match row
    * (their lengths are absent from the index). Callers with a wider
    * length domain widen the window (more index rows — the classic
    * blocking tradeoff) or run one `bestMatch` per length band.
    *
    * @param queries (qid: long, q: string), q pre-canonicalized
    *                (upper+trim) by the caller
    * @param dict    (s_name: string)
    * @return (qid, q, matched, row_type, rating)
    */
  private[graft] def bestMatch(queries: DataFrame, dict: DataFrame,
      dictBytes: Long, minQLen: Int, maxQLen: Int): DataFrame = {
    require(minQLen >= 1 && maxQLen >= minQLen,
      s"bestMatch: bad query-length domain [$minQLen, $maxQLen]")
    // cached: the scoring join's dictionary side and the idx→name
    // stitch join both read the indexed dictionary — uncached, each
    // broadcast build re-ran the whole orderedIndex chain (range
    // shuffle, per-bucket sort, offset join)
    val dictDf = Fn.track(Fn.orderedIndex(dict, col("s_name"))
      .select(upper(trim(col("s_name"))).as("cu"), col("idx"), col("s_name"))
      .cache())
    val M = 1L << 32
    // both sides pre-uppercased: the when-chain touches only
    // attributes, no per-branch re-evaluation of the normalization
    val bucket = when(col("q") === col("cu"), 0L)
      .when(col("cu").startsWith(col("q")), 1L)
      .when(col("cu").contains(col("q")), 2L)
      .otherwise(3L)
    val idxName = dictDf.select(col("idx").as("m_idx"), col("s_name"))
    def finish(withB: DataFrame): DataFrame =
      withB.select(col("qid"), col("q"),
        when(col("b") <= 1, col("s_name")).otherwise("").as("matched"),
        when(col("b") <= 1, "Child Part").otherwise("BO").as("row_type"),
        when(col("b") === 0, 1.0).when(col("b") === 1, 0.99)
          .when(col("b") === 2, 0.85).otherwise(0.0).as("rating"))

    if (Fn.broadcastable(queries.sparkSession, dictBytes)) {
      // broadcast leg: all pairs scored (tier-3 rows included, so the
      // agg itself yields exactly one row per query — no stitch join)
      queries.join(broadcast(dictDf.select(col("cu"), col("idx"))))
        .select(col("qid"), col("q"), (bucket * M + col("idx")).as("key"))
        .groupBy(col("qid"), col("q"))
        .agg(min(col("key")).as("best"))
        .select(col("qid"), col("q"),
          (col("best") / M).cast("long").as("b"),
          (col("best") % M).cast("long").as("m_idx"))
        // idx → name: broadcast hash join back against the dictionary
        // (post-agg cardinality = one row per query)
        .join(broadcast(idxName), Seq("m_idx"))
        .transform(finish)
    } else {
      // shuffle leg: inverted substring index over the dictionary
      val subs = flatten(transform(
        sequence(lit(minQLen), lit(maxQLen)),
        l => transform(
          sequence(lit(1), length(col("cu")) - l + 1),
          p => col("cu").substr(p, l))))
      val index = dictDf
        .filter(length(col("cu")) >= minQLen)
        .select(col("cu"), col("idx"),
          explode(array_distinct(subs)).as("sub"))
      // array_distinct ⇒ ≤1 candidate row per (query, entry); every
      // candidate CONTAINS q by construction, so bucket ∈ {0,1,2} —
      // no filter needed before the argmax
      val best = queries.join(index, col("q") === col("sub"))
        .select(col("qid"), col("q"), (bucket * M + col("idx")).as("key"))
        .groupBy(col("qid"), col("q"))
        .agg(min(col("key")).as("best"))
      val matched = best
        .select(col("qid"), col("q"),
          (col("best") / M).cast("long").as("b"),
          (col("best") % M).cast("long").as("m_idx"))
        .join(idxName, Seq("m_idx")) // big dict: shuffle equi-join
        .transform(finish)
      val missed = queries
        .join(best.select(col("qid"), col("q")), Seq("qid", "q"), "left_anti")
        .select(col("qid"), col("q"), lit("").as("matched"),
          lit("BO").as("row_type"), lit(0.0).as("rating"))
      matched.unionByName(missed)
    }
  }
}
