package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Log analytics: aggregates, windows, sessionization, funnels and
  * retention, as-of joins, mergeable sketches, percentiles and grouped
  * statistics.
  */
private[graft] object AnalyticsQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] log analytics: aggs, windows (SURVEY §2.2) --
    Query("q_agg_type_day", (s, d) =>
      events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("event_type", "day"),
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q_rollup_type_day", (s, d) =>
      events(s, d)
        .withColumn("day", to_date(col("ts")))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first),
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events
        |GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin),

    // pivot with explicit values: deterministic column set, single scan
    Query("q_pivot_type", (s, d) =>
      events(s, d)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("day"),
      """SELECT CAST(ts AS DATE) AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_distinct_users", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users")).orderBy("event_type"),
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1 ORDER BY 1"),

    Query("q_window_topk_user", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("user_id", "event_id", "ts", "rn")
        .orderBy("user_id", "rn")
    },
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, rn FROM (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin),

    Query("q_window_running", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_value"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    // the same per-user top-3 as q_window_topk_user, but via the bounded
    // top-k AGGREGATOR: partial aggregation keeps k items per group
    // map-side, so the shuffle carries k·|groups| rows, not every row —
    // proven equivalent by sharing the window query's oracle
    Query("q_topk_agg", (s, d) =>
      graft.operators.TopK.perGroup(
        events(s, d), col("user_id"), col("ts_ns"), col("event_id"), k = 3)
        .select(col("group_key").as("user_id"), col("id").as("event_id"),
          timestamp_micros(expr("primary div 1000")).as("ts"), col("rn").cast("int").as("rn"))
        .orderBy("user_id", "rn"),
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, rn FROM (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin),

    Query("q_window_rank", (s, d) => {
      // value ties are real in this data, so rank/dense_rank diverge from
      // row_number — included deliberately to pin tie semantics
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      val wTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          lag(col("event_id"), 1).over(wTime).as("prev_event"),
          lead(col("event_id"), 1).over(wTime).as("next_event"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk,
        |  dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS drnk,
        |  lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q_window_dist", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      events(s, d)
        .select(col("event_id"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile,
        |  round(percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS pct_rank,
        |  round(cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS cume
        |FROM events ORDER BY event_id""".stripMargin),

    // moment statistics derived from decimal-exact sums — mean/variance are
    // computed from (n, Σx, Σx²) so float addition order can't shift bits
    Query("q_value_stats", (s, d) =>
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("value")), 2).as("min_v"),
          round(max(col("value")), 2).as("max_v"),
          sum(col("value").cast("decimal(28,6)")).as("s1"),
          sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2"))
        .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
          round(col("s1").cast("double") / col("n"), 4).as("mean_v"),
          round((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("n")) /
            (col("n") - 1), 4).as("var_v"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4) AS mean_v,
        |  round((CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) -
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) *
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*)) / (count(*) - 1), 4) AS var_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] QUALIFY-style latest-per-key dedup: the newest event per
    // (user, type) via row_number over the (ts, event_id) desc total order
    // — the canonical "current state of every key" read. One shuffle on
    // the key; WindowGroupLimit stops per-key work at rank 1. --
    Query("q_window_qualify", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    },
      // CAST to BIGINT: DuckDB's sum(INTEGER) returns HUGEINT, which a
      // pandas-based fetch renders as a float ("1.0" vs Spark's "1") — the
      // round-1 hash mismatch on this query despite identical values
      """SELECT user_id, event_type, event_id, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // -- [NS] bitwise aggregate family: bit_and / bit_or / bit_xor over
    // exact integers per group — set-membership and parity rollups. --
    Query("q_bitwise_agg", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("event_id")).as("bxor"))
        .orderBy("event_type"),
      """SELECT event_type, bit_and(user_id) AS band, bit_or(user_id) AS bor,
        |  bit_xor(event_id) AS bxor
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] ordered string aggregation (listagg WITHIN GROUP): per-source
    // doc_id-ordered concatenation, fingerprinted so the output stays
    // group-sized. The ordered-agg shape the reference's reassembly (R14)
    // uses, exposed through the standard SQL surface. --
    Query("q_listagg", (s, d) =>
      documents(s, d).groupBy(col("source"))
        .agg(
          md5(expr("listagg(text, '|') WITHIN GROUP (ORDER BY doc_id)")).as("agg_md5"),
          count(lit(1)).as("n_docs"))
        .orderBy("source"),
      """SELECT source, md5(string_agg(text, '|' ORDER BY doc_id)) AS agg_md5,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] time-series gap-fill + forward-fill: per-user daily totals
    // left-joined onto the full January calendar (sequence → explode, a
    // broadcast-sized dimension), missing days carried forward with
    // last(ignoreNulls) over the per-user date order. The window shuffles
    // once on user_id; the calendar never exceeds days×users rows. The
    // standard resample-ffill that turns an irregular event log into a
    // regular panel. --
    Query("q_gapfill", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(dsum(col("value")).as("v"))
      val cal = s.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-01-30")),
        expr("interval 1 day"))).as("day"))
      val users = events(s, d).select(col("user_id")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      users.crossJoin(cal)
        .join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"), col("v"), col("filled"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |    INTERVAL 1 DAY)) AS DATE) AS day),
        |users AS (SELECT DISTINCT user_id FROM events)
        |SELECT user_id, day, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM users CROSS JOIN cal LEFT JOIN daily USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin),

    // -- [NS] conversion funnel (view → click-after → purchase-after):
    // stage k is a per-user min-timestamp aggregate joined to stage k-1
    // with a strictly-after predicate — each stage's table is user-sized
    // and broadcastable; the event log is scanned once per stage with the
    // type filter pushed down. --
    Query("q_funnel", (s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.where(col("event_type") === "click")
        .join(broadcast(v), "user_id").where(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.where(col("event_type") === "purchase")
        .join(broadcast(c), "user_id").where(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    },
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t_click GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_click,
        |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin),

    // -- [NS] cohort retention: users cohorted by first active day; for
    // each (cohort, day-offset) cell, how many of that cohort were active.
    // Two keyed aggregates and one join on user_id — the distinct
    // (user, day) activity set is the only shuffle of event-scale data. --
    Query("q_retention", (s, d) => {
      val act = events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      act.join(first, "user_id")
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort", "day_offset")
    },
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1)
        |SELECT cohort, CAST(date_diff('day', cohort, day) AS INT) AS day_offset,
        |  count(*) AS n_active
        |FROM act JOIN first USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q_sessionize", (s, d) => {
      val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(wOrder))
        .withColumn("new_session",
          when(col("prev_ms").isNull || unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session"))
          .over(wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id", "session_id")
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, event_id, ts,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms FROM events))
        |ORDER BY user_id, event_id""".stripMargin),

    Query("q_asof_join", (s, d) => {
      // as-of join: each purchase matched to the latest strictly-prior click
      // of the same user — window form, one shuffle, no custom strategy
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, CAST(last_click_ts AS TIMESTAMP) AS last_click_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    // -- [NS] FORWARD as-of join (the time-reversed twin): each click
    // matched to the earliest strictly-later purchase of the same user —
    // attribution's "time to conversion" shape; same one-shuffle window
    // plan, frame flipped to (1 FOLLOWING, UNBOUNDED FOLLOWING) --
    Query("q_asof_forward", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      events(s, d)
        .withColumn("next_purchase_ts",
          first(when(col("event_type") === "purchase", col("ts")), ignoreNulls = true).over(w))
        .where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "next_purchase_ts")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, CAST(next_purchase_ts AS TIMESTAMP) AS next_purchase_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        |  FROM events)
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin),

    // batch twin of the watermarked stream-stream interval join
    Query("q_interval_join", (s, d) => {
      val e = events(s, d)
      graft.streaming.EventStreams.clickPurchaseJoin(e, e)
        .orderBy("user_id", "click_id", "purchase_id")
    },
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),

    Query("q_tumbling_1d", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("day_start"), col("n"), col("total_value"))
        .orderBy("day_start"),
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // HLL++ sketch vs exact count in one pass; the declared result is the
    // exact count plus a within-5%-relative-error flag — the approx value
    // itself has no DuckDB twin, but the error-bound invariant does, so the
    // sketch is oracle-gated instead of rows-only
    Query("q_agg_approx_distinct", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx") - col("n_users")) <=
            col("n_users").cast("double") * 0.05).as("within_5pct"))
        .orderBy("event_type"),
      "SELECT event_type, count(DISTINCT user_id) AS n_users, true AS within_5pct FROM events GROUP BY 1 ORDER BY 1"),

    // -- [NS] mergeable-sketch rollup — the production pattern for
    // distinct counts at 100 TB: per-day HLL sketches (order-independent
    // register maxima, so partial aggregation commutes) merged upward with
    // hll_union_agg into weekly estimates WITHOUT re-touching the events.
    // A pre-aggregated sketch table makes every future rollup
    // sketch-table-sized; the estimate is gated within 5% of the exact
    // recount like the other sketch queries. --
    // -- [NS] mergeable quantile-sketch rollup (DDSketch-style custom
    // Aggregator pair): per-(type, day) sketches merged per type must be
    // BIT-IDENTICAL to sketching each type directly (bucket-wise adds
    // commute), estimates within the α relative-error bound vs the exact
    // percentile, and the sketch's total count exactly the row count. The
    // quantile twin of q_hll_merge, with a custom sketch instead of a
    // builtin — KLL/GK can't do this rollup deterministically (their state
    // is arrival-order-dependent); DDSketch's isn't. --
    Query("q_quantile_sketch", (s, d) => {
      import graft.functions.QuantileSketch
      import org.apache.spark.sql.Encoders
      val skUdaf = udaf(QuantileSketch.sketch, Encoders.scalaDouble)
      val mergeUdaf = udaf(QuantileSketch.mergeSketch,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      val est = udf((packed: Seq[Long], q: Double) =>
        QuantileSketch.estimateQuantile(packed.toArray, q))
      val total = udf((packed: Seq[Long]) => QuantileSketch.totalCount(packed.toArray))
      def withinRel(e: Column, x: Column): Column =
        abs(e - x) <= x * 0.05 + lit(0.01)
      val ev = events(s, d).select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      val direct = ev.groupBy("event_type").agg(
        skUdaf(col("value")).as("sk"),
        count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("x50"),
        expr("percentile(value, 0.95)").as("x95"))
      val merged = ev.groupBy(col("event_type"), col("day"))
        .agg(skUdaf(col("value")).as("dsk"))
        .groupBy("event_type").agg(mergeUdaf(col("dsk")).as("skm"))
      direct.join(merged, Seq("event_type"))
        .select(col("event_type"), col("n"),
          (total(col("sk")) === col("n")).as("count_ok"),
          withinRel(est(col("sk"), lit(0.5)), col("x50")).as("q50_ok"),
          withinRel(est(col("sk"), lit(0.95)), col("x95")).as("q95_ok"),
          (col("sk") === col("skm")).as("merged_eq"))
        .orderBy("event_type")
    },
      // invariant oracle for the DDSketch rollup: the real data check is n
      // (exact row count recovered from the sketch); the bound/equality
      // booleans are computed Spark-side against Spark's exact percentile
      """SELECT event_type, count(*) AS n, true AS count_ok,
        |  true AS q50_ok, true AS q95_ok, true AS merged_eq
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] trailing 7-day sliding quantiles from the SAME daily
    // sketches: the windowed rollup touches 7 sketch rows per day (a
    // 30×7 broadcast range join), never the raw events — the pattern that
    // turns one fine-grained sketch pass into ANY window shape at lake
    // scale. Exact-count oracle + α-bound vs the exact windowed
    // percentile (itself recomputed through the same range join). --
    Query("q_quantile_sliding", (s, d) => {
      import graft.functions.QuantileSketch
      import org.apache.spark.sql.Encoders
      val skUdaf = udaf(QuantileSketch.sketch, Encoders.scalaDouble)
      val mergeUdaf = udaf(QuantileSketch.mergeSketch,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      val est = udf((p: Seq[Long], q: Double) =>
        QuantileSketch.estimateQuantile(p.toArray, q))
      val total = udf((p: Seq[Long]) => QuantileSketch.totalCount(p.toArray))
      val ev = events(s, d).select(to_date(col("ts")).as("day"), col("value"))
      val daily = ev.groupBy(col("day")).agg(skUdaf(col("value")).as("dsk"))
      val days = daily.select(col("day").as("w_day"))
      val merged = days.join(broadcast(daily),
          datediff(col("w_day"), col("day")).between(0, 6))
        .groupBy(col("w_day")).agg(mergeUdaf(col("dsk")).as("wsk"))
      // the gate must target the DISCRETE rank statistic the sketch
      // estimates (rank ceil(q·n), estimateQuantile's convention), not the
      // interpolated median: DDSketch guarantees |est − v_r| ≤ α·v_r for
      // that order statistic at ANY n, while the distance from v_r to the
      // interpolated median is a property of the data's local gaps (at
      // n=72 a single wide gap broke the old ±5%-of-interpolated gate).
      val exact = days.join(broadcast(ev), datediff(col("w_day"), col("day")).between(0, 6))
        .groupBy(col("w_day"))
        .agg(count(lit(1)).as("n"), sort_array(collect_list(col("value"))).as("vs"))
        .select(col("w_day"), col("n"),
          element_at(col("vs"), ceil(col("n") * 0.5).cast("int")).as("v50"))
      merged.join(exact, Seq("w_day"))
        .select(col("w_day").as("day"), col("n"),
          (total(col("wsk")) === col("n")).as("count_ok"),
          (abs(est(col("wsk"), lit(0.5)) - col("v50")) <=
            abs(col("v50")) * 0.02 + lit(0.01)).as("q50_ok"))
        .orderBy("day")
    },
      // trailing-window twin: exact count per 7-day window ending at each
      // active day; the bound booleans are Spark-side invariants
      """SELECT d.day, count(*) AS n, true AS count_ok, true AS q50_ok
        |FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
        |JOIN events e ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] REAL streaming run of the SAME DDSketch: per-type bucket
    // state accumulated across micro-batches in flatMapGroupsWithState
    // must be BIT-IDENTICAL to the batch aggregator's sketch of the same
    // rows (bucket adds commute with any row partitioning) — the
    // batch/stream-equivalence property, asserted as stream_eq_batch --
    Query("q_stream_quantile", (s, d) => {
      import graft.functions.QuantileSketch
      import org.apache.spark.sql.Encoders
      val st = graft.streaming.EventStreams.streamingQuantiles(s,
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
      graft.streaming.EventStreams.runToMemory(st, "q_stream_quantile_mem", "update",
        statePartitions = Some(8))
      val total = udf((p: Seq[Long]) => QuantileSketch.totalCount(p.toArray))
      val est = udf((p: Seq[Long], q: Double) =>
        QuantileSketch.estimateQuantile(p.toArray, q))
      // update mode emits one row per (micro-batch, key); the final state
      // is the row with the largest held count (monotone accumulation)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(total(col("sketch")).desc)
      val last = s.table("q_stream_quantile_mem")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      val skUdaf = udaf(QuantileSketch.sketch, Encoders.scalaDouble)
      val batchSide = events(s, d).groupBy("event_type").agg(
        skUdaf(col("value")).as("bsk"), count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("x50"))
      last.join(batchSide, Seq("event_type"))
        .select(col("event_type"), col("n"),
          (total(col("sketch")) === col("n")).as("count_ok"),
          (col("sketch") === col("bsk")).as("stream_eq_batch"),
          (abs(est(col("sketch"), lit(0.5)) - col("x50")) <=
            col("x50") * 0.05 + lit(0.01)).as("q50_ok"))
        .orderBy("event_type")
    },
      // streaming accumulation must land on the identical canonical sketch
      """SELECT event_type, count(*) AS n, true AS count_ok,
        |  true AS stream_eq_batch, true AS q50_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_hll_merge", (s, d) => {
      val daily = events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val weekly = daily
        .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      val exact = events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(weekly, Seq("week"))
        .select(col("week"), col("n_users"),
          (abs(col("approx_users") - col("n_users")) <=
            col("n_users").cast("double") * 0.05).as("within_5pct"))
        .orderBy("week")
    },
      // weekly exact recount is the oracle; the merged-sketch estimate must
      // land within the 5% gate (deterministic: HLL registers are
      // order-independent maxima)
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  count(DISTINCT user_id) AS n_users, true AS within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] exact interpolated percentiles (hash-comparable across engines) --
    Query("q_percentiles", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          round(percentile(col("value"), lit(0.5)), 4).as("p50"),
          round(percentile(col("value"), lit(0.9)), 4).as("p90"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] observe() metrics: data-quality counters collected DURING the
    // one pass an action already makes (`Observation` listener) — the
    // audit-without-a-second-scan API a production pipeline attaches to
    // every stage; the declared rows are the observed metrics themselves,
    // and the oracle recomputes them relationally --
    Query("q_observe_metrics", (s, d) => {
      import s.implicits._
      val o = new org.apache.spark.sql.Observation()
      events(s, d)
        .observe(o,
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          count(when(col("value") > 100, 1)).as("n_high"))
        .write.format("noop").mode("overwrite").save()
      val m = o.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("total_value").asInstanceOf[Double],
        m("n_high").asInstanceOf[Long]))
        .toDF("n_rows", "total_value", "n_high")
    },
      // the observed counters recomputed as a plain aggregate
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  count(CASE WHEN value > 100 THEN 1 END) AS n_high
        |FROM events""".stripMargin),

    // -- [NS] winsorization: per-type p05/p95 caps (exact interpolated
    // percentiles, 4-dp-rounded before clamping so both engines compare
    // values against identical thresholds) applied back through a
    // broadcast join — the outlier-capping cleaning pass --
    Query("q_winsorize", (s, d) => {
      val ev = events(s, d)
      val q = ev.groupBy(col("event_type"))
        .agg(round(percentile(col("value"), lit(0.05)), 4).as("p05"),
             round(percentile(col("value"), lit(0.95)), 4).as("p95"))
      ev.join(broadcast(q), "event_type")
        .withColumn("clamped",
          round(least(greatest(col("value"), col("p05")), col("p95")), 4))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("clamped").cast("decimal(18,4)")).cast("double")
            .as("total_winsorized"),
          first(col("p05")).as("p05"), first(col("p95")).as("p95"))
        .orderBy("event_type")
    },
      // identical rounded thresholds, identical clamp order, decimal sum
      """WITH q AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 4) AS p05,
        |    round(quantile_cont(value, 0.95), 4) AS p95
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(round(least(greatest(e.value, q.p05), q.p95), 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_winsorized,
        |  any_value(q.p05) AS p05, any_value(q.p95) AS p95
        |FROM events e JOIN q USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin),

    // -- [NS] fixed-width histogram binning (floor(value/width) keys) --
    Query("q_histogram", (s, d) =>
      events(s, d)
        .groupBy(floor(col("value") / 50).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo"),
          round(max(col("value")), 2).as("hi"))
        .orderBy("bin"),
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bin, count(*) AS n,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // approximate percentile sketch vs exact, error-bound invariant (same
    // oracle pattern as the HLL query: the sketch value has no SQL twin,
    // its accuracy on fixed data does)
    Query("q_approx_quantile", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_approx"),
          percentile(col("value"), lit(0.5)).as("p50"))
        .select(col("event_type"), round(col("p50"), 4).as("p50_exact"),
          (abs(col("p50_approx") - col("p50")) <=
            greatest(abs(col("p50")) * 0.05, lit(0.5))).as("approx_ok"))
        .orderBy("event_type"),
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50_exact, true AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] streaming-shape windows, batch twins --
    Query("q_sliding_2h", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
        .orderBy("w_start"),
      """SELECT w_start, count(*) AS n FROM (
        |  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
        |  FROM events)
        |GROUP BY w_start ORDER BY w_start""".stripMargin),

    Query("q_session_window", (s, d) =>
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("sw.start").as("session_start"), col("user_id"), col("n_events"))
        .orderBy("user_id", "session_start"),
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |        FROM events)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT CAST(min(ts) AS TIMESTAMP) AS session_start, user_id, count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // -- [NS] behavioral sequence mining: per-user event-type bigram
    // transition matrix (Markov transitions). The lag window partitions by
    // user — state stays user-local, users process in parallel — and the
    // transition table is event-type² sized, so the per-row probability
    // window runs over a dimension-sized aggregate, not the fact table. --
    Query("q_event_transitions", (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq = events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .where(col("prev").isNotNull)
      seq.groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev"))).cast("double"), 6))
        .orderBy("prev", "cur")
    },
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |t AS (SELECT prev, event_type AS cur, count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, cur, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
        |FROM t ORDER BY prev, cur""".stripMargin),

    // -- [NS] ANALYZE-style table statistics: exact per-column profile
    // (row count, ndv, null count, min/max) of 4 orders columns in ONE
    // aggregate pass, unpivoted to a row per column — the stats-collection
    // scan that feeds CBO (StatsSpec proves the planner flips an un-hinted
    // join to broadcast once these stats exist). The exact-ndv form is the
    // oracle gate; Stats.columnStatsApprox is the one-pass HLL form a
    // 100 TB profile job runs. --
    Query("q_table_stats", (s, d) =>
      graft.operators.Stats.columnStats(Tables.orders(s, d),
        Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")),
      // ANALYZE-style exact column profile, one row per column; null count
      // as n_rows - count(col) so the type stays BIGINT in both engines
      """WITH s AS (SELECT * FROM orders)
        |SELECT "column", n_rows, ndv, n_nulls, min_value, max_value FROM (
        |  SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |    count(DISTINCT o_custkey) AS ndv, count(*) - count(o_custkey) AS n_nulls,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_value, CAST(max(o_custkey) AS VARCHAR) AS max_value
        |  FROM s
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*), count(DISTINCT o_orderkey), count(*) - count(o_orderkey),
        |    CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM s
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(DISTINCT o_orderpriority), count(*) - count(o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM s
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(DISTINCT o_orderstatus), count(*) - count(o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM s)
        |ORDER BY "column"""".stripMargin),

    // -- [NS] the 100 TB form of the profile: approx_count_distinct (HLL)
    // ndv in ONE map-side-combinable pass, no per-distinct shuffle
    // expansion. HLL estimates are engine-specific, so the oracle gates
    // the INVARIANT: every other stat is exact, and the HLL ndv must land
    // within 10% of the exact ndv (Spark's default rsd is 5% = one sigma,
    // so a 1-sigma bound is NOT deterministic-safe — o_orderkey at
    // sf0.001 misses it; 2 sigma holds across the corpus — same bound
    // StatsSpec gates). The DuckDB twin recomputes the exact stats and
    // emits the same boolean. --
    Query("q_table_stats_approx", (s, d) =>
      graft.operators.Stats.columnStatsApprox(Tables.orders(s, d),
          Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"))
        .join(graft.operators.Stats.columnStats(Tables.orders(s, d),
            Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"))
          .select(col("column"), col("ndv").as("ndv_exact")), Seq("column"))
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("min_value"), col("max_value"),
          (abs(col("ndv") - col("ndv_exact")).cast("double") /
            greatest(col("ndv_exact"), lit(1L)) <= 0.10).as("ndv_ok"))
        .orderBy("column"),
      // the HLL twin: exact stats recomputed, ndv_ok literally true (the
      // 10% = 2-sigma bound is the invariant the Spark side must prove)
      """WITH s AS (SELECT * FROM orders)
        |SELECT "column", n_rows, n_nulls, min_value, max_value, true AS ndv_ok FROM (
        |  SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |    count(*) - count(o_custkey) AS n_nulls,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_value, CAST(max(o_custkey) AS VARCHAR) AS max_value
        |  FROM s
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
        |    CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM s
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM s
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM s)
        |ORDER BY "column"""".stripMargin),

    // -- [NS] grouped z-score anomaly detection: per-type mean/std from
    // decimal-exact moments (n, Σx, Σx²) so the thresholds are
    // bit-identical cross-engine; the 5-row stats table broadcasts back
    // and the outlier filter is a map-side residual on the scan. --
    Query("q_zscore_outliers", (s, d) => {
      val m = events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sx"),
          sum((col("value") * col("value")).cast("decimal(28,6)"))
            .cast("double").as("sxx"))
      val st = m.select(col("event_type"),
        (col("sx") / col("n")).as("mu"),
        sqrt(greatest(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), lit(0.0))).as("sigma"))
      events(s, d).join(broadcast(st), Seq("event_type"))
        .where(col("sigma") > 0 && abs(col("value") - col("mu")) > lit(3) * col("sigma"))
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("v"),
          round((col("value") - col("mu")) / col("sigma"), 4).as("z"))
        .orderBy("event_id")
    },
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, sx / n AS mu,
        |  sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0)) AS sigma FROM m)
        |SELECT event_id, e.event_type, round(value, 4) AS v,
        |  round((value - mu) / sigma, 4) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE sigma > 0 AND abs(value - mu) > 3 * sigma
        |ORDER BY event_id""".stripMargin),

    // -- [NS] exponential rolling smoother (EWMA, 8-term lag form): the
    // recursion is unrolled to 8 explicit lag terms with 2^-k weights —
    // every weight is an exact binary double and both engines sum the
    // terms in the same written order, so the result is bit-deterministic
    // with no decimal detour. Per-user window: state stays user-local. --
    Query("q_ewma_smooth", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val lags = (0 until 8).map { k =>
        if (k == 0) col("value") else lag(col("value"), k).over(w)
      }
      val num = lags.zipWithIndex.map { case (lg, k) =>
        when(lg.isNotNull, lg * lit(math.pow(0.5, k))).otherwise(lit(0.0))
      }.reduce(_ + _)
      val den = lags.zipWithIndex.map { case (lg, k) =>
        when(lg.isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0))
      }.reduce(_ + _)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("ewma", round(num / den, 6))
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("v"), col("ewma"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, round(value, 4) AS v,
        |  round(
        |    (CASE WHEN value IS NOT NULL THEN value * 1.0 ELSE 0 END
        |     + CASE WHEN lag(value, 1) OVER w IS NOT NULL THEN lag(value, 1) OVER w * 0.5 ELSE 0 END
        |     + CASE WHEN lag(value, 2) OVER w IS NOT NULL THEN lag(value, 2) OVER w * 0.25 ELSE 0 END
        |     + CASE WHEN lag(value, 3) OVER w IS NOT NULL THEN lag(value, 3) OVER w * 0.125 ELSE 0 END
        |     + CASE WHEN lag(value, 4) OVER w IS NOT NULL THEN lag(value, 4) OVER w * 0.0625 ELSE 0 END
        |     + CASE WHEN lag(value, 5) OVER w IS NOT NULL THEN lag(value, 5) OVER w * 0.03125 ELSE 0 END
        |     + CASE WHEN lag(value, 6) OVER w IS NOT NULL THEN lag(value, 6) OVER w * 0.015625 ELSE 0 END
        |     + CASE WHEN lag(value, 7) OVER w IS NOT NULL THEN lag(value, 7) OVER w * 0.0078125 ELSE 0 END)
        |    /
        |    (CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0 END
        |     + CASE WHEN lag(value, 1) OVER w IS NOT NULL THEN 0.5 ELSE 0 END
        |     + CASE WHEN lag(value, 2) OVER w IS NOT NULL THEN 0.25 ELSE 0 END
        |     + CASE WHEN lag(value, 3) OVER w IS NOT NULL THEN 0.125 ELSE 0 END
        |     + CASE WHEN lag(value, 4) OVER w IS NOT NULL THEN 0.0625 ELSE 0 END
        |     + CASE WHEN lag(value, 5) OVER w IS NOT NULL THEN 0.03125 ELSE 0 END
        |     + CASE WHEN lag(value, 6) OVER w IS NOT NULL THEN 0.015625 ELSE 0 END
        |     + CASE WHEN lag(value, 7) OVER w IS NOT NULL THEN 0.0078125 ELSE 0 END), 6) AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // -- [NS] grouped OLS trend (regr_slope/intercept semantics) from
    // decimal-exact moments (n, Σx, Σy, Σxy, Σx²) — the same convention as
    // q_corr_stats, so float addition order can't shift either engine's
    // slope. x = days since the epoch start of the event window. --
    Query("q_regr_trend", (s, d) => {
      val x = datediff(to_date(col("ts")), lit("2024-01-01")).cast("double")
      val m = events(s, d)
        .select(col("event_type"), col("value"), x.as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sy"),
          sum((col("x") * col("value")).cast("decimal(28,6)")).cast("double").as("sxy"),
          sum((col("x") * col("x")).cast("decimal(28,6)")).cast("double").as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      m.select(col("event_type"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
        .orderBy("event_type")
    },
      """WITH pts AS (
        |  SELECT event_type, value,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * value AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT event_type, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
        |FROM m ORDER BY 1""".stripMargin),

    // -- [NS] weighted aggregate surface: per-type value-weighted mean
    // with the weight parsed from the JSON props column; both moment sums
    // are decimal-exact so the final division divides identical bits. --
    Query("q_weighted_avg", (s, d) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      events(s, d)
        .select(col("event_type"), col("value"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") * col("k")).cast("decimal(28,6)")).cast("double").as("swx"),
          sum(col("k").cast("decimal(28,6)")).cast("double").as("sw"))
        .select(col("event_type"), col("n"),
          round(col("swx") / col("sw"), 6).as("wavg"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        |  round(
        |    CAST(sum(CAST(value * CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(28,6))) AS DOUBLE) /
        |    CAST(sum(CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(28,6))) AS DOUBLE), 6) AS wavg
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] bitmap aggregate family (Spark 4): exact distinct counting
    // through roaring-style position bitmaps — the mergeable EXACT
    // distinct structure (HLL's q_agg_approx_distinct is the approximate
    // sibling). user_id < 32768 keeps one bucket; the lake-scale form
    // adds bitmap_bucket_number to the key. Must equal countDistinct. --
    Query("q_bitmap_distinct", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          // +1: bitmap_bit_position is 1-based (position v-1); value 0
          // would fall off the bitmap and undercount by one
          bitmap_count(bitmap_construct_agg(bitmap_bit_position(col("user_id") + 1)))
            .as("nd_bitmap"),
          countDistinct(col("user_id")).as("nd_exact"))
        .orderBy("event_type"),
      // the bitmap's exact distinct = plain COUNT(DISTINCT)
      """SELECT event_type,
        |  count(DISTINCT user_id) AS nd_bitmap,
        |  count(DISTINCT user_id) AS nd_exact
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] grouped Pearson correlation from decimal-exact moments (the
    // streaming corr() aggregate is float-order-sensitive; this form isn't) --
    Query("q_corr_stats", (s, d) => {
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").cast("double")
      events(s, d)
        .select(col("event_type"), col("value"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).as("sx"),
          sum(col("k").cast("decimal(28,6)")).as("sy"),
          sum((col("value") * col("k")).cast("decimal(28,6)")).as("sxy"),
          sum((col("value") * col("value")).cast("decimal(28,6)")).as("sxx"),
          sum((col("k") * col("k")).cast("decimal(28,6)")).as("syy"))
        .select(col("event_type"), col("n"),
          round(
            (col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
              sqrt((col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
                (col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("corr_vk"))
        .orderBy("event_type")
    },
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(value * CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(json_extract_string(props, '$.k') AS INT) * CAST(json_extract_string(props, '$.k') AS INT) AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr_vk
        |FROM m ORDER BY event_type""".stripMargin),

    // -- [NS] RANGE window frame (time-valued): per-type trailing-1h sum.
    // RANGE frames are tie-insensitive, so no ordering tiebreak is needed --
    Query("q_window_range_frame", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(unix_millis(col("ts")))
        .rangeBetween(-3600000L, 0L)
      events(s, d)
        .select(col("event_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("trailing_1h"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY event_type ORDER BY epoch_ms(ts)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_1h
        |FROM events ORDER BY event_id""".stripMargin),
  )
}
