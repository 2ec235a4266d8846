package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Structured Streaming inside the gate: windows, stream-stream joins,
  * session and arbitrary state, dedup, MERGE sinks, AvailableNow
  * catch-up, change feeds and the state data source.
  */
private[graft] object StreamingQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] REAL Structured Streaming execution inside the gate: the
    // watermarked tumbling aggregation runs as a file stream through the
    // memory sink to completion, and its FINAL table must hash-match the
    // batch oracle — streaming is oracle-gated, not just batch-twinned.
    // Counts only: a double sum's value depends on state-merge order.
    Query("q_stream_tumbling", (s, d) => {
      val stream = graft.streaming.EventStreams
        .tumblingDaily(graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
        .select("day_start", "event_type", "n")
      graft.streaming.EventStreams.runToMemory(stream, "q_stream_tumbling_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_tumbling_mem").orderBy("day_start", "event_type")
    },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- [NS] REAL streaming stream-stream interval join: both sides are
    // watermarked file streams of the same events table; inner-join matches
    // emit as they arrive (append mode), state evicts by event-time bound.
    // The final memory table must hash-match the batch interval join. --
    Query("q_stream_interval", (s, d) => {
      val ev = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      val joined = graft.streaming.EventStreams.clickPurchaseJoin(ev, ev)
      graft.streaming.EventStreams.runToMemory(joined, "q_stream_interval_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_interval_mem").orderBy("user_id", "click_id", "purchase_id")
    },
      // streamed result must equal the batch interval join (q_interval_join)
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),

    // -- [NS] REAL streaming stream-stream LEFT OUTER interval join:
    // unmatched clicks null-extend only after the watermark proves no
    // match can arrive, so the twin filters unmatched rows to the
    // finalized region (click_ts + 1h < final global watermark). --
    Query("q_stream_outer", (s, d) => {
      val ev = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      val joined = graft.streaming.EventStreams.clickPurchaseLeftJoin(ev, ev)
      graft.streaming.EventStreams.runToMemory(joined, "q_stream_outer_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_outer_mem")
        .orderBy("user_id", "click_id", "purchase_id")
    },
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, ts AS purchase_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT user_id, click_id, purchase_id, click_ts, purchase_ts
        |  FROM c LEFT JOIN p ON user_id = p_user_id
        |    AND purchase_ts >= click_ts AND purchase_ts <= click_ts + INTERVAL 1 HOUR),
        |w AS (SELECT least(
        |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'click'),
        |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'purchase'))
        |  - INTERVAL 1 HOUR AS wm)
        |SELECT user_id, click_id, purchase_id, click_ts, purchase_ts
        |FROM j, w
        |WHERE purchase_id IS NOT NULL OR click_ts + INTERVAL 1 HOUR < wm
        |ORDER BY user_id, click_id, purchase_id""".stripMargin),

    // -- [NS] REAL streaming stream-stream LEFT SEMI interval join:
    // "which clicks converted" — a click emits exactly once on its first
    // matching purchase; unmatched clicks never emit, so the batch EXISTS
    // twin is exact with no watermark-horizon clause --
    Query("q_stream_semi", (s, d) => {
      val ev = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      val joined = graft.streaming.EventStreams.clickPurchaseSemiJoin(ev, ev)
      graft.streaming.EventStreams.runToMemory(joined, "q_stream_semi_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_semi_mem").orderBy("user_id", "click_id")
    },
      // streamed LEFT OUTER interval join: matched rows equal the batch
      // left join; unmatched rows are exactly those the final watermark
      // finalized (click_ts + 1h behind min-over-sides max event time - 1h,
      // ms-floored the way Spark tracks event-time stats)
      // semi join: clicks with at least one same-user purchase in the
      // forward hour — exact, no horizon clause (unmatched rows never emit)
      """SELECT c.user_id, c.click_ts, c.click_id
        |FROM (SELECT user_id, ts AS click_ts, event_id AS click_id
        |      FROM events WHERE event_type = 'click') c
        |WHERE EXISTS (SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |    AND p.ts >= c.click_ts AND p.ts <= c.click_ts + INTERVAL 1 HOUR)
        |ORDER BY user_id, click_id""".stripMargin),

    // -- [NS] REAL streaming stream-stream FULL OUTER interval join: both
    // sides' unmatched rows emit null-extended at watermark finality;
    // explicit NULLS LAST on both engines (Spark defaults nulls-first,
    // DuckDB nulls-last — the full join is where that first matters) --
    Query("q_stream_full", (s, d) => {
      val ev = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      val joined = graft.streaming.EventStreams.clickPurchaseFullJoin(ev, ev)
      graft.streaming.EventStreams.runToMemory(joined, "q_stream_full_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_full_mem")
        .orderBy(col("user_id"), col("click_id").asc_nulls_last,
          col("purchase_id").asc_nulls_last)
    },
      // full-outer twin: matched rows always; unmatched clicks final when
      // click_ts + 1h < wm; unmatched purchases final when purchase_ts < wm
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, ts AS purchase_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT coalesce(user_id, p_user_id) AS user_id, click_id, purchase_id,
        |             click_ts, purchase_ts
        |  FROM c FULL JOIN p ON user_id = p_user_id
        |    AND purchase_ts >= click_ts AND purchase_ts <= click_ts + INTERVAL 1 HOUR),
        |w AS (SELECT least(
        |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'click'),
        |    (SELECT date_trunc('millisecond', max(ts)) FROM events WHERE event_type = 'purchase'))
        |  - INTERVAL 1 HOUR AS wm)
        |SELECT user_id, click_id, purchase_id, click_ts, purchase_ts
        |FROM j, w
        |WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
        |   OR (purchase_id IS NULL AND click_ts + INTERVAL 1 HOUR < wm)
        |   OR (click_id IS NULL AND purchase_ts < wm)
        |ORDER BY user_id, click_id NULLS LAST, purchase_id NULLS LAST""".stripMargin),

    // -- [NS] REAL streaming session windows through the state store; the
    // final table must hash-match the batch session-window oracle --
    Query("q_stream_session", (s, d) => {
      val sess = graft.streaming.EventStreams.userSessionCounts(
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
      graft.streaming.EventStreams.runToMemory(sess, "q_stream_session_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_session_mem").orderBy("user_id", "session_start")
    },
      // streamed session windows must equal the batch session-window twin
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

    // -- [NS] the same REAL streaming session windows through the RocksDB
    // state store provider — the production provider once state outgrows
    // executor heap (heap provider state is memory-bound; RocksDB state
    // lives on executor-local disk with the same checkpoint contract). Must
    // hash-match the identical batch oracle: the provider is an execution
    // detail, never a semantics change. --
    // -- [NS] REAL streaming run: gap sessionization as an explicit
    // flatMapGroupsWithState state machine with EVENT-TIME TIMEOUT — close
    // by successor emits in-batch, close by silence emits from the timeout
    // callback; each user's still-open final session (inside the watermark
    // horizon) is withheld, and the oracle reproduces that boundary --
    Query("q_stream_fmgs", (s, d) => {
      val sess = graft.streaming.EventStreams.gapSessions(s,
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
      graft.streaming.EventStreams.runToMemory(sess, "q_stream_fmgs_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_fmgs_mem").orderBy("user_id", "session_start")
    },
      // twin of EventStreams.gapSessions: 30-min-gap sessions at ms precision;
      // a session is VISIBLE iff a successor session closed it in-stream OR its
      // event-time timeout (last+gap) fell behind the final watermark
      // (max event time - 1h) — each user's still-open final session inside
      // the horizon is exactly what a still-running job could yet extend
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |lagged AS (
        |  SELECT user_id, ms,
        |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |           OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (SELECT user_id, ms, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM lagged),
        |sess AS (SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS last_ms,
        |                count(*) AS n_events FROM g GROUP BY 1, 2),
        |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events)
        |SELECT user_id, make_timestamp(start_ms * 1000) AS session_start, n_events
        |FROM sess, wm
        |WHERE sid < (SELECT max(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
        |   OR last_ms + 1800000 < w
        |ORDER BY user_id, session_start""".stripMargin),

    // -- [NS] State-V2 `transformWithState` (the modern arbitrary-state
    // API): per-user running totals in a typed ValueState cell on the
    // RocksDB backend — REAL streaming run, same oracle as the
    // flatMapGroupsWithState form (q_stateful_totals) --
    Query("q_stream_tws", (s, d) => {
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val totals = graft.streaming.EventStreams.statefulUserTotalsV2(s,
          graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
        graft.streaming.EventStreams.runToMemory(totals, "q_stream_tws_mem", "update",
          statePartitions = Some(8))
      } finally prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      // update mode emits one row per (micro-batch, key); the final state
      // per user is the row with the largest n (monotone accumulation)
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
      s.table("q_stream_tws_mem")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
        .orderBy("user_id")
    },
      // the transformWithState twin must land on the identical totals
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_stream_rocksdb", (s, d) => {
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val sess = graft.streaming.EventStreams.userSessionCounts(
          graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
        graft.streaming.EventStreams.runToMemory(sess, "q_stream_rocksdb_mem", "complete",
          statePartitions = Some(8))
      } finally prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.table("q_stream_rocksdb_mem").orderBy("user_id", "session_start")
    },
      // identical twin: the state-store provider must not change the result
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

    // -- [NS] REAL streaming sliding windows (2h window / 1h slide), same
    // aggregation as the batch q_sliding_2h so the final memory table must
    // hash-match that query's oracle --
    Query("q_stream_sliding", (s, d) => {
      val slid = graft.streaming.EventStreams.slidingCounts(
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"),
        "2 hours", "1 hour")
      graft.streaming.EventStreams.runToMemory(slid, "q_stream_sliding_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_sliding_mem").orderBy("w_start")
    },
      // streamed sliding windows must equal the batch q_sliding_2h twin
      """SELECT w_start, count(*) AS n FROM (
        |  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
        |  FROM events)
        |GROUP BY w_start ORDER BY w_start""".stripMargin),

    // -- [NS] REAL streaming SALTED aggregation — the skew-safe streaming
    // shape (docs/PLANS.md "Skew handling"): streaming has no AQE and state
    // partitioning is fixed at checkpoint birth, so a hot key funnels one
    // state partition with no runtime rescue. Phase 1 keys state by
    // (event_type, hash(event_id) % 16); phase 2 is the bounded batch
    // combine (16 partial rows per type). Totals must hash-match the plain
    // per-type oracle — salting must not change a single bit. --
    Query("q_stream_salted", (s, d) => {
      val partials = graft.streaming.EventStreams.saltedTypeTotals(
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"))
      graft.streaming.EventStreams.runToMemory(partials, "q_stream_salted_mem", "complete",
        statePartitions = Some(8))
      graft.streaming.EventStreams.combineSaltedTotals(s.table("q_stream_salted_mem"))
        .orderBy("event_type")
    },
      // salted streaming totals must equal the UNsalted per-type aggregate:
      // the salt is invisible in the result (exact integer-cents accumulation
      // on both paths)
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] REAL streaming exact dedup: the input is the events table
    // DOUBLED (every row appears twice, written once per JVM), streamed
    // through dropDuplicatesWithinWatermark — so the dedup state does real
    // work and the per-type counts of the memory sink must hash-match the
    // batch distinct-event_id oracle on the ORIGINAL table. Completes the
    // streaming surface: windows, sessions, join, dedup. --
    Query("q_stream_dedup", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"dedup2x:$d", {
        val out = scratchDir("graft_streamdedup") + "/events2x"
        val ev = events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
        ev.union(ev).write.mode("overwrite").parquet(out)
        out
      })
      val deduped = graft.streaming.EventStreams.dedupedEvents(
        graft.streaming.EventStreams.readEvents(s, dir))
        .select("event_id", "event_type")
      graft.streaming.EventStreams.runToMemory(deduped, "q_stream_dedup_mem", "append",
        statePartitions = Some(8))
      s.table("q_stream_dedup_mem")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      // the stream consumed the DOUBLED table; surviving exactly one row per
      // event_id means per-type counts equal the original table's distinct ids
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] REAL streaming stream-static enrichment join: the event
    // stream joins a static nation dim (broadcast — stateless, no join
    // state) and aggregates per dim attribute; the final memory table must
    // hash-match the batch join oracle. The canonical production
    // enrichment topology: dim rides executor-local, the stream never
    // shuffles for the join. --
    Query("q_stream_enrich", (s, d) => {
      val enriched = graft.streaming.EventStreams.enrichedCounts(
        graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet"),
        Tables.nation(s, d), "n_nationkey", "n_name")
      graft.streaming.EventStreams.runToMemory(enriched, "q_stream_enrich_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_enrich_mem").orderBy("n_name")
    },
      // the streamed enrichment join's final table equals the batch join
      """SELECT n_name, count(*) AS n
        |FROM events JOIN nation ON user_id = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] streaming dedup against HISTORY: the incoming stream
    // anti-joins a static set of already-ingested keys (event_id < 5000 =
    // "yesterday's corpus") — the shape an incremental ingest actually
    // runs, complementing within-stream dedup (q_stream_dedup). The static
    // key set broadcasts; the join is stateless; only the downstream
    // per-type count carries state. --
    Query("q_stream_dedup_hist", (s, d) => {
      val history = events(s, d).where(col("event_id") < 5000)
        .select(col("event_id"))
      val incoming = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      val fresh = incoming
        .join(broadcast(history), Seq("event_id"), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.EventStreams.runToMemory(fresh, "q_stream_dedup_hist_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_dedup_hist_mem").orderBy("event_type")
    },
      // the anti-joined stream equals the batch filter: only events outside
      // the historical key set survive
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_id >= 5000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] STREAMING data-quality gate: the audit counters run as a
    // streaming global aggregate (complete mode — violation counts are
    // exactly the bounded state a quality monitor keeps), then the wide
    // 1-row result stacks to long form batch-side. Expectations over the
    // live events stream; one rule (value ≤ 195) deliberately trips. --
    Query("q_stream_audit", (s, d) => {
      val ev = graft.streaming.EventStreams.readEventsNanos(s, s"$d/events.parquet")
      def viol(p: org.apache.spark.sql.Column) =
        sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L))
      val wide = ev.agg(
        viol(col("event_id").isNotNull).as("id_not_null"),
        viol(col("user_id").between(0, 24)).as("user_in_dim_range"),
        viol(col("value") >= 0).as("value_nonneg"),
        viol(col("value") <= 195).as("value_le_195"))
      graft.streaming.EventStreams.runToMemory(wide, "q_stream_audit_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_audit_mem")
        .selectExpr("stack(4, 'id_not_null', `id_not_null`, " +
          "'user_in_dim_range', `user_in_dim_range`, " +
          "'value_nonneg', `value_nonneg`, " +
          "'value_le_195', `value_le_195`) as (rule, violations)")
        .select(col("rule"), col("violations"), (col("violations") === 0).as("ok"))
        .orderBy("rule")
    },
      // the streamed audit's final counters equal the batch recount
      """WITH v AS (
        |  SELECT 'id_not_null' AS rule,
        |    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM events
        |  UNION ALL SELECT 'user_in_dim_range',
        |    CAST(sum(CASE WHEN NOT coalesce(user_id BETWEEN 0 AND 24, false) THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL SELECT 'value_le_195',
        |    CAST(sum(CASE WHEN NOT coalesce(value <= 195, false) THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL SELECT 'value_nonneg',
        |    CAST(sum(CASE WHEN NOT coalesce(value >= 0, false) THEN 1 ELSE 0 END) AS BIGINT) FROM events)
        |SELECT rule, violations, violations = 0 AS ok
        |FROM v ORDER BY rule""".stripMargin),

    // -- [NS] the streaming pipeline COMPOSED: watermarked exact dedup →
    // stream-static broadcast enrichment → keyed aggregation, chained
    // stateful operators in ONE streaming query over the DOUBLED input
    // (reuses q_stream_dedup's fixture). The final table must hash-match
    // the batch chain on the original table — streaming composition is
    // oracle-gated just like the batch q_pipeline_e2e. --
    Query("q_stream_pipeline", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"dedup2x:$d", {
        val out = scratchDir("graft_streamdedup") + "/events2x"
        val ev = events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
        ev.union(ev).write.mode("overwrite").parquet(out)
        out
      })
      val deduped = graft.streaming.EventStreams.dedupedEvents(
        graft.streaming.EventStreams.readEvents(s, dir))
      val enriched = deduped
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("user_id") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"))
      graft.streaming.EventStreams.runToMemory(enriched, "q_stream_pipeline_mem", "complete",
        statePartitions = Some(8))
      s.table("q_stream_pipeline_mem").orderBy("n_name")
    },
      // the composed stream (dedup → enrich → agg over the DOUBLED input)
      // equals the batch chain on the original table
      """SELECT n_name, count(DISTINCT event_id) AS n
        |FROM events JOIN nation ON user_id = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] REAL streaming foreachBatch MERGE sink: the events stream
    // arrives in 4 micro-batches (maxFilesPerTrigger=1 over a 4-file input)
    // and each batch UPSERTS per-user totals into a versioned parquet
    // target — replay-idempotent (a re-run batch overwrites its own
    // version). The final committed state must hash-match the batch
    // group-by over the whole table. Input files are scratch-cached once;
    // the streamed upsert itself re-runs per invocation into a fresh
    // target, so the bench times the sink, not a cache. --
    Query("q_stream_upsert", (s, d) => {
      val in = scratchDirs.getOrElseUpdate(s"upsert_in:$d", {
        val out = scratchDir("graft_upsert_in") + "/events4x"
        events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .repartition(4)
          .write.mode("overwrite").parquet(out)
        out
      })
      val target = scratchDir("graft_upsert_tgt")
      val stream = s.readStream
        .schema(graft.streaming.EventStreams.eventsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      graft.streaming.EventStreams.upsertUserTotals(
        stream, target)
      graft.streaming.EventStreams
        .latestUpsertState(s, target)
        .orderBy("user_id")
    },
      // the streamed upsert's final committed version equals the batch rollup
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] STATEFUL AvailableNow catch-up: running per-user totals fold
    // across two separate runs through the checkpoint's state store — run 2
    // reads only the second arrival yet serves totals over everything; a
    // re-read of arrival 1 would double it, so the batch-rollup oracle is
    // the exactly-once evidence --
    Query("q_availablenow_totals", (s, d) => {
      val root = availTotalsRoot(s, d)
      s.read.parquet(s"$root/tgt/current")
        .select(col("user_id"), col("n"), (col("cents") / 100.0).as("total"))
        .orderBy("user_id")
    },
      // state folded across two catch-up runs = the one-shot batch rollup
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] CDC-style change feed between two served versions of the
    // catch-up target: run-1 state (even event_ids) full-outer-joined to
    // run-2 state (everything) per user — inserts (new users) vs updates
    // (grown totals); the oracle recomputes both versions relationally.
    // Append-only source ⇒ no deletes, and that absence is part of the
    // declared result. --
    Query("q_cdc_diff", (s, d) => {
      val root = availTotalsRoot(s, d)
      val v1 = s.read.parquet(s"$root/tgt/snap1")
        .select(col("user_id"), col("n").as("n1"), col("cents").as("c1"))
      val v2 = s.read.parquet(s"$root/tgt/current")
        .select(col("user_id"), col("n").as("n2"), col("cents").as("c2"))
      v1.join(v2, Seq("user_id"), "full_outer")
        .withColumn("change_type",
          when(col("n1").isNull, lit("insert"))
            .when(col("n1") =!= col("n2"), lit("update"))
            .otherwise(lit("unchanged")))
        .select(col("user_id"), col("change_type"),
          coalesce(col("n2"), lit(0L)).as("n"),
          (coalesce(col("c2"), lit(0L)) / 100.0).as("total"))
        .orderBy("user_id")
    },
      // both versions recomputed relationally (v1 = even event_ids only)
      """WITH v1 AS (
        |  SELECT user_id, count(*) AS n1
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
        |v2 AS (
        |  SELECT user_id, count(*) AS n2,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1)
        |SELECT v2.user_id,
        |  CASE WHEN v1.user_id IS NULL THEN 'insert'
        |       WHEN v1.n1 <> v2.n2 THEN 'update'
        |       ELSE 'unchanged' END AS change_type,
        |  v2.n2 AS n, v2.total
        |FROM v2 LEFT JOIN v1 ON v2.user_id = v1.user_id
        |ORDER BY v2.user_id""".stripMargin),

    // -- [NS] State Data Source (Spark 4): the stateful catch-up's
    // checkpoint READ BACK as a DataFrame — state-store introspection, the
    // debugging/audit surface for production stateful jobs. The aggregate
    // buffer (count, cents-sum per user key) must itself equal the batch
    // rollup: state is data here, not a black box. --
    Query("q_state_reader", (s, d) => {
      val root = availTotalsRoot(s, d)
      s.read.format("statestore").load(s"$root/tgt/_chk")
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n"),
          (col("value.sum") / 100.0).as("total"))
        .orderBy("user_id")
    },
      // the state store's aggregate buffers = the same batch rollup
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] streaming trending top-k: the stream maintains the per-(day,
    // type) aggregate (the part needing incremental state); each micro-
    // batch ranks the complete state in foreachBatch and overwrites the
    // serving table — window-rank is unsupported inside a stream, and this
    // is the production split. Final table = batch rank twin. --
    Query("q_stream_trending", (s, d) => {
      val in = scratchDirs.getOrElseUpdate(s"upsert_in:$d", {
        val out = scratchDir("graft_upsert_in") + "/events4x"
        events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .repartition(4)
          .write.mode("overwrite").parquet(out)
        out
      })
      val target = scratchDir("graft_trending")
      val stream = s.readStream
        .schema(graft.streaming.EventStreams.eventsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      graft.streaming.EventStreams.trendingTypes(
        stream, target, k = 3)
      s.read.parquet(target + "/current")
        .orderBy("day_start", "rk")
    },
      // the serving table after the final micro-batch = the batch rank
      """WITH c AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT day_start, event_type, n,
        |        row_number() OVER (PARTITION BY day_start ORDER BY n DESC, event_type) AS rk
        |      FROM c)
        |SELECT day_start, event_type, n, CAST(rk AS INT) AS rk FROM r WHERE rk <= 3
        |ORDER BY day_start, rk""".stripMargin),

    // -- [NS] Trigger.AvailableNow incremental catch-up: the events land in
    // TWO arrivals (even ids, then odd ids appended); each arrival is
    // followed by a catch-up run that processes only the files the
    // checkpoint hasn't seen, appending to one parquet sink. If the second
    // run re-processed the first arrival the append sink would double those
    // rows — so the oracle (one aggregate over everything, exactly once) IS
    // the exactly-once-per-file evidence. Incremental file counts are
    // additionally asserted in EventStreamsSpec. --
    Query("q_stream_availablenow", (s, d) => {
      val root = scratchDirs.getOrElseUpdate(s"availnow:$d", {
        val r = scratchDir("graft_availnow")
        val ev = events(s, d).select("event_id", "user_id", "event_type", "value")
        ev.where(col("event_id") % 2 === 0).write.parquet(s"$r/in")
        graft.streaming.EventStreams.catchUpAvailableNow(s, s"$r/in", s"$r/sink", s"$r/chk")
        ev.where(col("event_id") % 2 =!= 0).write.mode("append").parquet(s"$r/in")
        graft.streaming.EventStreams.catchUpAvailableNow(s, s"$r/in", s"$r/sink", s"$r/chk")
        r
      })
      s.read.parquet(s"$root/sink")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    },
      // two catch-up runs over two arrivals = every qualifying event exactly
      // once in the sink (a re-processed arrival would double its rows)
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- [NS] version-retention vacuum: a multi-version MERGE-sink target
    // (4 micro-batch versions) vacuumed to keep=1 — old versions deleted,
    // the served state untouched; the oracle is the same batch rollup the
    // surviving version must equal, and VacuumSpec asserts the deletions --
    Query("q_vacuum", (s, d) => {
      val root = scratchDirs.getOrElseUpdate(s"vacuum:$d", {
        val r = scratchDir("graft_vacuum")
        events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .repartition(4)
          .write.mode("overwrite").parquet(s"$r/in")
        val stream = s.readStream
          .schema(graft.streaming.EventStreams.eventsSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$r/in")
        graft.streaming.EventStreams.upsertUserTotals(stream, s"$r/tgt")
        graft.operators.Layout.vacuumVersions(s"$r/tgt", keep = 1)
        r
      })
      graft.streaming.EventStreams.latestUpsertState(s, s"$root/tgt")
        .orderBy("user_id")
    },
      // the surviving (latest) version after vacuum = the batch rollup
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] explicit-state operator (flatMapGroupsWithState) in batch;
    // streaming twin in EventStreams, state semantics tested there --
    Query("q_stateful_totals", (s, d) =>
      graft.streaming.EventStreams.statefulUserTotals(s, events(s, d))
        .orderBy("user_id"),
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
