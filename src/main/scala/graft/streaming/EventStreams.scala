package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType
import graft.operators.StoredTable.StoreWriter

/** Structured Streaming surface over the `events` table.
  *
  * The reference is batch-only, but its data model is an append-only
  * event-time log (`JsTimeOfCreation` + descending reads) — the streaming
  * shape. These transforms are written once and run in BOTH modes: the
  * batch equivalents are declared in `SparkEntry.queries`
  * (oracle-checkable), and the same exprs bind to `readStream` here.
  *
  * Scale posture: every aggregation below is keyed (window / user), so
  * state partitions by key across executors; watermarks bound state size —
  * the two properties that keep a stream alive at 100 TB/day.
  */
object EventStreams {

  /** Schema of the events table (FIXTURES.md). */
  val eventsSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** File-based stream source over a directory of events parquet. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Stream source over the driver testdata's TIMESTAMP(NANOS) parquet —
    * the same raw-nanos shim as `Tables.events` (Spark 4 rejects nanos
    * timestamps unless read as long), applied on the streaming read path.
    */
  def readEventsNanos(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanosSchema = StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    // glob form of the file path: FileStreamSource derives basePath from the
    // non-glob prefix (the parent DIRECTORY); a bare file path would be used
    // as basePath itself and rejected ("must be a directory")
    val cut = path.lastIndexOf('/')
    val glob = path.substring(0, cut + 1) + "{" + path.substring(cut + 1) + "}"
    // sniff the on-disk layout once: raw-long ts under the legacy conf vs
    // a real timestamp column; for the long form, the epoch UNIT comes
    // from the SHARED min/max band sniff (graft.Tables.sniffEpochToNs —
    // the same same-band guard the batch loader applies, memoized per
    // path; the testdata's physical form has changed across regenerations,
    // and a silent nanos assumption over millis data would misdate every
    // event)
    val batch = spark.read.parquet(path)
    if (batch.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
      val toNs = graft.Tables.sniffEpochToNs(spark, batch, path)
      val tsUs = if (toNs == 1L) expr("ts div 1000")
                 else expr(s"(ts * $toNs) div 1000")
      spark.readStream.schema(nanosSchema).parquet(glob)
        .withColumn("ts", timestamp_micros(tsUs))
    } else
      spark.readStream.schema(eventsSchema).parquet(glob)
  }

  /** Tumbling 1-day counts per event type, 1-hour watermark: late events
    * beyond the watermark are dropped, closing windows and bounding state.
    */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("day_start"), col("event_type"), col("n"), col("total_value"))

  /** Sliding 1-hour windows every 15 minutes — rate monitoring shape. */
  def slidingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Parametrized sliding-window counts (no grouping key beyond the window)
    * — the oracle-gated streaming shape for q_stream_sliding.
    */
  def slidingCounts(events: DataFrame, win: String, slide: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), win, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Stream-static enrichment join: the canonical production shape — an
    * event stream joined to a slowly-changing dimension table, then
    * aggregated by a dimension attribute. The static side is broadcast, so
    * the join is STATELESS (no stream-side state, no watermark needed for
    * the join itself): each micro-batch hash-joins against the executor-
    * local dim copy, which is exactly how a 1000-executor topology enriches
    * — the dim rides with the task binary, the stream never shuffles for
    * the join. Only the downstream keyed aggregation carries state.
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame,
                     dimKey: String, dimName: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim.select(col(dimKey), col(dimName))),
        col("user_id") === col(dimKey))
      .groupBy(col(dimName))
      .agg(count(lit(1)).as("n"))

  /** Per-user session windows (30-minute gap), watermarked. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Per-user session counts (30-minute gap) — the oracle-gated streaming
    * shape: counts only, because a double sum's value depends on state-merge
    * order while a count does not.
    */
  def userSessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Phase 1 of the skew-safe streaming aggregation (docs/PLANS.md "Skew
    * handling"): totals per event_type with state keyed by
    * (event_type, salt). Streaming has no AQE and state partitioning is
    * fixed at the checkpoint's first start, so a hot type would funnel one
    * state partition forever; the salt spreads it over `salts` keys. The
    * salt derives from the DATA (hash of event_id), not the partition id,
    * so a replayed row lands on the same state key — required for
    * exactly-once restates. Money sums accumulate exact integer cents
    * (Long state), the engine-wide determinism convention.
    */
  def saltedTypeTotals(events: DataFrame, salts: Int = 16): DataFrame =
    events
      .groupBy(col("event_type"), pmod(hash(col("event_id")), lit(salts)).as("salt"))
      .agg(count(lit(1)).as("pn"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("pcents"))

  /** Phase 2: the cheap batch combine over the per-salt partials — `salts`
    * rows per key, so this never sees data-scale volume.
    */
  def combineSaltedTotals(partials: DataFrame): DataFrame =
    partials.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        (sum(col("pcents")) / 100.0).as("total"))

  /** Exactly-once-per-key dedup within the watermark horizon — streaming
    * exact dedup (the streaming twin of `Dedup.exact`).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks in the preceding hour. Both sides are watermarked, and the join
    * condition bounds event-time distance, so state for both streams is
    * evictable — the two requirements for an unbounded stream-stream join.
    * The identical expression runs in batch as `q_interval_join`
    * (oracle-checked); the streaming spec asserts result equality.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER interval join: every click, matched to the
    * same user's purchases in the following hour — clicks with no purchase
    * emit null-extended ONCE the watermark proves no match can still
    * arrive. This is the outer-join contract batch engines get for free
    * and streaming must earn with state eviction: a left row finalizes
    * when `click_ts + 1h` falls behind the global watermark
    * (min over both sides' `max(event time) - 1h`). The driver-visible
    * result therefore excludes unmatched clicks inside the final
    * watermark horizon — exactly the rows a still-running job could yet
    * match — and the batch twin reproduces that boundary explicitly.
    */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT SEMI interval join — "which clicks converted":
    * each click emits (left columns only, exactly once) as soon as ANY
    * same-user purchase lands in its forward hour; unmatched clicks never
    * emit, so no watermark-finality boundary appears in the result — the
    * batch EXISTS twin is exact with no horizon clause. Completes the
    * stream-stream join family (inner, left outer, full outer, left semi);
    * state eviction still needs both watermarks, matched-click state just
    * also retires early on first match.
    */
  def clickPurchaseSemiJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "leftSemi")
  }

  /** Stream-stream FULL OUTER interval join — both unmatched sides emit
    * null-extended once the watermark proves no match can arrive: an
    * unmatched click finalizes when `click_ts + 1h` falls behind the
    * global watermark (no purchase in its forward window can appear), an
    * unmatched purchase when `purchase_ts` itself does (every click that
    * could precede it inside the hour is already final). Completes the
    * stream-stream join family (inner, left outer, full outer); the twin
    * reproduces both boundaries explicitly.
    */
  def clickPurchaseFullJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "fullOuter")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("purchase_id"), col("click_ts"), col("purchase_ts"))
  }

  case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Public: the state encoder's generated code constructs it reflectively. */
  case class TotalsState(n: Long, cents: Long)

  /** Per-user running totals with EXPLICIT state — the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` surface for custom
    * state machines the built-in aggregates can't express. State partitions
    * by user across executors; in streaming each micro-batch folds into the
    * persisted state, in batch it degenerates to a typed groupBy (which is
    * what the DuckDB oracle checks).
    *
    * Money-sum determinism at Long state cost: HALF_UP decimal rounding
    * happens once per row in the codegen'd cast below (identical semantics
    * to the engine-wide `dsum` convention); state accumulates exact integer
    * cents, so output doubles are identical regardless of row order — and
    * the state encoder serializes two primitive longs instead of a
    * per-row-allocated Decimal object graph. `cents/100.0` is the correctly
    * rounded IEEE quotient of two exact doubles (|cents| ≪ 2⁵³), i.e. the
    * same bits `BigDecimal(cents, 2).toDouble` produces.
    */
  def statefulUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TotalsState, UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[TotalsState]) =>
          var n = 0L; var cents = 0L
          rows.foreach { r => n += 1; cents += r._2 }
          val prev = state.getOption.getOrElse(TotalsState(0L, 0L))
          val acc = TotalsState(prev.n + n, prev.cents + cents)
          state.update(acc)
          Iterator(UserTotal(uid, acc.n, acc.cents / 100.0))
      }
      .toDF()
  }

  /** Open-session state for gap sessionization: epoch-ms bounds + count. */
  case class SessAcc(startMs: Long, lastMs: Long, n: Long)

  case class SessionRow(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization as an EXPLICIT state machine —
    * `flatMapGroupsWithState` with **event-time timeout**, the surface for
    * session semantics the built-in `session_window` can't express (emit on
    * close, custom merge rules, per-session derived state). A session
    * closes two ways, and both emit exactly once:
    *
    *   - a later event of the same user arrives more than `gapMs` after the
    *     session's last event → the old session emits in that batch, the new
    *     one opens;
    *   - no such event can ever arrive: the registered event-time timeout
    *     (`lastMs + gapMs`) falls behind the watermark → the open session
    *     emits from the timeout callback and its state is removed.
    *
    * The driver-visible result therefore excludes each user's final session
    * when it is still inside the final watermark horizon (max event time −
    * 1 h) — the same explicitly-reproduced boundary as the stream-stream
    * outer join's (`clickPurchaseLeftJoin`); the oracle twin states it as a
    * predicate. Timestamps are ms-truncated (`unix_millis`), the engine-wide
    * sessionization convention (`q_sessionize`).
    *
    * Scale shape: state is ONE fixed-size record per open session key
    * (three longs — not the session's events), partitioned by user across
    * executors; timeouts bound state lifetime to gap + watermark delay. The
    * per-invocation sort sees one user's single-batch rows, not the stream.
    */
  def gapSessions(spark: SparkSession, events: DataFrame,
                  gapMs: Long = 1800000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessAcc, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[SessAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionRow(uid, new java.sql.Timestamp(s.startMs), s.n))
          } else {
            val sorted = rows.map(_._3).toArray
            java.util.Arrays.sort(sorted)
            val out = Seq.newBuilder[SessionRow]
            var cur = state.getOption.orNull
            sorted.foreach { ms =>
              if (cur == null) cur = SessAcc(ms, ms, 1L)
              // min/max merge: an in-watermark event can arrive in a LATER
              // micro-batch with ms < cur.lastMs (cross-batch disorder; the
              // per-batch sort only orders within a batch). Taking min/max
              // keeps the session envelope correct instead of rewinding
              // lastMs to the stale early event. Out of scope (documented):
              // an early event that should SPLIT an already-merged session
              // or BRIDGE two already-emitted ones — that needs buffered
              // per-event state, not this fixed-size accumulator.
              else if (ms - cur.lastMs <= gapMs)
                cur = SessAcc(math.min(cur.startMs, ms), math.max(cur.lastMs, ms), cur.n + 1L)
              else {
                out += SessionRow(uid, new java.sql.Timestamp(cur.startMs), cur.n)
                cur = SessAcc(ms, ms, 1L)
              }
            }
            if (cur != null) {
              state.update(cur)
              // a timeout in the past is rejected by the state store; clamp
              // to just above the current watermark (emits on the next tick)
              state.setTimeoutTimestamp(
                math.max(cur.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  case class SketchRow(event_type: String, sketch: Array[Long])

  /** Streaming quantile sketches — the DDSketch rollup's streaming half:
    * the SAME canonical bucket-count state accumulates across micro-batches
    * under `flatMapGroupsWithState`, because bucket-wise addition commutes
    * with ANY partitioning of the rows — batch/stream equivalence is a
    * property of the sketch, not of the harness. Each batch emits the
    * group's updated serialized sketch; the final row per key is the sketch
    * of every row seen, bit-identical to the batch aggregator's
    * (`QuantileSketch.sketch`) output on the same data — which is exactly
    * what `q_stream_quantile` gates.
    *
    * State is O(buckets touched) per key (~hundreds of longs), partitioned
    * by key across executors; no watermark is needed because the sketch
    * never evicts — a production job bounds state by keying on
    * (type, window) instead, and merges windows with `mergeSketch`.
    */
  def streamingQuantiles(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.QuantileSketch
    events
      .select(col("event_type"), col("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], SketchRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[Array[Long]]) =>
          var m = Map.empty[Int, Long]
          rows.foreach { r =>
            val b = QuantileSketch.bucketOf(r._2)
            m = m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          val merged = QuantileSketch.mergePacked(
            state.getOption.getOrElse(Array.empty[Long]),
            QuantileSketch.pack(m))
          state.update(merged)
          Iterator(SketchRow(key, merged))
      }
      .toDF()
  }

  /** State-V2 (`transformWithState`) processor: the modern arbitrary-state
    * API Spark 4 ships to replace `flatMapGroupsWithState` — typed, named
    * state cells fetched from a handle instead of one opaque state object,
    * first-class timers, and TTL. Same Long-cents determinism contract as
    * [[statefulUserTotals]], whose semantics this mirrors exactly so the
    * two APIs are gated by the same oracle.
    */
  class TotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[TotalsState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[TotalsState]("totals",
        org.apache.spark.sql.Encoders.product[TotalsState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[UserTotal] = {
      var n = 0L; var cents = 0L
      rows.foreach { r => n += 1; cents += r._2 }
      val prev = if (totals.exists()) totals.get() else TotalsState(0L, 0L)
      val acc = TotalsState(prev.n + n, prev.cents + cents)
      totals.update(acc)
      Iterator(UserTotal(uid, acc.n, acc.cents / 100.0))
    }
  }

  /** Per-user running totals on the State-V2 API — the `transformWithState`
    * twin of [[statefulUserTotals]]. Requires the RocksDB state-store
    * provider (the State-V2 backend); callers set it for the run like
    * `q_stream_rocksdb` does.
    */
  def statefulUserTotalsV2(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TotalsProcessor, TimeMode.None(), OutputMode.Update(),
        implicitly[org.apache.spark.sql.Encoder[UserTotal]])
      .toDF()
  }

  /** Streaming→table upsert through `foreachBatch` — the idempotent MERGE
    * sink pattern: each micro-batch aggregates its own rows (cents-exact),
    * merges them into the previous target version by key, and writes the
    * result as a NEW immutable version directory named by `batchId`
    * (`v0, v1, …`). A replayed batch after failure overwrites ITS OWN
    * version — same inputs, same prior version, same output — which is
    * exactly-once effect on top of the source's at-least-once replay,
    * the property a real lakehouse MERGE sink (Delta/Iceberg commit) gives
    * and plain parquet append does not.
    *
    * Versions commit ATOMICALLY via [[graft.operators.Layout.commitVersion]]:
    * the batch writes to a staged temp directory, renames it into place,
    * and swaps the `_LATEST` pointer — a concurrent reader resolves the
    * pointer and can never observe a half-written version, the property
    * plain directory listing lacks once readers and the writer race.
    *
    * Scale shape: the per-batch merge is one keyed hash aggregate over
    * (previous state ∪ batch aggregate) — both sides key-partitioned, no
    * driver-side state; versions are O(distinct keys), not O(events).
    */
  def upsertUserTotals(stream: DataFrame, targetRoot: String,
                       mergePartitions: Int = 8): Unit = {
    // same explicit-sizing decision as runToMemory's statePartitions: the
    // per-batch merge is a keyed aggregate over O(distinct keys) rows, and
    // each shuffle partition costs a task per micro-batch regardless of
    // data volume — size to the key cardinality, not the session default
    val spark = stream.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", mergePartitions)
    try upsertUserTotalsRun(stream, targetRoot)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def upsertUserTotalsRun(stream: DataFrame, targetRoot: String): Unit = {
    val q = stream
      .select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .writeStream
      .option("checkpointLocation", s"$targetRoot/_chk")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val agg = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val merged = latestVersion(targetRoot, below = batchId) match {
          case Some(prev) =>
            spark.read.parquet(prev).unionByName(agg)
              .groupBy(col("user_id"))
              .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
          case None => agg
        }
        val staged = s"$targetRoot/_staged_v$batchId"
        merged.storeWrite.mode("overwrite").parquet(staged)
        graft.operators.Layout.commitVersion(targetRoot, batchId, staged)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The upsert target's current state: the highest committed version. */
  def latestUpsertState(spark: SparkSession, targetRoot: String): DataFrame = {
    val path = latestVersion(targetRoot, below = Long.MaxValue)
      .getOrElse(sys.error(s"no committed version under $targetRoot"))
    spark.read.parquet(path)
      .select(col("user_id"), col("n"),
        (col("cents") / 100.0).as("total"))
  }

  /** Newest COMMITTED version below `below`: only versions the `_LATEST`
    * pointer has reached count — a dangling directory from a crash between
    * the commit's two renames is invisible here, so both the merge's
    * previous-state read and the serving read resolve committed state
    * only. Targets without a pointer (pre-protocol) fall back to pure
    * directory listing.
    */
  private def latestVersion(root: String, below: Long): Option[String] = {
    val ceiling = graft.operators.Layout.committedVersion(root)
    graft.operators.Layout.listVersions(root)
      .filter(v => v < below && ceiling.forall(v <= _))
      .headOption // listVersions is newest-first
      .map(v => s"$root/v$v")
  }

  /** Streaming trending top-k: per-day top-`k` event types by running
    * count. Window-rank functions are unsupported INSIDE a stream (no
    * incremental plan exists for a rank over mutating state), so this is
    * the production pattern: the stream maintains the keyed aggregate —
    * the part that needs incremental state — and each micro-batch's
    * `foreachBatch` ranks the complete aggregate as a plain batch frame
    * and overwrites the serving table (idempotent: same state → same
    * ranking → same overwrite, so a replayed batch is harmless).
    *
    * Scale shape: state is O(days × types) — key-partitioned, bounded;
    * the ranked overwrite is window work over that same bounded state,
    * not the event stream.
    */
  def trendingTypes(stream: DataFrame, targetRoot: String, k: Int = 3,
                    statePartitions: Int = 8): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = stream.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val agg = stream
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("day_start"), col("event_type"), col("n"))
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$targetRoot/_chk")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val byDay = Window.partitionBy(col("day_start"))
            .orderBy(col("n").desc, col("event_type"))
          batch.withColumn("rk", row_number().over(byDay))
            .where(col("rk") <= k)
            .storeWrite.mode("overwrite").parquet(s"$targetRoot/current")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Incremental catch-up run (`Trigger.AvailableNow`): process every file
    * currently in `inDir` through a stateless filter+project into an
    * append parquet sink, then STOP. The checkpoint's file index carries
    * processed-file state across runs, so a later invocation over a grown
    * directory processes ONLY the new files — the "nightly incremental
    * batch" production pattern: exactly-once per file with no always-on
    * cluster, and a re-run after failure resumes from the last committed
    * epoch instead of double-appending.
    *
    * Scale shape: per run, cost is O(new files) — the source lists the
    * directory once and diffs against the checkpoint index; committed
    * files are never re-read. At lake scale the listing itself is the
    * bound, which is why production sources partition input directories
    * by arrival date (noted here; the contract is unchanged).
    */
  def catchUpAvailableNow(spark: SparkSession, inDir: String,
                          sinkDir: String, chkDir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    val src = spark.readStream.schema(schema).parquet(inDir)
      .where(col("event_type").isin("click", "purchase"))
    val q = src.writeStream
      .format("parquet")
      .options(graft.operators.StoredTable.storeWriteOptions)
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }

  /** STATEFUL catch-up: per-user running totals maintained ACROSS separate
    * `AvailableNow` runs through the checkpoint's state store. Each
    * nightly-style run reads only the files the file index hasn't seen,
    * folds them into the persisted aggregate state, and overwrites the
    * serving table with the complete result — incremental analytics
    * without an always-on cluster, the stateful upgrade of
    * [[catchUpAvailableNow]]. If a later run re-read an earlier arrival,
    * the totals would double it — so the batch-rollup oracle is itself the
    * exactly-once evidence.
    *
    * Scale shape: per run, input cost is O(new files); state is O(distinct
    * users), key-partitioned; the complete-mode overwrite is state-sized,
    * not input-sized. Cents-Long state (not per-row decimal) per the
    * measured stateful_totals lesson.
    */
  def catchUpRunningTotals(spark: SparkSession, inDir: String,
                           targetRoot: String,
                           statePartitions: Int = 8): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val schema = StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      val agg = spark.readStream.schema(schema).parquet(inDir)
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val q = agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$targetRoot/_chk")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.storeWrite.mode("overwrite").parquet(s"$targetRoot/current")
          ()
        }
        .start()
      try q.awaitTermination() finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run any of the above to completion against a static directory via the
    * memory sink — the synchronous harness pattern for tests.
    *
    * `statePartitions` pins the stream's state-store partition count
    * (`spark.sql.shuffle.partitions` at first start of a fresh checkpoint —
    * immutable for the checkpoint's lifetime, so it is an explicit,
    * per-query sizing decision, not ambient session config). Size it to the
    * stateful-key cardinality and executor count: a production cluster job
    * wants executors×cores; a bounded single-JVM micro-batch wants a small
    * count, because each state partition costs per-batch provider/commit
    * overhead regardless of data volume (measured 2× wall on the interval
    * join going 32 → 8 at sf0.1). Pass None to inherit the session value.
    */
  def runToMemory(
      stream: DataFrame,
      name: String,
      outputMode: String = "update",
      statePartitions: Option[Int] = None): Unit = {
    // NOTE: mutates the session-global shuffle-partition conf for the run's
    // duration — callers (Verify/Bench/specs) execute queries sequentially
    // on the shared session, which is the supported mode; concurrent streams
    // on one session would need per-stream sessions instead.
    val spark = stream.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
    try {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .start()
      // stop() in finally: a failed micro-batch must not leave the query
      // active holding its queryName (a retry under the same name would fail)
      try q.processAllAvailable()
      finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
