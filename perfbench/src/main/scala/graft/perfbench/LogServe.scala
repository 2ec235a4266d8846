package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.functions.Codec
import graft.operators.{Chunker, LogStore}
import graft.operators.LogStore.LogDoc

/** `log_serve`: the read path, read-only. Set-up builds a store with many
  * user partitions by the engine's own write path (`ingest` → `writeLogs`,
  * batch after batch, so every user directory holds several files of
  * several writer tasks); each request then opens it with `spark.read.parquet`
  * (a stateless handler must, to see new appends) and runs one of
  * `pointLookup`, `logChangesByType` or `getCombined`. A request round is
  * point_get, recent_by_type, point_get, combined_get, with users drawn
  * Zipf-skewed. Set-up runs twice, not three times: building the store
  * costs about 5 s warm and 11 s cold, and a third build would not fit
  * the benchmark's time budget.
  */
object LogServe {
  val Users = 60
  val SetupBatches = 2
  val BatchDocs = 200
  val OversizedPerBatch = 1
  val BigChars = 2500000
  val SetupReps = 2
  val RecentLimit = 10
  val RoundRequests = 4
  val Ops: Seq[String] = Seq("point_get", "recent_by_type", "combined_get")

  final case class Fixture(store: String, docs: Vector[LogDoc], ids: Map[(String, Long), String])

  def run(ctx: Ctx, out: Outcome): Seq[Double] = {
    val spark = ctx.spark
    implicit val session: org.apache.spark.sql.SparkSession = spark
    val seed = ctx.o.seed
    var fx: Fixture = null
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val store = new File(ctx.o.work, s"store$rep").getPath
      val docs = (0 until SetupBatches).flatMap { b =>
        val batch = Gen.logBatch(seed, "serve", b, BatchDocs, Users, OversizedPerBatch, BigChars,
          LogIngest.TimeBase + b * LogIngest.BatchSpanMs)
        LogStore.writeLogs(LogStore.ingest(LogIngest.dataset(spark, batch)), store)
        batch
      }.toVector
      // the client's id registry: (user, creation time) → the minted parent id
      val ids = spark.read.parquet(store).where(col("split_index") === 0)
        .select("user_id", "js_time_of_creation", "id").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
      fx = Fixture(store, docs, ids)
      (System.nanoTime() - t0) / 1e9
    }
    val docs = fx.docs
    val chunks: Map[(String, Long), Int] = docs.map { d =>
      (d.user_id, d.js_time_of_creation) ->
        (if (d.payload.length < Chunker.MaxDocBytes) 1 else Chunker.adaptiveChunks(d.payload).length)
    }.toMap
    val md5s = docs.map(d => (d.user_id, d.js_time_of_creation) -> Gen.md5(d.payload)).toMap
    val byUser = docs.groupBy(_.user_id)
    val split = docs.filter(d => chunks((d.user_id, d.js_time_of_creation)) > 1)
    // requests go to users with at least one unsplit doc, so every point_get has a target
    val userRank = Gen.rnd(seed, "serve-users").shuffle(byUser.keys.toVector.sorted
      .filter(u => byUser(u).exists(d => chunks((u, d.js_time_of_creation)) == 1)))
    val userCdf = Gen.zipfCdf(userRank.length, 1.1)
    def user(r: Random): String = userRank(Gen.zipf(r, userCdf))
    def unsplitOf(r: Random): LogDoc = {
      val own = byUser(user(r)).filter(d => chunks((d.user_id, d.js_time_of_creation)) == 1)
      own(r.nextInt(own.length))
    }

    /** One request: open, build, plan, execute; returns the collected rows. */
    def request(op: String, req: Long)(build: DataFrame => DataFrame): Array[Row] =
      ctx.timed {
        ctx.span(op, req) {
          val logs = ctx.span("logstore.open", req) { spark.read.parquet(fx.store) }
          val df = build(logs)
          ctx.span(s"$op.plan", req, counted = false) { df.queryExecution.executedPlan }
          ctx.span(s"$op.exec", req, counted = false) { df.collect() }
        }
      }
    def returned(op: String, n: Int): Unit =
      ctx.spans.reverseIterator.find(_.name == op).foreach(_.add("rows_returned", n))

    def pointGet(req: Long, d: LogDoc): Unit = {
      val id = fx.ids((d.user_id, d.js_time_of_creation))
      val rows = request("point_get", req)(LogStore.pointLookup(_, d.user_id, id))
      returned("point_get", rows.length)
      out.attempted += 1
      out.check(rows.length == 1 && rows(0).getAs[String]("id") == id &&
        rows(0).getAs[String]("user_id") == d.user_id &&
        Gen.md5(Codec.unzipStr(rows(0).getAs[Array[Byte]]("zipped_log"))) ==
          md5s((d.user_id, d.js_time_of_creation)),
        s"point_get $req: ${d.user_id}/$id returned ${rows.length} rows or a wrong payload")
    }

    def recentByType(req: Long, r: Random): Unit = {
      val u = user(r)
      val own = byUser(u)
      val t = Gen.EventTypes(r.nextInt(Gen.EventTypes.length))
      val times = own.map(_.js_time_of_creation).sorted
      val start = times(r.nextInt(times.length)) - r.nextInt(1000)
      val end = start + (LogIngest.BatchSpanMs * (0.3 + r.nextDouble())).toLong
      val rows = request("recent_by_type", req)(
        LogStore.logChangesByType(_, Some(u), Some(start), Some(end), Some(t), RecentLimit))
      returned("recent_by_type", rows.length)
      // newest first; a split doc's chunks share its time and sort by id suffix
      val want = own.filter(d => d.event_type == t && d.js_time_of_creation >= start &&
          d.js_time_of_creation < end)
        .flatMap { d =>
          (0 until chunks((u, d.js_time_of_creation))).map(k =>
            (d.js_time_of_creation, if (k == 0) "" else s"_split$k", k))
        }
        .sortBy { case (js, suffix, _) => (-js, suffix) }
        .take(RecentLimit).map { case (js, _, k) => (js, k) }
      val gotRows = rows.map(x => (x.getAs[Long]("js_time_of_creation"), x.getAs[Int]("split_index"))).toSeq
      val idsOk = rows.forall { x =>
        val parent = fx.ids((u, x.getAs[Long]("js_time_of_creation")))
        val k = x.getAs[Int]("split_index")
        x.getAs[String]("id") == (if (k == 0) parent else s"${parent}_split$k")
      }
      out.attempted += 1
      out.check(gotRows == want && idsOk,
        s"recent_by_type $req: $u/$t [$start,$end) got $gotRows want $want idsOk=$idsOk")
    }

    def combinedGet(req: Long, d: LogDoc): Unit = {
      val key = (d.user_id, d.js_time_of_creation)
      val rows = request("combined_get", req)(LogStore.getCombined(_, d.user_id, fx.ids(key)))
      returned("combined_get", rows.length)
      out.attempted += 1
      out.check(rows.length == 1 && rows(0).getAs[Int]("total_splits") == chunks(key) &&
        Gen.md5(rows(0).getAs[String]("payload")) == md5s(key),
        s"combined_get $req: ${d.user_id}/${fx.ids(key)} did not reassemble")
    }

    def round(i: Int): Unit = {
      val r = Gen.rnd(seed, "serve-round", i.toLong)
      val d1 = unsplitOf(r)
      val d2 = unsplitOf(r)
      val big = split(r.nextInt(split.length))
      pointGet(ctx.nextRequest(), d1)
      recentByType(ctx.nextRequest(), r)
      pointGet(ctx.nextRequest(), d2)
      combinedGet(ctx.nextRequest(), big)
    }

    round(-1) // untimed warm-up round (JIT, codegen, footer caches); its gates still count
    // both windows of a traced run serve the same rounds from the same store
    ctx.measure { _ =>
      var i = 0
      while (ctx.keepGoing) {
        ctx.unit(round(i))
        i += 1
        ctx.storeAfterUnit += ctx.storeSize(new File(fx.store))
      }
    }

    val (files, bytes) = ctx.storeSize(new File(fx.store))
    val payloadBytes = docs.map(_.payload.length.toLong).sum
    val requests = ctx.units.length * RoundRequests
    out.e2e("items_per_s") = requests / ctx.measuredSeconds
    out.e2e("unit_p50_ms") = Stats.median(ctx.units.map(_ * 1000).toSeq)
    out.e2e("stored_bytes_per_input_byte") = bytes.toDouble / payloadBytes
    out.sizes ++= Seq("rounds" -> ctx.units.length, "requests" -> requests,
      "docs" -> docs.length, "users" -> Users,
      "split_docs" -> split.length, "payload_bytes" -> payloadBytes,
      "oversized_share" -> OversizedPerBatch.toDouble / BatchDocs,
      "store_files" -> files, "store_bytes" -> bytes,
      "input_md5" -> Gen.md5(docs.map(_.payload.take(64)).mkString))
    for (op <- Ops) {
      out.exact(s"$op.jobs") = ctx.counter(op, "jobs").round
      out.exact(s"$op.files_read") = ctx.counter(op, "files_read").round
    }
    out.exact("logstore.open.jobs") = ctx.counter("logstore.open", "jobs").round
    out.exact("store_files") = files
    out.exact("stored_bytes") = bytes

    if (ctx.tracer.isDefined) {
      out.layer("logstore.open_ms") = Stats.median(ctx.ms("logstore.open"))
      for (op <- Ops) {
        out.layer(s"$op.call_ms") = Stats.median(ctx.ms(op))
        out.layer(s"$op.plan_ms") = Stats.median(ctx.ms(s"$op.plan"))
        out.layer(s"$op.exec_ms") = Stats.median(ctx.ms(s"$op.exec"))
        out.layer(s"$op.files_read") = ctx.counter(op, "files_read")
        out.layer(s"$op.partitions_read") = ctx.counter(op, "partitions_read")
        out.layer(s"$op.rows_scanned_per_row_returned") =
          ctx.counter(op, "rows_scanned") / math.max(1.0, ctx.counter(op, "rows_returned"))
      }
      out.layer("recent_by_type.p90_ms") = Stats.pct(ctx.ms("recent_by_type"), 90)
    }
    setups
  }
}
