package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Codec
import graft.operators.{Chunker, LogStore}
import graft.operators.LogStore.LogDoc

/** `log_ingest`: the write path. Batches of generated documents go through
  * `LogStore.ingest` → `LogStore.writeLogs` into one fresh user-partitioned
  * store; one document per batch is oversized noise, so the chunker's split
  * path runs in every batch.
  */
object LogIngest {
  val Users = 100
  val BatchDocs = 200
  val OversizedPerBatch = 1
  val BigChars = 3000000
  val PoolBatches = 8
  val SetupReps = 3
  val WarmupBatches = 2
  val UnsplitSample = 12
  val TimeBase = 1700000000000L
  val BatchSpanMs = 10000000L

  def dataset(spark: SparkSession, docs: Seq[LogDoc]): Dataset[LogDoc] =
    spark.createDataset(docs)(Encoders.product[LogDoc])

  def batch(seed: Long, i: Int): Vector[LogDoc] =
    Gen.logBatch(seed, "ingest", i, BatchDocs, Users, OversizedPerBatch, BigChars,
      TimeBase + i * BatchSpanMs)

  def run(ctx: Ctx, out: Outcome): Seq[Double] = {
    val spark = ctx.spark
    val seed = ctx.o.seed
    // set-up: the batch inputs the window is expected to need
    var pool = Vector.empty[Vector[LogDoc]]
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      pool = (0 until PoolBatches).map(batch(seed, _)).toVector
      (System.nanoTime() - t0) / 1e9
    }
    // untimed warm-up batches into a scratch store: batch times keep falling
    // for the first few batches of a fresh JVM (JIT), so the window starts after them
    val warm = new File(ctx.o.work, "warm").getPath
    for (w <- 1 to WarmupBatches)
      LogStore.writeLogs(LogStore.ingest(dataset(spark, batch(seed, -w))), warm)

    // each window writes its own fresh store and gates it
    val (written, store, rows, chunkRows) = ctx.measure { pass =>
      val store = new File(ctx.o.work, s"store$pass")
      val written = scala.collection.mutable.ArrayBuffer.empty[Vector[LogDoc]]
      while (ctx.keepGoing) {
        val i = written.length
        val docs = if (i < pool.length) pool(i) else batch(seed, i)
        ctx.unit {
          ctx.timed {
            ctx.span("logstore.write", i) {
              LogStore.writeLogs(LogStore.ingest(dataset(spark, docs)), store.getPath)
            }
          }
        }
        written += docs
        out.attempted += 1
        ctx.storeAfterUnit += ctx.storeSize(store)
      }
      val (rows, chunkRows) = gates(ctx, out, written.toSeq, store.getPath)
      (written.toSeq, store, rows, chunkRows)
    }
    pool = Vector.empty

    val docs = written.flatten.toVector
    val payloadBytes = docs.map(_.payload.length.toLong).sum
    val (files, bytes) = ctx.storeSize(store)
    val batchMs = ctx.units.map(_ * 1000).toSeq
    out.e2e("items_per_s") = docs.length / ctx.measuredSeconds
    out.e2e("unit_p50_ms") = Stats.median(batchMs)
    out.e2e("stored_bytes_per_input_byte") = bytes.toDouble / payloadBytes
    out.sizes ++= Seq("batches" -> written.length, "docs" -> docs.length, "users" -> Users,
      "payload_bytes" -> payloadBytes, "oversized_share" -> OversizedPerBatch.toDouble / BatchDocs,
      "store_files" -> files, "store_bytes" -> bytes,
      "input_md5" -> Gen.md5(written.head.map(_.payload.take(64)).mkString))
    out.exact ++= Seq("rows_written" -> rows, "chunk_rows" -> chunkRows,
      "files_written" -> files, "stored_bytes" -> bytes,
      "logstore.write.jobs" -> ctx.counter("logstore.write", "jobs").round)

    if (ctx.tracer.isDefined) layers(ctx, out, written)
    setups
  }

  /** Read-back gates, per batch: rows = Σ total_splits, every chunk under
    * the cap, ids unique, and every split doc plus a seeded sample of
    * unsplit docs reassembles to its generated payload (md5 and length).
    * Ids embed the creation time, which is unique per document and
    * disjoint across batches, so per-batch uniqueness is global uniqueness.
    * Returns the store's rows and chunk rows.
    */
  private def gates(ctx: Ctx, out: Outcome, batches: Seq[Vector[LogDoc]], store: String): (Long, Long) = {
    val spark = ctx.spark
    val logs = spark.read.parquet(store)
      .withColumn("b", ((col("js_time_of_creation") - TimeBase) / BatchSpanMs).cast("int"))
    val perBatch = logs.groupBy(col("b")).agg(
      count(lit(1)).as("rows"),
      sum(when(col("split_index") === 0, col("total_splits").cast("long")).otherwise(0L)).as("splits"),
      sum(when(col("split_index") === 0, 1L).otherwise(0L)).as("parents"),
      sum(when(col("split_index") === 0 && col("total_splits") > 1, 1L).otherwise(0L)).as("split_parents"),
      max(length(col("zipped_log"))).as("max_zip"),
      countDistinct(col("id")).as("ids"),
      sum(when(col("total_splits") > 1, 1L).otherwise(0L)).as("chunk_rows"))
      .collect().map(r => r.getInt(0) -> r).toMap
    val r = Gen.rnd(ctx.o.seed, "ingest-sample")
    val unsplit = batches.flatten.filter(_.payload.length < Chunker.MaxDocBytes)
    val sample = batches.flatten.filter(_.payload.length >= Chunker.MaxDocBytes) ++
      r.shuffle(unsplit).take(UnsplitSample)
    val want = sample.map(d => (d.user_id, d.js_time_of_creation) -> (Gen.md5(d.payload), d.payload.length)).toMap
    val got = LogStore.reassemble(logs.drop("b").where(
        col("js_time_of_creation").isin(sample.map(d => java.lang.Long.valueOf(d.js_time_of_creation)): _*)))
      .select(col("user_id"), col("js_time_of_creation"),
        md5(col("payload").cast("binary")), length(col("payload")))
      .collect().map(x => (x.getString(0), x.getLong(1)) -> (x.getString(2), x.getInt(3))).toMap
    batches.zipWithIndex.foreach { case (docs, i) =>
      val row = perBatch.get(i)
      val counts = row.exists { x =>
        x.getLong(1) == x.getLong(2) && x.getLong(3) == docs.length &&
          x.getLong(4) == OversizedPerBatch && x.getInt(5) <= Chunker.MaxDocBytes &&
          x.getLong(6) == x.getLong(1)
      }
      val keys = docs.map(d => (d.user_id, d.js_time_of_creation)).filter(want.contains)
      val reassembled = keys.forall(k => got.get(k).contains(want(k)))
      out.check(counts && reassembled, s"log_ingest batch $i: counts=$counts reassembled=$reassembled row=$row")
    }
    (perBatch.values.map(_.getLong(1)).sum, perBatch.values.map(_.getLong(7)).sum)
  }

  private def layers(ctx: Ctx, out: Outcome, batches: Seq[Vector[LogDoc]]): Unit = {
    val spark = ctx.spark
    val w = "logstore.write"
    out.layer("logstore.write_s") = Stats.median(ctx.ms(w)) / 1000
    val batchS = ctx.units.toSeq
    out.layer("ingest.batch_p50_s") = Stats.median(batchS)
    out.layer("ingest.batch_p90_s") = Stats.pct(batchS, 90)
    out.layer("logstore.files_written_per_batch") = ctx.counter(w, "files_rewritten")
    out.layer("logstore.bytes_written_per_batch") = ctx.counter(w, "output_bytes")
    out.layer("logstore.partition_dirs_per_batch") = ctx.counter(w, "partition_dirs")
    out.layer("ingest.tasks") = ctx.counter(w, "tasks")
    out.layer("ingest.max_over_median_task_ms") = Stats.mean(ctx.spans
      .filter(s => s.name == w && s.counters.contains("straggler_jobs"))
      .map(s => s.counters("straggler_sum") / s.counters("straggler_jobs")).toSeq)
    // the ingest plan alone, into the no-op sink
    out.layer("logstore.ingest_s") = Stats.median(batches.take(3).map { docs =>
      val t0 = System.nanoTime()
      LogStore.ingest(dataset(spark, docs)).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    })
    // single-threaded replays of the chunker and the codec over the run's payloads
    val cpu = ManagementFactory.getThreadMXBean
    val payloads = batches.flatten.map(_.payload)
    val c0 = cpu.getCurrentThreadCpuTime
    val chunked = payloads.map(Chunker.adaptiveChunksWithSizes)
    out.layer("chunker.cpu_ms") = (cpu.getCurrentThreadCpuTime - c0) / 1e6 / batches.length
    val split = chunked.filter(_.length > 1)
    out.layer("chunker.chunks_per_split_doc") = Stats.mean(split.map(_.length.toDouble))
    out.layer("chunker.zipped_bytes") = chunked.map(_.map(_._2.toLong).sum).sum.toDouble / batches.length
    val small = batches.head.map(_.payload).filter(_.length < Chunker.MaxDocBytes)
    val mb = small.map(_.length).sum / 1e6
    val z0 = cpu.getCurrentThreadCpuTime
    val zipped = small.map(Codec.zipStr)
    val z1 = cpu.getCurrentThreadCpuTime
    zipped.foreach(Codec.unzipStr)
    val z2 = cpu.getCurrentThreadCpuTime
    out.layer("codec.zip_ms_per_mb") = (z1 - z0) / 1e6 / mb
    out.layer("codec.unzip_ms_per_mb") = (z2 - z1) / 1e6 / mb
  }
}
