package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one run in one local-mode JVM.
  * Prints the environment record, then the result object as the last line
  * of standard output, and writes everything (with the spans of a traced
  * run) to `<results>/<workload>-seed<seed>-trace<0|1>.json`. Exits 0 only
  * when every correctness gate passed.
  */
object Main {
  /** End-to-end metrics: every workload reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "unit_p50_ms" -> "ms",
    "stored_bytes_per_input_byte" -> "B/B")

  /** Spans whose Spark counters the traced run reports. */
  val CountedSpans: Seq[String] = Seq("logstore.write", "logstore.open") ++ LogServe.Ops ++
    Seq("textindex.append", "textindex.serve", "textindex.delete", "maintenance.run",
      "dedup.append", "dedup.delete", "dedup.compact")
  val Counters: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "task_cpu_ms" -> "ms", "shuffle_write_bytes" -> "bytes", "output_bytes" -> "bytes",
    "files_rewritten" -> "count")

  /** Per-layer metrics: every traced run reports each of them; a layer a
    * workload does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "chunker.cpu_ms" -> "ms", "chunker.chunks_per_split_doc" -> "count",
    "chunker.zipped_bytes" -> "bytes", "codec.zip_ms_per_mb" -> "ms/MB",
    "codec.unzip_ms_per_mb" -> "ms/MB",
    "logstore.ingest_s" -> "s", "logstore.write_s" -> "s",
    "logstore.files_written_per_batch" -> "count", "logstore.bytes_written_per_batch" -> "bytes",
    "logstore.partition_dirs_per_batch" -> "count", "ingest.tasks" -> "count",
    "ingest.max_over_median_task_ms" -> "ratio", "ingest.batch_p50_s" -> "s",
    "ingest.batch_p90_s" -> "s", "logstore.open_ms" -> "ms") ++
    LogServe.Ops.flatMap(op => Seq(s"$op.call_ms" -> "ms", s"$op.plan_ms" -> "ms",
      s"$op.exec_ms" -> "ms", s"$op.files_read" -> "count", s"$op.partitions_read" -> "count",
      s"$op.rows_scanned_per_row_returned" -> "ratio")) ++
    Seq("recent_by_type.p90_ms" -> "ms", "textindex.append_s" -> "s", "textindex.serve_ms" -> "ms",
      "textindex.delete_s" -> "s", "maintenance.run_s" -> "s", "dedup.append_s" -> "s",
      "dedup.delete_s" -> "s", "dedup.compact_s" -> "s") ++
    CountedSpans.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
    Seq("store.files" -> "count", "store.bytes" -> "bytes", "jvm.gc_ms" -> "ms",
      "jvm.heap_peak_mb" -> "MB", "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts.parse(args))
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(o0: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val o = o0.copy(work = new File(o0.work, s"${o0.workload}-${ProcessHandle.current().pid()}"))
    deleteTree(o.work)
    o.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.tmp.getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, o, tracer)
    val out = new Outcome

    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(_.getCollectionTime).sum
    val setups = try {
      o.workload match {
        case "log_ingest" => LogIngest.run(ctx, out)
        case "log_serve" => LogServe.run(ctx, out)
        case "index_lifecycle" => IndexLifecycle.run(ctx, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally deleteTree(o.work)
    val gcMs = (gcs.map(_.getCollectionTime).sum - gc0).toDouble
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    out.e2e("setup_s") = sessionS + Stats.median(setups)

    if (o.trace) {
      for (s <- CountedSpans; (c, _) <- Counters) out.layer(s"$s.$c") = ctx.counter(s, c)
      ctx.storeAfterUnit.lastOption.foreach { case (f, b) =>
        out.layer("store.files") = f.toDouble
        out.layer("store.bytes") = b.toDouble
      }
      out.layer("jvm.gc_ms") = gcMs
      out.layer("jvm.heap_peak_mb") = heapPeakMb
      // the same units over the same indices, without and then with the tracer
      val plain = ctx.untracedUnits.sum
      out.layer("trace.overhead_pct") = (ctx.units.sum - plain) / plain * 100
    }
    val chosen = if (o.trace) PerLayer else EndToEnd
    val metrics = collection.immutable.ListMap(chosen.map { case (name, unit) =>
      name -> Map("value" -> out.layer.getOrElse(name, out.e2e.getOrElse(name, 0.0)), "unit" -> unit)
    }: _*)
    val correct = out.failed == 0 && out.attempted > 0
    val result = Json(collection.immutable.ListMap("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics))

    val env = collection.immutable.ListMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> o.cpus, "heap" -> o.heap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "session_start_s" -> sessionS, "setup_reps_s" -> setups,
      "measured_s" -> ctx.measuredSeconds, "units" -> ctx.units.length,
      "jvm_gc_ms" -> gcMs, "jvm_heap_peak_mb" -> heapPeakMb,
      "sizes" -> out.sizes)
    val record = collection.immutable.ListMap[String, Any](
      "env" -> env, "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures, "end_to_end" -> out.e2e, "per_layer" -> out.layer,
      "exact" -> out.exact, "unit_s" -> ctx.units, "untraced_unit_s" -> ctx.untracedUnits,
      "store_after_unit" -> ctx.storeAfterUnit.map { case (f, b) => Map("files" -> f, "bytes" -> b) },
      "spans" -> (if (o.trace) ctx.spans.map(s => collection.immutable.ListMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ns / 1e6,
        "counters" -> s.counters)) else Nil))
    o.results.mkdirs()
    val pw = new PrintWriter(new File(o.results,
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"))
    try pw.println(Json(record)) finally pw.close()

    // stop Spark before printing, so no shutdown chatter follows the result line
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case NonFatal(_) => }
    println(Json(Map("env" -> env)))
    println(result)
    Console.out.flush()
    if (correct) 0 else 1
  }
}
