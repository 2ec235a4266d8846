package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call at a layer boundary. `startMs`/`endMs` are wall-clock
  * milliseconds (the clock Spark stamps job submissions with); `ns` is the
  * monotonic duration. Spark work is attributed only to `counted` spans,
  * so a phase span (a call's plan or execute step) leaves its work with
  * the call around it.
  */
final case class Span(id: Int, parent: Int, name: String, request: Long,
                      startMs: Long, var endMs: Long, var ns: Long, counted: Boolean) {
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spark-side counters for the benchmark's spans.
  *
  * Attached to Spark only for a run's traced window. A listener records
  * every job (submission time, tasks, task CPU, shuffle and output bytes,
  * task durations) and every SQL execution submitted inside a unit.
  * [[attribute]] then gives each job and execution to the innermost counted
  * span whose window holds its submission time; span boundaries are whole
  * milliseconds apart from any other Spark work (see `Ctx.span`). Job
  * groups are deliberately not used: the engine submits appends and
  * erasures from the long-lived threads of its shared writer pool, which
  * do not inherit the caller's thread-local job group, so only the
  * submission time identifies the span. The loop has a single client, so
  * span windows of one nesting level never overlap.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final class JobRec(val submitMs: Long) {
    var ended = false
    var tasks = 0
    var cpuNs = 0L
    var shuffleWrite = 0L
    var output = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private final class SqlRec(val id: Long, val startMs: Long) { var ended = false }

  @volatile private var on = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val j = new JobRec(e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.ended = true)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if on => sqls(s.executionId) = new SqlRec(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => sqls.get(s.executionId).foreach(_.ended = true)
      case _ =>
    }
  }

  def begin(): Unit = on = true

  /** Stop recording once every recorded job and execution has ended.
    * Spark posts a job's end and an execution's end before the action
    * returns, so after the unit's last call they are at most in flight on
    * the listener bus; wait for two quiet polls in a row.
    */
  def end(): Unit = {
    def pending = synchronized(jobs.values.exists(!_.ended) || sqls.values.exists(!_.ended))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(25)
      quiet = if (pending) 0 else quiet + 1
    }
    on = false
  }

  private def innermost(spans: Seq[Span], ms: Long): Option[Span] =
    spans.filter(s => s.counted && s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => (s.startMs, s.id)).lastOption

  /** Add Spark counters and scan/write SQL metrics to the spans. */
  def attribute(spans: Seq[Span]): Unit = synchronized {
    for (j <- jobs.values; s <- innermost(spans, j.submitMs)) {
      s.add("jobs", 1)
      s.add("tasks", j.tasks)
      s.add("task_cpu_ms", j.cpuNs / 1e6)
      s.add("shuffle_write_bytes", j.shuffleWrite.toDouble)
      s.add("output_bytes", j.output.toDouble)
      if (j.taskMs.nonEmpty) {
        val ms = j.taskMs.map(_.toDouble).toSeq
        s.add("straggler_sum", ms.max / math.max(1.0, Stats.median(ms)))
        s.add("straggler_jobs", 1)
      }
    }
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    for (q <- sqls.values; s <- innermost(spans, q.startMs)) {
      s.add("sql_executions", 1)
      val values = try store.executionMetrics(q.id) catch { case _: NoSuchElementException => Map.empty[Long, String] }
      val nodes = try store.planGraph(q.id).allNodes catch { case _: NoSuchElementException => Nil }
      def metric(m: org.apache.spark.sql.execution.ui.SQLPlanMetric): Double =
        values.get(m.accumulatorId).map(Tracer.leadingNumber).getOrElse(0.0)
      for (n <- nodes; m <- n.metrics) {
        val scan = n.name.startsWith("Scan")
        m.name match {
          case "number of files read" if scan => s.add("files_read", metric(m))
          case "number of partitions read" if scan => s.add("partitions_read", metric(m))
          case "number of output rows" if scan => s.add("rows_scanned", metric(m))
          case "number of written files" => s.add("files_rewritten", metric(m))
          case "number of dynamic part" => s.add("partition_dirs", metric(m))
          case _ =>
        }
      }
    }
  }
}

object Tracer {
  /** The total of a rendered count metric ("1,234"); size and timing
    * metrics are not read.
    */
  def leadingNumber(rendered: String): Double =
    """[0-9][0-9,]*""".r.findFirstIn(rendered.split("\n").last)
      .map(_.replace(",", "").toDouble).getOrElse(0.0)
}
