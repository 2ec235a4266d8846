package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, heap: String,
                      work: File, tmp: File, results: File)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt,
      kv.getOrElse("heap", "?"), new File(need("work")), new File(need("tmp")),
      new File(need("results")))
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for the result and trace records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** What one run found: op accounting, gate failures, metrics, the sizes
  * of its inputs and stores, and the exact counts the self-check compares.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val sizes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val exact: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty

  /** Record the result of one checked op: false counts it failed. */
  def check(ok: Boolean, what: => String): Unit = {
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] gate failed: $what")
    }
  }
}

/** The run's clock and span recorder.
  *
  * A unit is one batch, one request round or one index cycle. Only the
  * code inside [[timed]] counts as measured time; correctness checks run
  * between timed sections. A window runs units until the measured time
  * reaches `--seconds` (at least one unit).
  *
  * [[measure]] runs the workload's window. In a traced run it runs the
  * window twice on equal fresh state: first without the [[Tracer]], then
  * with the tracer attached to Spark for the same number of units over the
  * same unit indices, so the two windows give the tracing overhead. The
  * metrics come from the last window.
  */
final class Ctx(val spark: SparkSession, val o: Opts, val tracer: Option[Tracer]) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val units: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty // measured s per unit
  /** Store files and bytes after each unit of the last window. */
  val storeAfterUnit: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** A traced run's untraced window: measured s per unit. */
  var untracedUnits: Vector[Double] = Vector.empty
  private var tracing = false
  private var limit = 0
  private var stack: List[Span] = Nil
  private var unitNs = 0L
  private var measuredNs = 0L
  private var request = 0L

  def measuredSeconds: Double = measuredNs / 1e9
  def keepGoing: Boolean =
    if (limit > 0) units.length < limit
    else measuredNs < (o.seconds * 1e9).toLong || units.isEmpty

  def nextRequest(): Long = { request += 1; request }

  private def reset(): Unit = {
    spans.clear()
    units.clear()
    storeAfterUnit.clear()
    measuredNs = 0L
  }

  /** Run `window(pass)` as described above (`pass` 0, then 1 when traced)
    * and return its last result. Anything before this call is warm-up: its
    * spans are dropped.
    */
  def measure[T](window: Int => T): T = {
    reset()
    tracer match {
      case None => window(0)
      case Some(t) =>
        window(0)
        untracedUnits = units.toVector
        reset()
        limit = untracedUnits.length
        spark.sparkContext.addSparkListener(t)
        tracing = true
        try window(1)
        finally {
          tracing = false
          spark.sparkContext.removeSparkListener(t)
          t.attribute(spans.toSeq)
        }
    }
  }

  /** Run one unit; returns its measured seconds. */
  def unit(body: => Unit): Double = {
    if (tracing) tracer.get.begin()
    unitNs = 0L
    try body
    finally if (tracing) tracer.get.end()
    val s = unitNs / 1e9
    units += s
    measuredNs += unitNs
    s
  }

  /** Count `f` as measured time. */
  def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally unitNs += System.nanoTime() - t0
  }

  /** Wait for the wall clock to leave the current millisecond. Around a
    * counted span while tracing, so that no Spark job submitted before or
    * after the span carries one of the span's millisecond stamps.
    */
  private def nextMilli(): Unit = {
    val t = System.currentTimeMillis()
    while (System.currentTimeMillis() == t) Thread.onSpinWait()
  }

  /** Record `f` as a span named `name` of request `req`; see [[Span]] for `counted`. */
  def span[T](name: String, req: Long = 0L, counted: Boolean = true)(f: => T): T = {
    val strict = tracing && counted
    if (strict) nextMilli()
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, req,
      System.currentTimeMillis(), 0L, 0L, counted)
    spans += s
    stack = s :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      s.ns = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (strict) nextMilli()
    }
  }

  /** Durations (ms) of every span named `name`. */
  def ms(name: String): Seq[Double] = spans.filter(_.name == name).map(_.ns / 1e6).toSeq

  /** Mean of a Spark counter over the spans named `name` (0 in an
    * untraced run). Valid after [[measure]] returns.
    */
  def counter(name: String, key: String): Double =
    Stats.mean(spans.filter(_.name == name).map(_.counters.getOrElse(key, 0.0)).toSeq)

  /** Files and bytes of the data files under `dir` (Spark's `_`/`.` side files excluded). */
  def storeSize(dir: File): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
        files += 1
        bytes += f.length()
      }
    walk(dir)
    (files, bytes)
  }
}
