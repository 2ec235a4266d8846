package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import graft.operators.LogStore.LogDoc

/** Seeded input generators. Every input a workload sends (documents,
  * users, timestamps, payload sizes, query parameters, victim ids) comes
  * from here, from the run's `--seed` and a stream tag, so the same seed
  * gives the same inputs and sizes never depend on the seed.
  */
object Gen {

  /** A deterministic random stream for (seed, tag, index). */
  def rnd(seed: Long, tag: String, i: Long = 0L): Random =
    new Random(seed * 1000003L ^ tag.hashCode.toLong * 7919L ^ i * 104729L)

  val EventTypes: Vector[String] = Vector("view", "click", "edit", "share", "error")
  val Triggers: Vector[String] = Vector("api", "ui", "sync", "batch")

  /** Cumulative Zipf weights over `n` ranks; sample with [[zipf]]. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipf(r: Random, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def userId(u: Int): String = f"u$u%04d"

  /** Fixed vocabulary of pseudo-words, the same for every seed. */
  val Vocab: Vector[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 800) {
      val syll = 2 + r.nextInt(2)
      seen += (0 until syll).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}").mkString
    }
    seen.toVector
  }
  val VocabCdf: Array[Double] = zipfCdf(Vocab.length, 1.0)

  /** Compressible, log-shaped payload of about `chars` characters. */
  def logPayload(r: Random, chars: Int, user: String, js: Long): String = {
    val sb = new java.lang.StringBuilder(chars + 256)
    sb.append("<log user=\"").append(user).append("\" t=\"").append(js).append("\">")
    var line = 0
    while (sb.length < chars) {
      sb.append("<e n=\"").append(line).append("\" k=\"")
        .append(EventTypes(r.nextInt(EventTypes.length))).append("\">")
      var w = 0
      val words = 4 + r.nextInt(12)
      while (w < words) {
        sb.append(Vocab(zipf(r, VocabCdf))).append(' ')
        w += 1
      }
      sb.append(r.nextInt(100000)).append("</e>")
      line += 1
    }
    sb.append("</log>").toString
  }

  private val Noise = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq('+', '/')

  /** Low-compressibility payload (uniform over 64 symbols: deflate keeps
    * about 6 of every 8 bits), so a few MB of it is over the chunk cap.
    */
  def noisePayload(r: Random, chars: Int): String = {
    val a = new Array[Char](chars)
    var i = 0
    while (i < chars) { a(i) = Noise(r.nextInt(64)); i += 1 }
    new String(a)
  }

  /** One batch of log documents: `n` docs over `users` users (uniform),
    * `oversized` of them at `bigChars` characters of noise placed at
    * seeded positions, the rest 1-8 KB log payloads. `js_time_of_creation`
    * is unique per document and increases with `timeBase`, so
    * (user_id, js_time_of_creation) identifies a document.
    */
  def logBatch(seed: Long, tag: String, batch: Int, n: Int, users: Int,
               oversized: Int, bigChars: Int, timeBase: Long): Vector[LogDoc] = {
    val r = rnd(seed, tag, batch.toLong)
    val big = r.shuffle((0 until n).toVector).take(oversized).toSet
    (0 until n).map { i =>
      val user = userId(r.nextInt(users))
      val js = timeBase + i * 1000L + r.nextInt(1000)
      val payload =
        if (big(i)) noisePayload(r, bigChars - r.nextInt(bigChars / 10))
        else logPayload(r, 1000 + r.nextInt(7000), user, js)
      LogDoc(user, EventTypes(r.nextInt(EventTypes.length)),
        Triggers(r.nextInt(Triggers.length)), js, payload)
    }.toVector
  }

  /** Text documents for the index workload: 20-80 Zipf-drawn words; about
    * one in twelve is a near-duplicate (one word changed) of an earlier
    * document of the same batch, so the MinHash path has drops to find.
    */
  def textBatch(seed: Long, tag: String, batch: Int, n: Int, firstId: Long): Vector[(Long, String)] = {
    val r = rnd(seed, tag, batch.toLong)
    val out = Vector.newBuilder[(Long, String)]
    val made = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      val words =
        if (i > 8 && r.nextInt(12) == 0) {
          val src = made(r.nextInt(i)).clone()
          src(r.nextInt(src.length)) = Vocab(zipf(r, VocabCdf))
          src
        } else Array.fill(20 + r.nextInt(61))(Vocab(zipf(r, VocabCdf)))
      made(i) = words
      out += ((firstId + i, words.mkString(" ")))
      i += 1
    }
    out.result()
  }

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
