package graft

import graft.functions.Codec
import graft.operators.Chunker
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the pure tiler core (reference semantics:
  * `/root/reference/LogChange.cs:99-257,312-342`).
  */
class ChunkerSpec extends AnyFunSuite with Checkers {

  private val smallText: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("a", "b", " ", "\n", "ü", "中", "🙂")).map(_.mkString))

  test("splitFixed: concat of chunks restores the input") {
    check(Prop.forAll(smallText, Gen.choose(1, 64)) { (s, n) =>
      Chunker.splitFixed(s, n).mkString == s
    })
  }

  test("splitFixed: every chunk except the last is exactly chunkSize") {
    check(Prop.forAll(smallText.suchThat(_.nonEmpty), Gen.choose(1, 64)) { (s, n) =>
      val cs = Chunker.splitFixed(s, n)
      cs.dropRight(1).forall(_.length == n) && cs.last.length <= n
    })
  }

  test("splitFixed: short input ships as one chunk (reference fast path)") {
    assert(Chunker.splitFixed("abc", 10) == Vector("abc"))
    assert(Chunker.splitFixed("", 10) == Vector.empty)
  }

  test("combine inverts adaptiveChunks (small inputs)") {
    check(Prop.forAll(smallText) { s =>
      Chunker.combine(Chunker.adaptiveChunks(s).zipWithIndex.map(_.swap)) == s
    })
  }

  test("combine sorts by split index regardless of input order") {
    val chunks = Seq(2 -> "c", 0 -> "a", 1 -> "b")
    assert(Chunker.combine(chunks) == "abc")
  }

  test("adaptiveChunks: under-cap payload ships whole (short circuit)") {
    val s = "hello " * 1000
    assert(Chunker.adaptiveChunks(s) == Vector(s))
  }

  test("adaptiveChunks: oversized compressible payload splits losslessly under cap") {
    // ~8 MB with ~2× compressibility: a 4 MB random block repeated twice —
    // zips to ~3 MB, over the 1.5 MB cap, so it must split
    val s = TestText.random(4 * 1024 * 1024, seed = 7) * 2
    val chunks = Chunker.adaptiveChunks(s)
    assert(chunks.length > 1)
    assert(chunks.mkString == s)
    assert(chunks.forall(c => Codec.zippedSize(c) <= Chunker.MaxDocBytes))
  }

  test("adaptiveChunks: incompressible payload still converges under cap") {
    // ~4 MB of pseudo-random chars — compresses barely; forces the re-split path
    val s = TestText.random(4 * 1024 * 1024, seed = 13)
    val chunks = Chunker.adaptiveChunks(s)
    assert(chunks.mkString == s)
    assert(chunks.forall(c => Codec.zippedSize(c) <= Chunker.MaxDocBytes))
  }

  /** The zipped form's contract on one payload: archives unzip to their
    * chunks, sit under the cap, and match the sizes form chunk for chunk.
    */
  private def zippedHolds(s: String): Boolean = {
    val zipped = Chunker.adaptiveChunksZipped(s)
    zipped.forall { case (c, z) => Codec.unzipStr(z) == c } &&
      zipped.forall(_._2.length <= Chunker.MaxDocBytes) &&
      zipped.map { case (c, z) => (c, z.length) } == Chunker.adaptiveChunksWithSizes(s)
  }

  test("adaptiveChunksZipped: archives unzip to their chunks, under cap, sizes agree (small inputs)") {
    check(Prop.forAll(smallText)(zippedHolds))
  }

  test("adaptiveChunksZipped: archives unzip to their chunks, under cap, sizes agree (split payload)") {
    val s = TestText.random(4 * 1024 * 1024, seed = 19)
    assert(Chunker.adaptiveChunksZipped(s).length > 1, "fixture must force a split")
    assert(zippedHolds(s))
  }

  test("adaptiveChunksZipped: empty string is one empty chunk, null is none") {
    assert(Chunker.adaptiveChunksZipped("").map(_._1) == Vector(""))
    assert(zippedHolds(""))
    assert(Chunker.adaptiveChunksZipped(null) == Vector.empty)
  }

  test("adaptiveChunks: empty string is one empty chunk, null is none") {
    assert(Chunker.adaptiveChunks("") == Vector(""))
    assert(Chunker.adaptiveChunks(null) == Vector.empty)
  }
}
