package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipFile, ZipInputStream, ZipOutputStream}

import scala.jdk.CollectionConverters._

import graft.functions.Codec
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip properties of the zip codec (reference
  * `/root/reference/LogChange.cs:262-306`; divergence documented in the
  * Scaladoc — round-trip equality, not byte-identical archives), and the
  * block-parallel deflate that every input goes through.
  */
class CodecSpec extends AnyFunSuite with Checkers {

  private val B = Codec.BlockBytes
  private val Symbols = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq(' ', '\n')).toVector

  /** `nBytes` UTF-8 bytes of 64-symbol noise; at every block edge inside
    * the input a 2-, 3- or 4-byte char straddles the edge.
    */
  private def payload(nBytes: Int, seed: Long = 7L): String = {
    val rnd = new scala.util.Random(seed)
    val sb = new StringBuilder(nBytes)
    for (_ <- 0 until nBytes) sb.append(Symbols(rnd.nextInt(Symbols.length)))
    // (char, its bytes before the edge); an ASCII run of the char's byte
    // length is replaced, so char and byte indices agree left of it and
    // replacing right to left keeps every edge where it was
    val wide = Vector("é" -> 1, "中" -> 1, "中" -> 2, "🙂" -> 2)
    (B until nBytes by B).reverse.foreach { e =>
      val (c, before) = wide((e / B - 1) % wide.length)
      val len = c.getBytes(UTF_8).length
      if (e - before + len <= nBytes) sb.replace(e - before, e - before + len, c)
    }
    sb.toString
  }

  /** The archive a plain `ZipOutputStream` writes for `s`. */
  private def plainZip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.setLevel(Deflater.DEFAULT_COMPRESSION)
    zos.putNextEntry(new ZipEntry("payload.xml"))
    zos.write(s.getBytes(UTF_8))
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  private def crc32(b: Array[Byte]): Long = { val c = new CRC32(); c.update(b); c.getValue }

  test("unzip o zip = id for arbitrary strings incl. unicode") {
    val unicodeStr = Gen.listOf(
      Gen.oneOf("pi", "中", "🙂", "a", " ", "\n")).map(_.mkString)
    check(Prop.forAll(Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr, unicodeStr)) { s =>
      Codec.unzipStr(Codec.zipStr(s)) == s
    })
  }

  test("empty string round-trips") {
    assert(Codec.unzipStr(Codec.zipStr("")) == "")
  }

  test("null-safety both directions") {
    assert(Codec.zipStr(null) == null)
    assert(Codec.unzipStr(null) == null)
    assert(Codec.unzipStr(Array.empty[Byte]) == null)
  }

  test("compression actually compresses repetitive text") {
    val s = "the same phrase again and again " * 1000
    assert(Codec.zippedSize(s) < s.length / 10)
  }

  test("archives from empty to far past one block open with ZipFile and ZipInputStream") {
    val tmp = Files.createTempFile("codec", ".zip")
    try {
      for (n <- Seq(0, 1, 4096, B - 1, B, B + 1, 2 * B + 1, 4 * B + 3, 5 * 1024 * 1024 + 17)) {
        val s = payload(n)
        val raw = s.getBytes(UTF_8)
        assert(raw.length == n)
        val zipped = Codec.zipStr(s)
        assert(Codec.unzipStr(zipped) == s, s"round trip at $n bytes")

        Files.write(tmp, zipped)
        val zf = new ZipFile(tmp.toFile)
        try {
          assert(zf.size == 1)
          val e = zf.getEntry("payload.xml")
          assert(e != null, s"entry at $n bytes")
          assert(e.getMethod == ZipEntry.DEFLATED)
          assert(e.getSize == n)
          assert(e.getCrc == crc32(raw))
          val in = zf.getInputStream(e)
          try assert(in.readAllBytes().sameElements(raw)) finally in.close()
        } finally zf.close()

        // ZipInputStream checks the entry's sizes and CRC as it ends it
        val zis = new ZipInputStream(new java.io.ByteArrayInputStream(zipped))
        try {
          val e = zis.getNextEntry
          assert(e.getName == "payload.xml")
          assert(zis.readAllBytes().sameElements(raw))
          assert(zis.getNextEntry == null)
        } finally zis.close()
      }
    } finally Files.delete(tmp)
  }

  test("block path: chars of 2, 3 and 4 bytes straddle every block edge") {
    val s = payload(4 * B + 3)
    val raw = s.getBytes(UTF_8)
    for (e <- Seq(B, 2 * B, 3 * B, 4 * B)) {
      // the byte at the edge is a UTF-8 continuation byte: a char spans it
      assert((raw(e) & 0xC0) == 0x80, s"no char straddles edge $e")
    }
    assert(Codec.unzipStr(Codec.zipStr(s)) == s)
  }

  test("a multi-MB block-path archive is within 0.1% of the serial archive's size") {
    val s = payload(4 * 1024 * 1024 + 5)
    val serial = plainZip(s).length
    val blocks = Codec.zipStr(s).length
    assert(math.abs(blocks - serial).toDouble / serial < 0.001, (blocks, serial))
  }

  test("eight concurrent callers zip multi-block payloads; deflate workers never wait on the pool") {
    val inputs = (0 until 8).map(i => payload(3 * B + 1000 * i + 1, seed = 100L + i))
    val violations = new ConcurrentLinkedQueue[String]()
    @volatile var running = true
    // deflate workers may sit idle on the queue, but never in a Future.get
    // or inside a zip of their own: either would let callers deadlock the pool
    val sampler = new Thread(() => {
      while (running) {
        Thread.getAllStackTraces.asScala.foreach { case (t, stack) =>
          if (t.getName.startsWith("graft-deflate-") &&
              stack.exists(f => f.getMethodName == "awaitDone" ||
                (f.getClassName.startsWith("graft.functions.Codec") && f.getMethodName.contains("zip"))))
            violations.add(s"${t.getName}: ${stack.take(6).mkString(" < ")}")
        }
        Thread.sleep(2)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val callers = Executors.newFixedThreadPool(8)
    try {
      val results = inputs.map { s =>
        callers.submit(() => (1 to 3).forall(_ => Codec.unzipStr(Codec.zipStr(s)) == s))
      }
      assert(results.forall(_.get(120, TimeUnit.SECONDS)))
    } finally {
      running = false
      sampler.join()
      callers.shutdown()
    }
    assert(violations.isEmpty, violations.asScala.take(3).mkString("\n"))

    val deflaters = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-deflate-"))
    assert(deflaters.nonEmpty)
    assert(deflaters.size <= Runtime.getRuntime.availableProcessors())
    assert(deflaters.forall(_.isDaemon))
  }
}
