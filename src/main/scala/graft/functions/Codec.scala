package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** String ⇄ zip-archive codec.
  *
  * Mirrors the reference's payload codec: a zip archive holding a single
  * named entry, written at best compression (`/root/reference/LogChange.cs:262-279`
  * encode, `:284-306` decode). Divergence (documented per SURVEY.md §7.4):
  * we guarantee `unzipStr(zipStr(s)) == s` round-trip equality, NOT
  * byte-identical archives — archive bytes depend on the zlib build and are
  * not part of the contract.
  *
  * The pure functions are driver/executor-agnostic Scala; `zip_str` /
  * `unzip_str` wrap them as UDFs for column use. They are deliberately kept
  * OFF hot filter paths (a UDF blocks predicate pushdown); they only ever run
  * on payload columns that survived pushed-down filters.
  */
object Codec {
  private val EntryName = "payload.xml"

  /** UTF-8 string → zip archive with one entry (reference `CreateZipFromString`). */
  def zipStr(s: String): Array[Byte] = {
    if (s == null) return null
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    // .NET CompressionLevel.Optimal is the *balanced default* (SmallestSize
    // is the maximum), so java's default level is the faithful mapping — and
    // 2-3x faster than BEST_COMPRESSION on barely-compressible payloads
    zos.setLevel(Deflater.DEFAULT_COMPRESSION)
    zos.putNextEntry(new ZipEntry(EntryName))
    zos.write(s.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  /** First zip entry → UTF-8 string; null-safe (reference `ExtractStringFromZip`). */
  def unzipStr(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return null
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      if (zis.getNextEntry == null) return null
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = zis.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = zis.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally zis.close()
  }

  /** Compressed size of a string if zipped, for size checks that have no
    * use for the archive. (The adaptive chunker keeps its archives; see
    * `Chunker.adaptiveChunksZipped`.)
    */
  def zippedSize(s: String): Int = zipStr(s).length

  private val zipUdf   = udf((s: String) => zipStr(s))
  private val unzipUdf = udf((b: Array[Byte]) => unzipStr(b))

  /** Column form: string → binary zip archive. */
  def zip_str(c: Column): Column = zipUdf(c)

  /** Column form: binary zip archive → string. */
  def unzip_str(c: Column): Column = unzipUdf(c)
}
