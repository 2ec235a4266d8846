package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.Arrays
import java.util.concurrent.{Callable, ExecutionException, Executors, Future, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipInputStream}

import org.apache.spark.SparkEnv
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
  * '''Block-parallel deflate.''' The UTF-8 bytes are deflated the way
  * pigz does it: they are cut into fixed-size blocks ([[BlockBytes]], 256
  * KiB), each block runs through its own raw `Deflater`, and the
  * compressed blocks are joined into one deflate stream. Every block after
  * the first is primed with the 32 KiB of input before it
  * (`setDictionary`), so back-references reach across block edges as in a
  * serial stream and the archive grows by only the few bytes of each
  * block's `SYNC_FLUSH` marker (about 0.01 % at 2.5 MB). `SYNC_FLUSH` ends
  * a block on a byte boundary without the final-block bit; the last block
  * ends with `finish()`. Blocks are cut on bytes, not chars, so a
  * multibyte char split across an edge is reassembled by the inflater like
  * any other byte run. The CRC-32 is taken over the whole input, and the
  * single-entry archive (local header with sizes, data, central directory,
  * end record) is written by hand: commons-compress's
  * `ZipArchiveOutputStream.addRawArchiveEntry` writes the same archive but
  * allocates a `Deflater` of its own per archive, which took a 200-char
  * payload's zip from 12 to 27 µs and a 1,000-char one's from 21 to 34.
  * Readers see an ordinary deflated entry: `ZipInputStream`, `ZipFile`
  * and `unzipStr` need no change. An input of one block or less is a
  * single last block: the calling thread deflates it and the pool is never
  * touched, so every payload, small or large, takes the same path.
  *
  * The blocks before the last run on a pool of daemon threads named
  * `graft-deflate-N`, shared by every caller in the JVM (Spark tasks
  * included); the calling thread deflates the last block itself instead
  * of idling. Its workers only deflate a block and never wait on the pool,
  * so concurrent callers queue rather than deadlock. The pool has one
  * thread per core Spark gave the executor (`spark.executor.cores`) where
  * the executor's conf names it, else one per JVM processor (the driver,
  * local mode). It runs outside Spark's CPU accounting: a task zipping a
  * large payload uses up to that many cores whatever `spark.task.cpus`
  * says, and Spark's `task_cpu_ms` (like any calling-thread CPU timer)
  * misses the pool's CPU time. Only local mode has been measured.
  *
  * The pure functions are driver/executor-agnostic Scala; `zip_str` /
  * `unzip_str` wrap them as UDFs for column use. They are deliberately kept
  * OFF hot filter paths (a UDF blocks predicate pushdown); they only ever run
  * on payload columns that survived pushed-down filters.
  */
object Codec {
  private val EntryName = "payload.xml"

  /** Input bytes per deflate block; an input this size or smaller is one
    * block, deflated on the calling thread.
    */
  val BlockBytes: Int = 256 * 1024

  /** Deflate's window: how much earlier input a block is primed with. */
  private val DictBytes = 32 * 1024

  // .NET CompressionLevel.Optimal is the *balanced default* (SmallestSize
  // is the maximum), so java's default level is the faithful mapping — and
  // 2-3x faster than BEST_COMPRESSION on barely-compressible payloads
  private val Level = Deflater.DEFAULT_COMPRESSION

  /** Threads of the block pool: the executor's cores where its conf names
    * them, else the JVM's processors.
    */
  private def poolThreads: Int = {
    val host = Runtime.getRuntime.availableProcessors()
    Option(SparkEnv.get)
      .filter(_.executorId != "driver") // the driver, and local mode's one JVM
      .flatMap(_.conf.getOption("spark.executor.cores"))
      .fold(host)(c => math.max(1, math.min(c.toInt, host)))
  }

  /** The block deflate pool, made on the first multi-block input. */
  private lazy val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(poolThreads, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-deflate-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  }

  /** UTF-8 string → zip archive with one entry (reference `CreateZipFromString`). */
  def zipStr(s: String): Array[Byte] = {
    if (s == null) return null
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    val starts = if (bytes.isEmpty) Vector(0) else (0 until bytes.length by BlockBytes).toVector
    val ends = starts.tail :+ bytes.length
    val futures: Vector[Future[Array[Byte]]] = starts.zip(ends).init.map { case (from, until) =>
      pool.submit(new Callable[Array[Byte]] { def call(): Array[Byte] = deflateBlock(bytes, from, until) })
    }
    val (blocks, crc) = try {
      val crc = new CRC32()
      crc.update(bytes, 0, bytes.length)
      val lastBlock = deflateBlock(bytes, starts.last, bytes.length)
      val earlier = futures.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      (earlier :+ lastBlock, crc.getValue)
    } catch {
      case t: Throwable => futures.foreach(_.cancel(true)); throw t
    }
    singleEntryZip(blocks, crc, bytes.length)
  }

  /** Raw deflate of `bytes[from, until)`, primed with the window before
    * `from`; the last block finishes the stream, the others sync-flush.
    */
  private def deflateBlock(bytes: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val d = new Deflater(Level, true)
    try {
      if (from > 0) {
        val dictFrom = math.max(0, from - DictBytes)
        d.setDictionary(bytes, dictFrom, from - dictFrom)
      }
      d.setInput(bytes, from, until - from)
      val last = until == bytes.length
      if (last) d.finish()
      // zlib's deflateBound plus a sync-flush marker; grown if ever short
      val n = until - from
      var buf = new Array[Byte](n + (n >> 12) + (n >> 14) + (n >> 25) + 18)
      var len = 0
      var done = false
      while (!done) {
        if (len == buf.length) buf = Arrays.copyOf(buf, buf.length * 2)
        len += d.deflate(buf, len, buf.length - len, if (last) Deflater.NO_FLUSH else Deflater.SYNC_FLUSH)
        // a sync flush is complete once it leaves room in the buffer
        done = if (last) d.finished() else len < buf.length
      }
      Arrays.copyOf(buf, len)
    } finally d.end()
  }

  /** One-entry zip around deflated `data`: local header with the sizes (no
    * data descriptor), the data, the central directory and the end record,
    * with the fields `ZipOutputStream` writes for a deflated entry.
    */
  private def singleEntryZip(data: Seq[Array[Byte]], crc: Long, size: Int): Array[Byte] = {
    val csize = data.map(_.length).sum
    val name = EntryName.getBytes(StandardCharsets.UTF_8)
    val locLen = 30 + name.length
    val cenLen = 46 + name.length
    val out = ByteBuffer.allocate(locLen + csize + cenLen + 22).order(ByteOrder.LITTLE_ENDIAN)
    val now = LocalDateTime.now()
    val dosTime = (now.getHour << 11) | (now.getMinute << 5) | (now.getSecond >> 1)
    val dosDate = ((now.getYear - 1980) << 9) | (now.getMonthValue << 5) | now.getDayOfMonth
    def common(): Unit = {
      out.putShort(20.toShort)      // version needed: deflate
      out.putShort(0x0800.toShort)  // flags: UTF-8 name
      out.putShort(8.toShort)       // method: deflated
      out.putShort(dosTime.toShort)
      out.putShort(dosDate.toShort)
      out.putInt(crc.toInt)
      out.putInt(csize)
      out.putInt(size)
      out.putShort(name.length.toShort)
      out.putShort(0.toShort)       // extra field length
    }
    out.putInt(0x04034b50)
    common()
    out.put(name)
    data.foreach(b => out.put(b))
    out.putInt(0x02014b50)
    out.putShort(20.toShort)        // version made by
    common()
    out.putShort(0.toShort)         // comment length
    out.putShort(0.toShort)         // disk number
    out.putShort(0.toShort)         // internal attributes
    out.putInt(0)                   // external attributes
    out.putInt(0)                   // local header offset
    out.put(name)
    out.putInt(0x06054b50)
    out.putShort(0.toShort)         // this disk
    out.putShort(0.toShort)         // central directory disk
    out.putShort(1.toShort)         // entries on this disk
    out.putShort(1.toShort)         // entries in all
    out.putInt(cenLen)
    out.putInt(locLen + csize)      // central directory offset
    out.putShort(0.toShort)         // comment length
    out.array()
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
