package graft.operators

import graft.functions.Codec

/** Adaptive size-based payload chunking — the "tiler" of BigDataTiler.
  *
  * Reproduces the semantics of `/root/reference/LogChange.cs:99-257`:
  * a payload string is zip-compressed; if the archive fits under the
  * 1.5 MB document cap it ships whole, otherwise the string is split into
  * chunks sized from the *observed* compression ratio (targeting 70% fill),
  * and any chunk whose archive still exceeds the cap is recursively re-split
  * with a 1.3× shrink margin. Constants match the reference
  * (`LogChange.cs:23-24,123,127-130,228-235`).
  *
  * This is a pure, single-string algorithm by design: on Spark it runs
  * per row inside the ingest's `Generate` (see `LogStore.ingest`), which
  * stores the archives the size check produced. The pure core is
  * scalacheck-testable without a SparkSession.
  *
  * Every zip here is `Codec.zipStr`, which deflates a payload of more
  * than one block (`Codec.BlockBytes`, 256 KiB of UTF-8) block-parallel
  * on the codec's shared pool: the whole-payload zip that measures an
  * oversized document's ratio, and each chunk's cap-check zip, run on
  * every core rather than in the one task thread that holds the
  * document, which otherwise sets the length of the ingest's stage.
  */
object Chunker {

  /** Max compressed bytes per emitted chunk (reference `LogChange.cs:23-24`). */
  val MaxDocBytes: Int = 1500000

  /** Target fill fraction of the cap, leaving headroom for compression
    * variance across chunks (reference `LogChange.cs:123`).
    */
  val TargetFill: Double = 0.7

  /** Floor on the first-pass chunk size in chars (reference `LogChange.cs:127-130`). */
  val MinChunkInitial: Int = 50000

  /** Floor on recursive re-split chunk size (reference `LogChange.cs:232-235`). */
  val MinChunkResplit: Int = 10000

  /** Shrink margin applied to the overage ratio when a chunk over-compresses
    * its estimate (reference `LogChange.cs:228-229`).
    */
  val ShrinkFactor: Double = 1.3

  /** Linear fixed-size substring split (reference `SplitStringIntoChunks`,
    * `LogChange.cs:181-208`). Empty input → no chunks; input shorter than
    * `chunkSize` → one chunk (the reference's fast path `:190-194`).
    */
  def splitFixed(s: String, chunkSize: Int): Vector[String] = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    if (s == null || s.isEmpty) Vector.empty
    else if (s.length <= chunkSize) Vector(s)
    else {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        b += s.substring(i, math.min(i + chunkSize, s.length))
        i += chunkSize
      }
      b.result()
    }
  }

  /** Split one over-cap chunk until every piece compresses under the cap
    * (reference `CompressAndValidateChunk`, `LogChange.cs:214-257`). Returns
    * (piece, archive) pairs — the archive is the validation's own output, so
    * callers never re-compress.
    */
  private def resplitUntilFits(chunk: String): Vector[(String, Array[Byte])] = {
    val zipped = Codec.zipStr(chunk)
    if (zipped.length <= MaxDocBytes) Vector((chunk, zipped))
    else {
      val overageRatio = zipped.length.toDouble / MaxDocBytes
      val newSize = math.max(
        (chunk.length / (overageRatio * ShrinkFactor)).toInt,
        MinChunkResplit)
      // guard: if the floor can't shrink any further, force a halving so the
      // recursion always terminates even on incompressible input
      val effective = if (newSize >= chunk.length) math.max(chunk.length / 2, 1) else newSize
      splitFixed(chunk, effective).flatMap(resplitUntilFits)
    }
  }

  /** Adaptive chunking with each chunk's zip archive (reference `loadXmlFile`,
    * `LogChange.cs:99-175`). The archives are the ones the cap check
    * computed, so a caller storing them never zips a chunk twice.
    * Invariants (scalacheck-enforced):
    *   - `chunks.map(_._1).mkString == s` (lossless, order-preserving)
    *   - every archive unzips to its chunk and is ≤ `MaxDocBytes`
    *   - a payload that already fits ships as exactly one chunk
    *   - `""` is one empty chunk, `null` is none
    */
  def adaptiveChunksZipped(s: String): Vector[(String, Array[Byte])] = {
    if (s == null) return Vector.empty
    val whole = Codec.zipStr(s)
    if (whole.length <= MaxDocBytes) Vector((s, whole)) // short-circuit `:110-118`
    else {
      val ratio = whole.length.toDouble / s.length // observed compression ratio
      val estimated = math.max(
        ((MaxDocBytes * TargetFill) / ratio).toInt,
        MinChunkInitial) // floor `:127-130`
      splitFixed(s, estimated).flatMap(resplitUntilFits)
    }
  }

  /** [[adaptiveChunksZipped]] with each archive's size in place of its bytes
    * (the audit column in `q_chunk_adaptive` reads the sizes).
    */
  def adaptiveChunksWithSizes(s: String): Vector[(String, Int)] =
    adaptiveChunksZipped(s).map { case (c, z) => (c, z.length) }

  /** [[adaptiveChunksZipped]] without the archives. */
  def adaptiveChunks(s: String): Vector[String] =
    adaptiveChunksZipped(s).map(_._1)

  /** Ordered reassembly (reference `CombineSplitLogs`, `LogChange.cs:312-342`):
    * sort by split index, concatenate. Inverse of `adaptiveChunks` /
    * `splitFixed`.
    */
  def combine(chunks: Seq[(Int, String)]): String = {
    val sb = new StringBuilder
    chunks.sortBy(_._1).foreach { case (_, c) => sb.append(c) }
    sb.toString
  }
}
