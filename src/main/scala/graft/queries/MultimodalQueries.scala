package graft
package queries

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._
import Fixtures._

/** Multimodal plumbing: media headers and real PNG/WAV/MP4 decode,
  * format-dispatched ingest, frame sampling, resize and near-dup.
  */
private[graft] object MultimodalQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] multimodal plumbing (decode stubbed; see Multimodal) --
    Query("q_mm_meta", (s, d) =>
      Multimodal.extractMeta(Multimodal.mediaFromDocuments(documents(s, d)))
        .orderBy("media_id"),
      """SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS kind_id, true AS valid,
        |  CAST(32 + doc_id % 96 AS INT) AS width, CAST(24 + doc_id % 72 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS INT) AS body_bytes
        |FROM documents ORDER BY media_id""".stripMargin),

    Query("q_mm_decode_batch", (s, d) =>
      Multimodal.decodeMapPartitions(s, Multimodal.mediaFromDocuments(documents(s, d)))
        .orderBy("media_id"),
      """SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS kind_id, true AS valid,
        |  CAST(32 + doc_id % 96 AS INT) AS width, CAST(24 + doc_id % 72 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS INT) AS body_bytes
        |FROM documents ORDER BY media_id""".stripMargin),

    // -- [NS] REAL image headers: byte-genuine PNG (signature + IHDR +
    // CRC32-correct chunks) for even docs, baseline JPEG (SOI/APP0/SOF0)
    // for odd, dimensions parsed back from the actual magic bytes by the
    // marker-walking header decoder — no codec library, the header-sniff
    // pass a 100 TB ingest runs before any pixel decode. The oracle knows
    // the dimension arithmetic, not the bytes: a parser that cheats on the
    // real formats can't match it. --
    Query("q_mm_meta_real", (s, d) => {
      val w = (lit(32) + col("doc_id") % 96).cast("int")
      val h = (lit(24) + col("doc_id") % 72).cast("int")
      val media = documents(s, d).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, Multimodal.encodePng(w, h, col("text")))
          .otherwise(Multimodal.encodeJpeg(w, h, col("text"))).as("payload"))
      Multimodal.decodeImages(s, media).orderBy("media_id")
    },
      // the real-header twin: the oracle recomputes the dimension arithmetic
      // and the format parity; the Spark side must recover both from genuine
      // PNG/JPEG bytes
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  true AS valid,
        |  CAST(32 + doc_id % 96 AS INT) AS width,
        |  CAST(24 + doc_id % 72 AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin),

    // -- [NS] REAL pixel decode end to end: a complete, spec-valid
    // grayscale PNG per document (deflated filter-0 scanlines, real
    // CRCs — built distributed, one Deflater per task) decoded through
    // the JDK's ACTUAL codec (javax.imageio: inflate, defilter, raster)
    // in the per-task-init mapPartitions plumbing. The returned checksum
    // sums every decoded sample, so a wrong byte anywhere in the
    // deflate/filter path would show; the oracle recomputes dimensions
    // AND the full pixel-sum arithmetic from the deterministic formula
    // gray(x,y) = (7x + 13y + id) mod 256. Nothing stubbed. --
    Query("q_mm_decode_png", (s, d) => {
      val media = Multimodal.pngMediaFromDocuments(s, documents(s, d))
      Multimodal.decodePngPixels(s, media).orderBy("media_id")
    },
      // full real pixel decode: the oracle recomputes the dimensions and
      // the exact pixel-sum arithmetic of the deterministic test image —
      // only a true inflate+defilter+raster pass can match it
      """SELECT d.doc_id AS media_id,
        |  CAST(8 + d.doc_id % 9 AS INT) AS width,
        |  CAST(6 + d.doc_id % 7 AS INT) AS height,
        |  (SELECT CAST(sum(CASE WHEN xs.x < 8 + d.doc_id % 9 AND ys.y < 6 + d.doc_id % 7
        |                   THEN (xs.x * 7 + ys.y * 13 + d.doc_id) % 256 END) AS BIGINT)
        |   FROM generate_series(0, 16) xs(x), generate_series(0, 12) ys(y)) AS pix_sum
        |FROM documents d ORDER BY media_id""".stripMargin),

    // -- [NS] REAL audio SAMPLE decode end to end — the second modality
    // closed after PNG: complete mono PCM-16 WAVs (spec-exact RIFF/fmt/
    // data, built distributed) decoded through the JDK's ACTUAL audio
    // codec (javax.sound.sampled.AudioSystem — header parse, format
    // negotiation, frame walk), checksum-oracled sample by sample. The
    // oracle recomputes the deterministic sample formula; only a true
    // PCM decode (right byte order, right sign, right frame count) can
    // match the sum. --
    Query("q_mm_decode_wav", (s, d) => {
      val media = Multimodal.wavMediaFromDocuments(s, documents(s, d))
      Multimodal.decodeWavSamples(s, media).orderBy("media_id")
    },
      // full real PCM decode: the oracle recomputes the rate/length
      // arithmetic and the exact signed-sample sum of the deterministic
      // waveform — only a true header parse + frame walk (right byte
      // order, right sign) can match it
      """SELECT d.doc_id AS media_id,
        |  CAST(8000 + (d.doc_id % 5) * 1000 AS INT) AS sample_rate,
        |  CAST(200 + d.doc_id % 57 AS BIGINT) AS n_samples,
        |  (SELECT CAST(sum(CASE WHEN i.i < 200 + d.doc_id % 57
        |                   THEN (i.i * 31 + d.doc_id * 17) % 65536 - 32768 END) AS BIGINT)
        |   FROM generate_series(0, 255) i(i)) AS sample_sum
        |FROM documents d ORDER BY media_id""".stripMargin),

    // -- [NS] REAL audio headers: byte-genuine PCM WAV (RIFF/WAVE +
    // spec-complete fmt chunk — javax.sound reads it) with per-doc
    // deterministic rate/channels/bit-depth, parsed back by a proper RIFF
    // chunk walk. The oracle recomputes the parameter arithmetic and the
    // dataLen/byteRate duration; the Spark side must recover it all from
    // genuine bytes. --
    Query("q_mm_audio_meta", (s, d) => {
      val sr = (lit(8000) + (col("doc_id") % 5) * 1000).cast("int")
      val ch = (lit(1) + col("doc_id") % 2).cast("int")
      val bits = (lit(8) + (col("doc_id") % 2) * 8).cast("int")
      val media = documents(s, d).select(
        col("doc_id").as("media_id"),
        Multimodal.encodeWav(sr, ch, bits, col("text")).as("payload"))
      Multimodal.decodeAudio(s, media).orderBy("media_id")
    },
      // the WAV twin: oracle recomputes the per-doc format parameters and the
      // floor(dataLen*1000/byteRate) duration (// = integer division)
      """SELECT doc_id AS media_id, 'wav' AS format, true AS valid,
        |  CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(8 + (doc_id % 2) * 8 AS INT) AS bits_per_sample,
        |  CAST(octet_length(encode(text)) AS INT) AS data_bytes,
        |  CAST(octet_length(encode(text)) * 1000
        |    // ((8000 + (doc_id % 5) * 1000) * (1 + doc_id % 2) * (8 + (doc_id % 2) * 8) // 8)
        |    AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin),

    // -- [NS] REAL video headers: byte-genuine minimal MP4 (ftyp brand +
    // moov/mvhd with real timescale+duration + mdat), parsed back by an
    // ISO-BMFF box walk (largesize/size-0 forms handled, mvhd v0 and v1).
    // Duration arithmetic is the oracle gate. --
    Query("q_mm_video_meta", (s, d) => {
      val dur = ((lit(1) + col("doc_id") % 120) * 600).cast("int")
      val media = documents(s, d).select(
        col("doc_id").as("media_id"),
        Multimodal.encodeMp4(lit(600), dur, col("text")).as("payload"))
      Multimodal.decodeVideo(s, media).orderBy("media_id")
    },
      // the MP4 twin: duration rides in mvhd ticks (timescale 600); the
      // oracle recomputes ticks and milliseconds from doc_id
      """SELECT doc_id AS media_id, 'mp4' AS format, true AS valid,
        |  'isom' AS brand, CAST(600 AS INT) AS timescale,
        |  CAST((1 + doc_id % 120) * 600 AS BIGINT) AS duration,
        |  CAST((1 + doc_id % 120) * 1000 AS BIGINT) AS duration_ms,
        |  CAST(octet_length(encode(text)) AS INT) AS mdat_bytes
        |FROM documents ORDER BY media_id""".stripMargin),

    // -- [NS] MIXED-media ingest with format DISPATCH: a directory of
    // genuine PNG + WAV + MP4 files (by doc_id parity) scanned through the
    // binary-file connector, each payload routed to its parser off the
    // leading magic bytes — the real shape of a media lake, where the
    // scanner cannot assume one modality per directory. The oracle
    // recomputes every modality's parameter arithmetic from doc_id. --
    Query("q_mm_av_ingest", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"avbin:$d", {
        val out = scratchDir("graft_avbin") + "/media"
        new java.io.File(out).mkdirs()
        val w = (lit(32) + col("doc_id") % 96).cast("int")
        val h = (lit(24) + col("doc_id") % 72).cast("int")
        val sr = (lit(8000) + (col("doc_id") % 5) * 1000).cast("int")
        val ch = (lit(1) + col("doc_id") % 2).cast("int")
        val bits = (lit(8) + (col("doc_id") % 2) * 8).cast("int")
        val dur = ((lit(1) + col("doc_id") % 120) * 600).cast("int")
        documents(s, d).where(col("doc_id") < 96)
          .select(col("doc_id").as("media_id"),
            when(col("doc_id") % 3 === 0, Multimodal.encodePng(w, h, col("text")))
              .when(col("doc_id") % 3 === 1, Multimodal.encodeWav(sr, ch, bits, col("text")))
              .otherwise(Multimodal.encodeMp4(lit(600), dur, col("text"))).as("payload"))
          .collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"media_${r.getLong(0)}%05d.bin"),
              r.getAs[Array[Byte]](1))
          }
        out
      })
      val scanned = graft.sources.Sources.readBinaryFiles(s, dir, Some("*.bin"))
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1).cast("long").as("media_id"),
          col("content").as("payload"))
      Multimodal.decodeMedia(s, scanned).orderBy("media_id")
    },
      // the mixed-lake twin: per-modality parameters recomputed from doc_id,
      // zeros where the modality does not carry the field
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
        |  true AS valid,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(32 + doc_id % 96 AS INT) ELSE 0 END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(24 + doc_id % 72 AS INT) ELSE 0 END AS height,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (doc_id % 5) * 1000 AS INT) ELSE 0 END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS INT) ELSE 0 END AS channels,
        |  CASE WHEN doc_id % 3 = 1 THEN CAST(octet_length(encode(text)) * 1000
        |      // ((8000 + (doc_id % 5) * 1000) * (1 + doc_id % 2) * (8 + (doc_id % 2) * 8) // 8) AS BIGINT)
        |    WHEN doc_id % 3 = 2 THEN CAST((1 + doc_id % 120) * 1000 AS BIGINT)
        |    ELSE 0 END AS duration_ms
        |FROM documents WHERE doc_id < 96 ORDER BY media_id""".stripMargin),

    // -- [NS] END-TO-END multimodal ingest: media payloads written as raw
    // FILES (the shape assets actually arrive in), scanned back through the
    // binary-file connector into rows, then header-sniffed by extractMeta —
    // the full file→row→metadata path a training pipeline runs before any
    // expensive decode. Fixture files written once per JVM. --
    Query("q_mm_ingest", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"mmbin:$d", {
        val out = scratchDir("graft_mmbin") + "/media"
        new java.io.File(out).mkdirs()
        Multimodal.mediaFromDocuments(documents(s, d).where(col("doc_id") < 64))
          .select(col("media_id"), col("payload")).collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"media_${r.getLong(0)}%05d.bin"),
              r.getAs[Array[Byte]](1))
          }
        out
      })
      val scanned = graft.sources.Sources.readBinaryFiles(s, dir, Some("*.bin"))
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1).cast("long").as("media_id"),
          col("content").as("payload"))
        .withColumn("kind_id", (col("media_id") % 3).cast("int"))
      Multimodal.extractMeta(scanned).orderBy("media_id")
    },
      // file-scanned headers must decode to the same metadata the in-row
      // payloads carry (same arithmetic as q_mm_meta, ingest-subset)
      """SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS kind_id, true AS valid,
        |  CAST(32 + doc_id % 96 AS INT) AS width, CAST(24 + doc_id % 72 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS INT) AS body_bytes
        |FROM documents WHERE doc_id < 64 ORDER BY media_id""".stripMargin),

    // -- [NS] END-TO-END multimodal near-dup: media FILES → binary-file
    // scan → byteHistogram features → random-hyperplane LSH near-dup
    // (Dedup.embeddingNearDup) — the full asset-dedup chain without the
    // payload ever leaving the engine. Recall is made non-vacuous by
    // planting byte-identical clones of media 0..2 as ids 1000..1002:
    // identical payloads → identical histograms → identical LSH signature
    // (same bucket in every band) → each planted pair is recovered
    // deterministically at cosine 1.0. The declared rows are the planted
    // pairs (organic histogram similarity between text payloads is
    // corpus-dependent, so it stays out of the hash); the 48+3 fixture
    // rows keep every LSH bucket under Dedup.MaxBucket, so full pair
    // expansion — not star degradation — is guaranteed structurally. --
    Query("q_mm_neardup", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"mmnd:$d", {
        val out = scratchDir("graft_mmnd") + "/media"
        new java.io.File(out).mkdirs()
        Multimodal.mediaFromDocuments(documents(s, d).where(col("doc_id") < 48))
          .select(col("media_id"), col("payload")).collect().foreach { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"media_$id%05d.bin"), bytes)
            if (id < 3) // planted byte-identical clone
              java.nio.file.Files.write(
                java.nio.file.Paths.get(out, f"media_${id + 1000}%05d.bin"), bytes)
          }
        out
      })
      val feats = graft.sources.Sources.readBinaryFiles(s, dir, Some("*.bin"))
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1).cast("long").as("vec_id"),
          Multimodal.byteHistogram(col("content")).cast("array<float>").as("embedding"))
      Dedup.embeddingNearDup(feats, minCosine = 0.999)
        .where(col("vec_b") === col("vec_a") + 1000)
        .orderBy("vec_a")
    },
      // the planted byte-identical clones (1000+i of media i, i < 3) must
      // each be recovered by the file→scan→histogram→LSH chain at exactly
      // cosine 1.0 — identical payload bytes make the whole chain
      // deterministic end-to-end
      """SELECT doc_id AS vec_a, doc_id + 1000 AS vec_b, 1.0 AS cosine
        |FROM documents WHERE doc_id < 3 ORDER BY vec_a""".stripMargin),

    // feature-extraction stub: 16-bin L1-normalized byte histogram as the
    // stand-in embedding; summarized per media kind. Bin 7 (bytes 0x60-0x6F
    // = '`' + 'a'..'o') carries real text mass, and per-media fractions sum
    // in DECIMAL so the aggregate is order-independent — both properties
    // needed for the DuckDB oracle
    Query("q_mm_features", (s, d) => {
      val media = Multimodal.mediaFromDocuments(documents(s, d))
      media
        .withColumn("feat", Multimodal.byteHistogram(col("payload")))
        .groupBy(col("kind_id"))
        .agg(count(lit(1)).as("n"),
          sum(element_at(col("feat"), 7).cast("decimal(18,6)"))
            .cast("double").as("bin6_mass"),
          round(avg(size(col("feat"))), 4).as("dim"))
        .orderBy("kind_id")
    },
      // per-media fraction of body bytes in 0x60-0x6F (floor-rounded to 6
      // exactly as byteHistogram does), decimal-summed per kind
      """WITH m AS (
        |  SELECT CAST(doc_id % 3 AS INT) AS kind_id,
        |    len(regexp_extract_all(text, '[`a-o]')) AS c,
        |    greatest(octet_length(encode(text)), 1) AS L
        |  FROM documents)
        |SELECT kind_id, count(*) AS n,
        |  CAST(sum(CAST(floor(c * 1.0 / L * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS DOUBLE) AS bin6_mass,
        |  round(avg(16), 4) AS dim
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_mm_frames", (s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(documents(s, d)))
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("frame_bytes"))
        .orderBy("media_id"),
      // frame sampling is pure arithmetic over the body length: frames are the
      // strided indices of ceil(L/256) slices, each of min(256, L - i*256) bytes
      """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS L FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, L, unnest(range(0, CAST(ceil(L / 256.0) AS BIGINT), 4)) AS i FROM m WHERE L > 0)
        |SELECT media_id, count(*) AS n_frames,
        |  CAST(sum(least(256, L - i * 256)) AS BIGINT) AS frame_bytes
        |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin),

    // -- [NS] multimodal resize plumbing: header rewrite + proportional body
    // truncation, then metadata re-extraction audits the new header --
    Query("q_mm_resize", (s, d) =>
      Multimodal.extractMeta(
        Multimodal.mediaFromDocuments(documents(s, d))
          .withColumn("payload", Multimodal.resizeStub(col("payload"), 64, 48)))
        .orderBy("media_id"),
      // resize arithmetic: new dims are literal, body truncates to
      // min(L, max(ceil(L * newArea / oldArea), 1))
      """SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS kind_id, true AS valid,
        |  CAST(64 AS INT) AS width, CAST(48 AS INT) AS height,
        |  CAST(least(octet_length(encode(text)),
        |    greatest(CAST(ceil(octet_length(encode(text)) * 3072.0 /
        |      greatest((32 + doc_id % 96) * (24 + doc_id % 72), 1)) AS BIGINT), 1)) AS INT) AS body_bytes
        |FROM documents ORDER BY media_id""".stripMargin),
  )
}
