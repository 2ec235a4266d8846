package graft

import graft.functions.VectorOps
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = {
    // 40 deterministic vectors in 8 dims
    val rnd = new scala.util.Random(11)
    (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
  }

  test("VectorOps.cosine matches a scala-side computation") {
    val rows = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect().toMap
    val spark_ = emb.where(col("vec_id") === 1L)
      .crossJoin(emb.where(col("vec_id") === 2L).select(col("embedding").as("b")))
      .select(VectorOps.cosine(col("embedding"), col("b"))).as[Double].head()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    assert(math.abs(spark_ - cos(rows(1L), rows(2L))) < 1e-9)
  }

  test("bruteForceTopK returns the true top-k") {
    val rows = emb.as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = rows.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(rows(0L), v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    val got = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("quantize emits int8-bounded components, scale-invariant ranking") {
    import org.apache.spark.sql.functions.{abs => sabs, array_max, array_min, transform => stransform}
    val q = Similarity.quantize(emb)
    // every component rounds into the signed-byte range, and each vector's
    // max-|component| hits 127 exactly (the per-vector scale is saturating)
    val bounds = q.select(
      array_max(stransform(col("qvec"), x => sabs(x.cast("int")))).as("mx"),
      array_min(col("qvec").cast("array<int>")).as("mn")).collect()
    assert(bounds.forall(r => r.getInt(0) == 127 && r.getInt(1) >= -127))
  }

  test("quantizedTopK recall vs exact is >= 4/5 on gaussian vectors") {
    val exact = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val quant = Similarity.quantizedTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert((exact intersect quant).size >= 4,
      s"quantized recall too low: $quant vs $exact")
  }

  test("ivfTopK with nprobe == nlist degrades to exact brute force") {
    val exact = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    val ivf = Similarity.ivfTopK(emb, probeId = 0L, k = 5, nlist = 4, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == exact)
  }

  test("ivfProbeSetTopK with nprobe == nlist equals per-probe brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 7L, 13L))
    val got = Similarity.ivfProbeSetTopK(emb, probes, k = 5, nlist = 4, nprobe = 4)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSeq
    val expected = Seq(0L, 7L, 13L).flatMap(p =>
      Similarity.bruteForceTopK(emb, probeId = p, k = 5)
        .select("vec_id").as[Long].collect().toSeq.map(v => (p, v)))
    assert(got.sorted == expected.sorted)
    // per-probe ranking order is preserved within each probe group
    assert(got.map(_._1) == got.map(_._1).sorted)
  }

  test("ivfProbeSetTopK at reduced nprobe returns k rows per probe from probed cells") {
    val probes = emb.where(col("vec_id").isin(0L, 7L))
    val got = Similarity.ivfProbeSetTopK(emb, probes, k = 5, nlist = 8, nprobe = 4)
    val counts = got.groupBy("probe_id").count().as[(Long, Long)].collect().toMap
    assert(counts.keySet == Set(0L, 7L))
    assert(counts.values.forall(_ <= 5))
  }

  test("hammingTopK: shortlist >= corpus degrades to exact; planted clone ranks first") {
    // with shortlist >= corpus the Hamming pass is a no-op filter and the
    // exact re-rank must reproduce brute force bit-for-bit
    val exact = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    val hm = Similarity.hammingTopK(emb, probeId = 0L, k = 5, shortlist = 100)
      .select("vec_id").as[Long].collect().toSeq
    assert(hm == exact)
    // a byte-identical clone has Hamming 0 and cosine 1.0 — it must survive
    // even a 1-row shortlist
    val clone = emb.where(col("vec_id") === 0L)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    val top = Similarity.hammingTopK(emb.unionByName(clone), probeId = 0L, k = 1, shortlist = 1)
      .as[(Long, Double)].collect().head
    assert(top == (-1L, 1.0))
  }

  test("hammingProbeSetTopK with shortlist >= corpus equals per-probe brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 1L))
    val got = Similarity.hammingProbeSetTopK(emb, probes, k = 5, shortlist = 1000)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    // both sides exclude only the probe itself from its own corpus view
    val want = Seq(0L, 1L).flatMap { p =>
      Similarity.bruteForceTopK(emb, probeId = p, k = 5)
        .select("vec_id").as[Long].collect().map(v => (p, v))
    }.toSet
    assert(got == want)
  }

  test("kmeans: centroids converge on separated clusters") {
    val a = Array.fill(50)(Array(0.0 + util.Random.nextDouble() * 0.1, 0.0))
    val b = Array.fill(50)(Array(10.0 + util.Random.nextDouble() * 0.1, 10.0))
    val cs = Similarity.kmeans((a ++ b), k = 2, iters = 10)
    val xs = cs.map(_.head).sorted
    assert(xs(0) < 1.0 && xs(1) > 9.0)
  }

  test("persisted IVF index: load reproduces the trained centroids and never retrains") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString + "/ivf"
    Similarity.saveIvfIndex(emb, dir, nlist = 4, sampleRows = 40)
    val trained = Similarity.buildCentroids(emb, nlist = 4, sampleRows = 40)

    // simulate a fresh driver: drop every in-memory index cache, then load
    Similarity.clearIndexCaches()
    val before = Similarity.kmeansTrainings
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(Similarity.kmeansTrainings == before,
      "loading a persisted index must not re-run k-means")
    // doubles round-trip parquet exactly
    assert(loaded.length == trained.length &&
      loaded.zip(trained).forall { case (l, t) => l.sameElements(t) })

    // and the persisted probe equals the in-memory probe
    val viaIndex = Similarity.ivfTopKPersisted(emb, dir, probeId = 0L, k = 5, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val direct = Similarity.ivfTopK(emb, probeId = 0L, k = 5, nlist = 4, nprobe = 4, sampleRows = 40)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex == direct)
  }

  test("streaming IVF ingest: one bootstrap training, complete store, valid cells, recall holds") {
    val tmp = java.nio.file.Files.createTempDirectory("annstream").toString
    val in = s"$tmp/slices"
    // explicit strictly-increasing mtimes: arrival order = id order even
    // on 1-second-granularity filesystem clocks
    val base = System.currentTimeMillis()
    (0 until 2).foreach { i =>
      emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
        .coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    Similarity.clearIndexCaches()
    val before = Similarity.kmeansTrainings
    val streamed = Similarity.streamIngestIvf(spark, in, s"$tmp/work",
      nlist = 4, sampleRows = 40)
    assert(Similarity.kmeansTrainings == before + 1,
      "ingest must train exactly once (first-drop bootstrap), never on later batches")
    assert(streamed.count() == 40, "every streamed vector lands in the store")
    val cells = streamed.select("cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 4))
    // serving path: stored-cell probe at full nprobe equals brute force
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val stored = Similarity.ivfTopKStored(streamed, s"$tmp/work/ivf_index",
        probeId = 0L, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(stored == bf, s"nprobe=nlist stored-cell search must equal brute force: $stored vs $bf")
  }

  test("streaming IVF ingest micro-batch is replay-idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("annreplay").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    emb.withColumn("cell", lit(0)).limit(0)
      .write.mode("overwrite").parquet(s"$data/batch=-1")
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    val once = spark.read.parquet(data).drop("batch").count()
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    assert(spark.read.parquet(data).drop("batch").count() == once,
      "a replayed ingest batch must replace its partition, not double-append")
    assert(once == 40)
  }

  test("requantizeIvfStore: nlist grows in place, row identity + batch provenance " +
    "preserved, evolved probe equals brute force, no swap leftovers") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfrq").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    val before = spark.read.parquet(data).select("vec_id", "batch")
      .as[(Long, Int)].collect().sorted.toSeq
    Similarity.requantizeIvfStore(spark, tmp, newNlist = 8, sampleRows = 40)
    assert(Similarity.loadIvfIndex(spark, idx).length == 8,
      "the promoted index must hold the grown centroid count")
    val after = spark.read.parquet(data).select("vec_id", "batch")
      .as[(Long, Int)].collect().sorted.toSeq
    assert(after == before,
      "requantize must relabel cells, never add/drop/move rows across batches")
    val cells = spark.read.parquet(data).select("cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 8))
    // exhaustive probe over the evolved store degrades to exact — same
    // contract the bootstrap store carries
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"nprobe=nlist over the requantized store must equal brute force: $got vs $bf")
    // swap hygiene: no sentinel, no stage, no set-aside rows left behind
    for (left <- Seq(".requant_stage", ".requant_old", s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
  }

  test("requantizeIvfStore refuses stale swap leftovers and empty stores") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfrq-guard").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    // a leftover .requant_old marks an unfinished swap: fail fast, store untouched
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(tmp, ".requant_old"))
    val e1 = intercept[IllegalStateException] {
      Similarity.requantizeIvfStore(spark, tmp, newNlist = 8, sampleRows = 40)
    }
    assert(e1.getMessage.contains(".requant_old"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp, ".requant_old"))
    // an empty store (only the discovery seed) has nothing to train on
    val tmp2 = java.nio.file.Files.createTempDirectory("ivfrq-empty").toString
    emb.withColumn("cell", lit(0)).limit(0)
      .write.mode("overwrite").parquet(s"$tmp2/cells/batch=-1")
    Similarity.saveIvfIndex(emb, s"$tmp2/ivf_index", nlist = 4, sampleRows = 40)
    intercept[IllegalArgumentException] {
      Similarity.requantizeIvfStore(spark, tmp2, newNlist = 8, sampleRows = 40)
    }
  }

  test("requantizeIvfStore past the driver-sample ceiling routes to the " +
    "hierarchical trainer; infeasible nlist clamps instead of crashing") {
    val rnd = new scala.util.Random(23)
    val big = (0L until 600L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("ivfrq-hier").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.streamIngestIvfBatch(big, 0L, idx, data, nlist = 4, sampleRows = 40)
    // 64 > sampleRows=40: the old driver path would throw kmeans' loud
    // sample<k refusal (the ingest ladder's crash ceiling); the guard must
    // route to the two-level trainer and still deliver all 64 cells
    Similarity.requantizeIvfStore(spark, tmp, newNlist = 64, sampleRows = 40)
    assert(Similarity.loadIvfIndex(spark, idx).length == 64,
      "growth past the driver-trainable ceiling must train hierarchically")
    assert(spark.read.parquet(data).count() == 600)
    val cells = spark.read.parquet(data).select("cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 64))
    // a store can never seat more cells than rows/2: 1000 clamps to 300
    Similarity.requantizeIvfStore(spark, tmp, newNlist = 1000, sampleRows = 40)
    assert(Similarity.loadIvfIndex(spark, idx).length == 300,
      "infeasible growth must clamp to the non-degenerate ceiling (rows/2)")
    assert(spark.read.parquet(data).count() == 600,
      "clamped requantize still relabels without adding/dropping rows")
  }

  test("streamIngestIvf rides requantize between micro-batches: index grows " +
    "in-stream, store complete, exhaustive recall holds") {
    val tmp = java.nio.file.Files.createTempDirectory("annstream-rq").toString
    val in = s"$tmp/slices"
    val base = System.currentTimeMillis()
    // 4 slices of 10 → 2 micro-batches of 20 at maxFilesPerTrigger=2
    (0 until 4).foreach { i =>
      emb.where(col("vec_id") >= i * 10L && col("vec_id") < (i + 1) * 10L)
        .coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    // bootstrap nlist=2, target 5 rows/cell: batch 0 leaves 20 rows > 5·2
    // → grow to 4; batch 1 leaves 40 > 5·4 → grow to 8. Two in-stream
    // maintenance fires, each reading the CURRENT index size (they
    // compound), never re-reading the source.
    val streamed = Similarity.streamIngestIvf(spark, in, s"$tmp/work",
      nlist = 2, sampleRows = 40, targetCellRows = 5, growFactor = 2)
    assert(Similarity.loadIvfIndex(spark, s"$tmp/work/ivf_index").length == 8,
      "both threshold crossings must fire, compounding 2 → 4 → 8")
    assert(streamed.count() == 40, "every streamed vector survives the in-stream swaps")
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(streamed, s"$tmp/work/ivf_index",
        probeId = 0L, k = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"evolved stored probe at nprobe=nlist must equal brute force: $got vs $bf")
  }

  test("streamIngestIvf fires the SKEW trigger in-stream: a concentrated " +
    "drop splits between batches, ceiling restored, stream completes") {
    val tmp = java.nio.file.Files.createTempDirectory("annstream-split").toString
    val in = s"$tmp/slices"
    val base0 = System.currentTimeMillis()
    // slice 0+1: the 40 uniform rows (bootstrap + spread); slice 2+3: 60
    // near-clones of vec 0 — a drift drop that concentrates one cell
    // while the MEAN stays below any requantize target
    val anchor = emb.where(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head().toArray
    val rnd = new scala.util.Random(13)
    val clones = (0 until 60).map { i =>
      (2000L + i, anchor.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }.toDF("vec_id", "embedding")
    val slices = Seq(
      emb.where(col("vec_id") < 20L),
      emb.where(col("vec_id") >= 20L),
      clones.where(col("vec_id") < 2030L),
      clones.where(col("vec_id") >= 2030L))
    slices.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base0 - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base0 - 3600000L + i * 2000L))
      }
    }
    val streamed = Similarity.streamIngestIvf(spark, in, s"$tmp/work",
      nlist = 4, sampleRows = 40, maxCellRows = 40)
    assert(streamed.count() == 100, "every streamed vector survives the in-stream split")
    // the split fired between batches: nlist grew past the bootstrap 4
    val nlistAfter = Similarity.loadIvfIndex(spark, s"$tmp/work/ivf_index").length
    assert(nlistAfter > 4, s"in-stream skew trigger must have fired; nlist=$nlistAfter")
    // and the ceiling is restored without stopping the stream
    val occ = Similarity.cellOccupancy(spark, s"$tmp/work")
      .as[(Int, Long)].collect().toMap
    assert(occ.values.max <= 40, s"post-stream occupancy must respect the ceiling: $occ")
    assert(occ.values.sum == 100L)
    // the evolved store still serves the exact truth at exhaustive nprobe
    val all = emb.unionByName(clones)
    val bf = Similarity.bruteForceTopK(all, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(streamed, s"$tmp/work/ivf_index",
        probeId = 0L, k = 5, nprobe = nlistAfter)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"exhaustive probe over the split store must equal brute force: $got vs $bf")
    for (left <- Seq("work/.split_stage", "work/.split_old",
        s"work/cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
  }

  test("compactIvfStore: batches collapse to one cell-clustered partition, " +
    "rows and probe unchanged, leftovers refused, later appends still land") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfcomp").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    val beforeRows = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    val beforeTop = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    Similarity.compactIvfStore(spark, tmp, upTo = 1L)
    val parts = new java.io.File(data).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=1"), s"expected one collapsed partition, got $parts")
    val afterRows = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    assert(afterRows == beforeRows, "compaction must not add/drop/change rows")
    val afterTop = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(afterTop == beforeTop, "the stored probe must be unchanged by compaction")
    for (left <- Seq(".compact_stage", ".compact_old", s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
    // stale leftovers refuse fast
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(tmp, ".compact_old"))
    val e = intercept[IllegalStateException] {
      Similarity.compactIvfStore(spark, tmp, upTo = 1L)
    }
    assert(e.getMessage.contains(".compact_old"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp, ".compact_old"))
    // the append path is untouched: a later batch lands beside the
    // collapsed partition and is immediately searchable
    val late = emb.where(col("vec_id") === 0L)
      .select(lit(888L).as("vec_id"), col("embedding"))
    Similarity.streamIngestIvfBatch(late, 2L, idx, data, nlist = 4, sampleRows = 40)
    val top1 = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 1, nprobe = 4)
      .select("vec_id").as[Long].collect().head
    assert(top1 == 888L, s"post-compaction append must be searchable, got $top1")
  }

  test("ivfProbeSetTopKStored: nprobe=nlist equals per-probe brute force, and the " +
    "batch runs as ONE store scan with the cell union pushed to parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfbstored").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    val stored = spark.read.parquet(data).drop("batch")
    val probes = emb.where(col("vec_id").isin(0L, 1L))
    val res = Similarity.ivfProbeSetTopKStored(stored, idx, probes, k = 5, nprobe = 4)
    val got = res.select("probe_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (p <- Seq(0L, 1L)) {
      val bf = Similarity.bruteForceTopK(emb, probeId = p, k = 5)
        .select("vec_id").as[Long].collect().toSet
      assert(got(p) == bf, s"probe $p: nprobe=nlist stored batch must equal brute force")
    }
    // plan shape: the WHOLE batch is one parquet scan of the store, and the
    // probes' cell union reaches it as a pushed In filter (row-group
    // pruning on a compacted cell-clustered store rides these stats)
    val plan = res.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // each scan node appears once in the tree and once as a numbered
    // detail header — count the headers
    val scans = """\(\d+\) Scan parquet""".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected exactly one store scan, got $scans:\n${plan.take(800)}")
    assert(plan.contains("In(cell"),
      s"cell union not pushed to the store scan:\n${plan.take(800)}")
  }

  test("quantized ANN ingest: store holds SQ8 codes at a fraction of the bytes, " +
    "code-ranked probe recalls, clone survives, requantize rewrites codes losslessly") {
    val tmp = java.nio.file.Files.createTempDirectory("annq").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    val fullTmp = java.nio.file.Files.createTempDirectory("annq-full").toString
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    // quantized and full-precision stores over the same two drops
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data,
      nlist = 4, sampleRows = 40, quantized = true)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data,
      nlist = 4, sampleRows = 40, quantized = true)
    Similarity.streamIngestIvfBatch(slice(0), 0L, s"$fullTmp/ivf_index", s"$fullTmp/cells",
      nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, s"$fullTmp/ivf_index", s"$fullTmp/cells",
      nlist = 4, sampleRows = 40)
    val cols = spark.read.parquet(data).columns.toSet
    assert(cols("qvec") && cols("qscale") && !cols("embedding"), cols.toString)
    def bytes(dir: String): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
    // bytes claim at a size where data outweighs parquet framing (the
    // 40×8 toy fixture is footer-dominated and the ratio inverts): one
    // drop of the sf0.001 table (500 vecs × 64 dims), codes vs floats.
    // Design target ~1/4 on the embedding column; assert a conservative
    // 2× so encoding noise can't flake it.
    val big = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val bq = java.nio.file.Files.createTempDirectory("annq-big-q").toString
    val bfl = java.nio.file.Files.createTempDirectory("annq-big-f").toString
    Similarity.streamIngestIvfBatch(big, 0L, s"$bq/ivf_index", s"$bq/cells",
      nlist = 16, sampleRows = 2048, quantized = true)
    Similarity.streamIngestIvfBatch(big, 0L, s"$bfl/ivf_index", s"$bfl/cells",
      nlist = 16, sampleRows = 2048)
    assert(bytes(s"$bq/cells") * 2 < bytes(s"$bfl/cells"),
      s"quantized ${bytes(s"$bq/cells")} B vs full ${bytes(s"$bfl/cells")} B")
    // code-ranked exhaustive probe recalls >= 4/5 of the float truth (the
    // quantize contract) and a byte-identical clone (cosine 1.0) is top-1
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert((bf intersect got).size >= 4, s"code-ranked recall too low: $got vs $bf")
    val clone = slice(0).where(col("vec_id") === 0L)
      .select(lit(777L).as("vec_id"), col("embedding"))
    Similarity.streamIngestIvfBatch(clone, 2L, idx, data,
      nlist = 4, sampleRows = 40, quantized = true)
    val top1 = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 1, nprobe = 4)
      .select("vec_id").as[Long].collect().head
    assert(top1 == 777L, s"byte-identical clone must rank first, got $top1")
    // maintenance on the quantized store: nlist grows, codes rewrite
    // LOSSLESSLY (bit-identical), layout stays codes-only
    val codesBefore = spark.read.parquet(data)
      .select(col("vec_id"), col("qvec").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    Similarity.requantizeIvfStore(spark, tmp, newNlist = 8, sampleRows = 40)
    assert(Similarity.loadIvfIndex(spark, idx).length == 8)
    val after = spark.read.parquet(data)
    assert(!after.columns.contains("embedding"), "requantize must preserve the code layout")
    val codesAfter = after
      .select(col("vec_id"), col("qvec").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codesAfter == codesBefore, "requantize must rewrite codes losslessly")
  }

  test("IVF-PQ streamed store: codes-only layout, ADC + exact rerank serves the " +
    "truth, requantize relabels cells without touching a code") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqstore").toString
    val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfPqBatch(slice(0), 0L, tmp,
      nlist = 4, m = 4, codebookK = 8, sampleRows = 40)
    Similarity.streamIngestIvfPqBatch(slice(1), 1L, tmp,
      nlist = 4, m = 4, codebookK = 8, sampleRows = 40)
    val cols = spark.read.parquet(data).columns.toSet
    assert(cols("pqcode") && cols("cell") && !cols("embedding"), cols.toString)
    assert(spark.read.parquet(data).count() == 40, "every ingested vector lands")
    // serving at nprobe = nlist with a rerank pool covering the corpus:
    // the exact re-rank recovers brute force exactly (the refine
    // discipline's degenerate-correctness bound)
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfPqTopKStored(spark, tmp, probeId = 0L,
        rerankWith = emb, k = 5, nprobe = 4, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"full-probe IVF-PQ + rerank must equal brute force: $got vs $bf")
    // maintenance through the SHARED requantize op: nlist grows, the pq
    // codes rewrite bit-identically (they encode raw vectors, so cell
    // relabeling never touches them), layout stays codes-only
    val codesBefore = spark.read.parquet(data)
      .select(col("vec_id"), col("pqcode"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    Similarity.requantizeIvfStore(spark, tmp, newNlist = 8, sampleRows = 40)
    assert(Similarity.loadIvfIndex(spark, s"$tmp/ivf_index").length == 8)
    val after = spark.read.parquet(data)
    assert(!after.columns.contains("embedding"), "requantize must keep the code layout")
    val codesAfter = after.select(col("vec_id"), col("pqcode"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codesAfter == codesBefore, "requantize must pass pq codes through untouched")
    // the swap left no leftovers and the store still serves the truth
    for (left <- Seq(".requant_stage", ".requant_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
    val got2 = Similarity.ivfPqTopKStored(spark, tmp, probeId = 0L,
        rerankWith = emb, k = 5, nprobe = 8, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got2 == bf, s"post-requantize serve must equal brute force: $got2 vs $bf")
    // the OTHER maintenance op composes too: compaction passes the coded
    // payload through (one clustered partition, codes + serve unchanged)
    Similarity.compactIvfStore(spark, tmp, upTo = 1L)
    val parts = new java.io.File(data).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=1"), s"expected one collapsed partition, got $parts")
    val codesCompacted = spark.read.parquet(data).select(col("vec_id"), col("pqcode"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codesCompacted == codesBefore, "compaction must pass pq codes through")
    val got3 = Similarity.ivfPqTopKStored(spark, tmp, probeId = 0L,
        rerankWith = emb, k = 5, nprobe = 8, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got3 == bf, s"post-compaction serve must equal brute force: $got3 vs $bf")
    // batch probe-set over the coded store: at full nprobe with a pool
    // covering the corpus, every probe's re-ranked top-k equals its
    // per-probe brute force
    val batchDf = Similarity.ivfPqProbeSetTopKStored(spark, tmp,
        probes = emb.where(col("vec_id").isin(0L, 1L)), rerankWith = emb,
        k = 5, nprobe = 8, rerank = 8)
    val batch = batchDf
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (p <- Seq(0L, 1L)) {
      val t = Similarity.bruteForceTopK(emb, probeId = p, k = 5)
        .select("vec_id").as[Long].collect().toSet
      assert(batch(p) == t, s"probe $p: full-probe batch must equal brute force")
    }
    // same plan discipline as the flat batch probe: the coded store scans
    // ONCE with the probes' cell union pushed as an In filter
    val plan = batchDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = """\(\d+\) Scan parquet""".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected exactly one coded-store scan, got $scans")
    assert(plan.contains("In(cell"), "cell union not pushed to the coded-store scan")
  }

  test("persisted PQ codebooks: load is train-free and probe matches the in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString + "/pq"
    Similarity.savePqIndex(emb, dir, m = 4, codebookK = 8, sampleRows = 40)
    val direct = Similarity.pqTopK(emb, probeId = 0L, kTop = 5, m = 4, codebookK = 8)
      .as[(Long, Double)].collect().toSeq

    Similarity.clearIndexCaches()
    val before = Similarity.kmeansTrainings
    val viaIndex = Similarity.pqTopKPersisted(emb, dir, probeId = 0L, kTop = 5)
      .as[(Long, Double)].collect().toSeq
    assert(Similarity.kmeansTrainings == before,
      "probing a persisted PQ index must not re-run k-means")
    assert(viaIndex == direct)
  }

  test("filtered stored batch probe: pre-filter semantics vs filtered brute " +
    "force, one scan with BOTH the label filter and the cell union pushed") {
    val labeled = emb.withColumn("label", (col("vec_id") % 4).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("ivffilt").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.streamIngestIvfBatch(labeled, 0L, idx, data, nlist = 4, sampleRows = 40)
    val stored = spark.read.parquet(data).drop("batch")
    val probes = labeled.where(col("vec_id") === 0L)
    // nprobe = nlist → exhaustive: the filtered probe must EQUAL the
    // filtered brute force (pre-filter, not post-filter, semantics)
    val got = Similarity.ivfProbeSetTopKStored(stored, idx, probes,
      k = 5, nprobe = 4, rowFilter = col("label") === 1)
    val bf = Similarity.bruteForceTopK(labeled.where(col("label") === 1)
        .unionByName(probes), probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got.select("vec_id").as[Long].collect().toSet == bf,
      "exhaustive filtered probe must equal filtered brute force")
    // every returned row satisfies the predicate
    val labels = got.join(labeled, Seq("vec_id")).select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ == 1))
    // selectivity-scaled serve: sel = 10/40 at base nprobe 1 widens to
    // ceil(1·40/10) = 4 = nlist — the exhaustive cap — so the filtered
    // wrapper must also equal the filtered truth
    val capped = Similarity.ivfProbeSetTopKStoredFiltered(stored, idx, probes,
      rowFilter = col("label") === 1, k = 5, nprobe = 1)
    assert(capped.select("vec_id").as[Long].collect().toSet == bf,
      "inverse-selectivity cap must degrade to the exhaustive one-scan probe")
    // plan: ONE store scan carrying both pushed filters
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = """\(\d+\) Scan parquet""".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected exactly one store scan, got $scans\n$plan")
    assert(plan.contains("In(cell"), "cell union not pushed to the store scan")
    assert(plan.contains("EqualTo(label,1)"),
      "relational pre-filter not pushed to the store scan")
  }

  test("retainIvfStoreBatches: aged batches drop metadata-only, seed never " +
    "ages, drop-all refuses, probes serve the retained corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfret").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    // the streamed layout's empty seed partition + two real batches
    slice(0).limit(0).withColumn("cell", lit(0))
      .write.parquet(s"$data/batch=-1")
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    def files(): Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      val root = java.nio.file.Paths.get(data)
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith("."))
          out(root.relativize(p).toString) = java.nio.file.Files
            .getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = files()
    assert(Similarity.retainIvfStoreBatches(spark, tmp, cutoff = 0L) == Seq(0L))
    val after = files()
    // metadata-only: survivors untouched (same mtimes), batch=0 gone,
    // the batch=-1 seed survived the v <= cutoff predicate
    assert(after.keySet == before.keySet.filterNot(_.contains("batch=0/")))
    assert(after.forall { case (f, m) => before(f) == m })
    assert(after.keySet.exists(_.contains("batch=-1")))
    val left = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    assert(left == (20L until 40L).toSeq)
    // the probe serves exactly the retained corpus at exhaustive nprobe
    val bf = emb.where(col("vec_id") >= 20L).crossJoin(
        broadcast(emb.where(col("vec_id") === 25L)
          .select(col("embedding").as("probe_emb"))))
      .where(col("vec_id") =!= 25L)
      .withColumn("cosine",
        round(graft.functions.VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 25L, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"post-retention probe must equal brute force over retained: $got vs $bf")
    // aging out every real batch refuses (empty store unseedable)
    val e = intercept[IllegalArgumentException] {
      Similarity.retainIvfStoreBatches(spark, tmp, cutoff = 1L)
    }
    assert(e.getMessage.contains("every batch"))
  }

  test("deleteFromIvfStore: victims gone, survivors complete, untouched " +
    "files byte-identical, centroids untouched, no-op on absent ids") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfdel").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    val centroidsBefore = Similarity.loadIvfIndex(spark, idx).map(_.toSeq).toSeq
    def files(): Map[String, (Long, String)] = {
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      val root = java.nio.file.Paths.get(data)
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")) {
          val b = java.nio.file.Files.readAllBytes(p)
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(b).map("%02x".format(_)).mkString
          out(root.relativize(p).toString) = (b.length.toLong, sha)
        }
      }
      out.toMap
    }
    val before = files()
    // victims live in batch=1 only → batch=0 files must not move
    val victims = Seq(25L, 31L, 37L)
    val n = Similarity.deleteFromIvfStore(spark, tmp, victims)
    assert(n == 3L, s"expected 3 deletions, got $n")
    val after = files()
    val survivors = before.keySet intersect after.keySet
    assert(survivors.exists(_.startsWith("batch=0")),
      "files without victims must survive the delete")
    survivors.foreach { f =>
      assert(after(f) == before(f), s"untouched file $f must stay byte-identical")
    }
    assert((before.keySet -- after.keySet).forall(_.startsWith("batch=1")),
      "only victim-holding files may move")
    val left = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    assert(left == (0L until 40L).filterNot(victims.contains).toSeq,
      "exactly the victims must disappear; every other row survives")
    // centroids byte-for-byte untouched (deletion is not a re-train)
    assert(Similarity.loadIvfIndex(spark, idx).map(_.toSeq).toSeq == centroidsBefore)
    // the shrunken store still serves the exact truth at exhaustive nprobe
    val bf = Similarity.bruteForceTopK(
        emb.where(!col("vec_id").isin(victims.map(java.lang.Long.valueOf): _*)),
        probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"post-delete probe must equal brute force minus victims: $got vs $bf")
    // absent ids: priced at one count, store untouched, no swap
    val allAfter = files()
    assert(Similarity.deleteFromIvfStore(spark, tmp, Seq(999999L)) == 0L)
    assert(files() == allAfter, "a 0-victim delete must leave the store untouched")
    for (l <- Seq(".delete_stage", ".delete_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, l)), l)
    // CODED layout (SQ8): the same erasure works payload-through — the
    // victims' rows vanish, every survivor's codes are byte-equal
    val tmpQ = java.nio.file.Files.createTempDirectory("ivfdelq").toString
    Similarity.streamIngestIvfBatch(emb, 0L, s"$tmpQ/ivf_index", s"$tmpQ/cells",
      nlist = 4, sampleRows = 40, quantized = true)
    val codesBefore = spark.read.parquet(s"$tmpQ/cells")
      .select(col("vec_id"), col("qvec")).as[(Long, Seq[Byte])]
      .collect().toMap
    assert(Similarity.deleteFromIvfStore(spark, tmpQ, Seq(5L, 6L)) == 2L)
    val codesAfter = spark.read.parquet(s"$tmpQ/cells")
      .select(col("vec_id"), col("qvec")).as[(Long, Seq[Byte])]
      .collect().toMap
    assert(codesAfter.keySet == codesBefore.keySet - 5L - 6L,
      "coded-layout delete must remove exactly the victims")
    codesAfter.foreach { case (id, q) =>
      assert(q == codesBefore(id), s"survivor $id's codes must pass through")
    }
    // PQ layout: the same erasure passes the PQ codes through untouched
    // and NEITHER quantizer artifact (coarse centroids, codebooks) moves;
    // the shrunken coded store still serves ADC+rerank recall
    val tmpP = java.nio.file.Files.createTempDirectory("ivfdelpq").toString
    Similarity.streamIngestIvfPqBatch(emb, 0L, tmpP, nlist = 4, m = 8,
      codebookK = 32, sampleRows = 40)
    val pqBefore = spark.read.parquet(s"$tmpP/cells")
      .select(col("vec_id"), col("pqcode")).as[(Long, Seq[Int])]
      .collect().toMap
    val coarseBefore = Similarity.loadIvfIndex(spark, s"$tmpP/ivf_index")
      .map(_.toSeq).toSeq
    val booksBefore = Similarity.loadPqIndex(spark, s"$tmpP/pq_index")
      .map(_.map(_.toSeq).toSeq).toSeq
    assert(Similarity.deleteFromIvfStore(spark, tmpP, Seq(8L, 9L)) == 2L)
    val pqAfter = spark.read.parquet(s"$tmpP/cells")
      .select(col("vec_id"), col("pqcode")).as[(Long, Seq[Int])]
      .collect().toMap
    assert(pqAfter.keySet == pqBefore.keySet - 8L - 9L,
      "PQ-layout delete must remove exactly the victims")
    pqAfter.foreach { case (id, q) =>
      assert(q == pqBefore(id), s"survivor $id's PQ codes must pass through")
    }
    Similarity.clearIndexCaches()
    assert(Similarity.loadIvfIndex(spark, s"$tmpP/ivf_index")
      .map(_.toSeq).toSeq == coarseBefore, "coarse centroids must not move")
    assert(Similarity.loadPqIndex(spark, s"$tmpP/pq_index")
      .map(_.map(_.toSeq).toSeq).toSeq == booksBefore,
      "PQ codebooks must not move")
    val bfP = Similarity.bruteForceTopK(
        emb.where(!col("vec_id").isin(8L, 9L)), probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val gotP = Similarity.ivfPqTopKStored(spark, tmpP, probeId = 0L,
        rerankWith = emb.where(!col("vec_id").isin(8L, 9L)),
        k = 5, nprobe = 4, rerank = 10)
      .select("vec_id").as[Long].collect().toSet
    assert((bfP intersect gotP).size >= 4,
      s"post-delete ADC+rerank recall must hold: $gotP vs $bfP")
  }

  test("erasure vs live maintenance: a delete issued while the sentinel " +
    "is up REFUSES cleanly — store untouched, no stage, retryable after") {
    // the race a live ingest stream exposes: its between-batch triggers
    // (requantize/hot-split) raise the MaintenanceSentinel for the swap
    // window; an external deleteFromIvfStore arriving inside that window
    // must not corrupt the store OR kill the swap. The pinned contract is
    // single-writer REFUSAL: the delete throws (naming the sentinel path
    // so the caller can wait for the between-batch slot), moves nothing,
    // and the SAME request succeeds once the window closes.
    val tmp = java.nio.file.Files.createTempDirectory("ivfdel-race").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.streamIngestIvfBatch(emb, 0L, idx, data, nlist = 4, sampleRows = 40)
    def snapshot(): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val root = java.nio.file.Paths.get(tmp)
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          out(root.relativize(p).toString) = sha
        }
      }
      out.toMap
    }
    // raise the sentinel exactly as a concurrent maintenance op would
    val sentinelP = java.nio.file.Paths.get(data, graft.operators.StoredTable.MaintenanceSentinel)
    java.nio.file.Files.createFile(sentinelP)
    val before = snapshot()
    val e = intercept[IllegalStateException](
      Similarity.deleteFromIvfStore(spark, tmp, Seq(1L, 2L)))
    assert(e.getMessage.contains(graft.operators.StoredTable.MaintenanceSentinel),
      s"refusal must name the sentinel: ${e.getMessage}")
    assert(snapshot() == before,
      "a refused delete must leave every byte in place (incl. the sentinel)")
    // window closes → the identical request succeeds
    java.nio.file.Files.delete(sentinelP)
    assert(Similarity.deleteFromIvfStore(spark, tmp, Seq(1L, 2L)) == 2L)
    val left = spark.read.parquet(data).select("vec_id").as[Long].collect().toSet
    assert(left == (0L until 40L).toSet - 1L - 2L)
  }

  test("filtered serve prices selectivity ONCE per (store, predicate): " +
    "repeat serves hit the cache, maintenance swaps re-price") {
    val labeled = emb.withColumn("label", (col("vec_id") % 4).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("ivfselcache").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.streamIngestIvfBatch(labeled, 0L, idx, data, nlist = 4, sampleRows = 40)
    val probes = labeled.where(col("vec_id") === 0L)
    def serve() = Similarity.ivfProbeSetTopKStoredFiltered(
        spark.read.parquet(data).drop("batch"), idx, probes,
        rowFilter = col("label") === 1, k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    val p0 = Similarity.selectivityPricings
    val first = serve()
    assert(Similarity.selectivityPricings == p0 + 1,
      "first serve of a (store, predicate) pair must pay ONE pricing aggregate")
    val second = serve()
    assert(second == first)
    assert(Similarity.selectivityPricings == p0 + 1,
      "a repeat serve must price from the cache — no second store job")
    // RESOLVED-attribute predicates (df("label") === 1 — fresh exprId per
    // read) must hit the same cache entry: the key normalizes exprIds out
    // of the predicate, so these callers don't silently re-price forever
    val freshRead = spark.read.parquet(data).drop("batch")
    val resolved = Similarity.ivfProbeSetTopKStoredFiltered(
        freshRead, idx, probes,
        rowFilter = freshRead("label") === 1, k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(resolved == first)
    assert(Similarity.selectivityPricings == p0 + 1,
      "a resolved-attribute predicate must hit the cache, not re-price")
    // maintenance swap invalidates: the same serve re-prices exactly once
    Similarity.invalidateIvfIndex(idx)
    serve()
    assert(Similarity.selectivityPricings == p0 + 2,
      "a maintenance-invalidated store must re-price on next serve")
  }

  test("filtered serve on the CODED store: pre-filter semantics equal " +
    "filtered brute force at scaled widths, rerank pool scales with 1/sel") {
    val labeled = emb.withColumn("label", (col("vec_id") % 4).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqfilt").toString
    Similarity.streamIngestIvfPqBatch(labeled, 0L, tmp, nlist = 4, m = 8,
      codebookK = 32, sampleRows = 40)
    val probes = labeled.where(col("vec_id") === 0L)
    // sel = 10/40: base nprobe 1 widens to 4 (= nlist, exhaustive) and
    // base rerank 3 widens to 12 — pool covers every qualifier, so the
    // coded serve must EQUAL the filtered float brute force
    val got = Similarity.ivfPqProbeSetTopKStoredFiltered(spark, tmp,
        probes = probes, rerankWith = labeled,
        rowFilter = col("label") === 1, k = 5, nprobe = 1, rerank = 3)
      .select("vec_id").as[Long].collect().toSet
    val bf = Similarity.bruteForceTopK(labeled.where(col("label") === 1)
        .unionByName(probes), probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf,
      s"exhaustive-width coded filtered serve must equal filtered truth: $got vs $bf")
    // every returned row satisfies the predicate (pre-filter semantics)
    val labels = labeled.where(col("vec_id").isin(got.toSeq.map(java.lang.Long.valueOf): _*))
      .select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ == 1))
    // plan: ONE parquet scan (the coded store), carrying BOTH pushed
    // filters — the cell union and the relational pre-filter
    val plan = Similarity.ivfPqProbeSetTopKStoredFiltered(spark, tmp,
        probes = probes, rerankWith = labeled,
        rowFilter = col("label") === 1, k = 5, nprobe = 1, rerank = 3)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val scans = """\(\d+\) Scan parquet""".r.findAllMatchIn(plan).size
    assert(scans == 1, s"expected exactly one store scan, got $scans\n$plan")
    assert(plan.contains("In(cell"), "cell union not pushed to the coded store scan")
    assert(plan.contains("EqualTo(label,1)"),
      "relational pre-filter not pushed to the coded store scan")
  }

  test("splitHotCells: hot cell splits locally (cold rows bit-identical), " +
    "occupancy drops, exhaustive probe stays exact, no-op below threshold") {
    // index trained on the 40 uniform rows; THEN a concentrated drop of 60
    // near-clones of vec 0 lands — the drift pattern a mean-based
    // requantize trigger misses (mean 100/4 = 25, but one cell holds 60+)
    val tmp = java.nio.file.Files.createTempDirectory("hotsplit").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.saveIvfIndex(emb, idx, nlist = 4, sampleRows = 40)
    val base = emb.where(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head().toArray
    val rnd = new scala.util.Random(5)
    val clones = (0 until 60).map { i =>
      (1000L + i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.streamIngestIvfBatch(emb, 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(clones, 1L, idx, data, nlist = 4, sampleRows = 40)
    val occBefore = Similarity.cellOccupancy(spark, tmp)
      .as[(Int, Long)].collect().toMap
    val hotCell = occBefore.maxBy(_._2)._1
    assert(occBefore(hotCell) >= 60, s"fixture must concentrate mass: $occBefore")
    val coldBefore = spark.read.parquet(data)
      .where(col("cell") =!= hotCell)
      .select("vec_id", "cell", "batch").as[(Long, Int, Int)].collect().sorted.toSeq
    val nSplit = Similarity.splitHotCells(spark, tmp, maxCellRows = 40, splitFactor = 4)
    assert(nSplit == 1, s"exactly the one hot cell must split, got $nSplit")
    assert(Similarity.loadIvfIndex(spark, idx).length == 7,
      "sub 0 replaces in place, subs 1-3 append: 4 + 3 = 7")
    // cold rows: bit-identical (vec_id, cell, batch)
    val coldAfter = spark.read.parquet(data)
      .where(!col("cell").isin(hotCell, 4, 5, 6))
      .select("vec_id", "cell", "batch").as[(Long, Int, Int)].collect().sorted.toSeq
    assert(coldAfter == coldBefore, "cold cells must not move")
    // hot rows spread over the sub-cells, occupancy ceiling restored
    val occAfter = Similarity.cellOccupancy(spark, tmp)
      .as[(Int, Long)].collect().toMap
    assert(occAfter.values.sum == occBefore.values.sum, "no rows added/dropped")
    assert(occAfter.values.max < occBefore(hotCell),
      s"max occupancy must drop: $occAfter")
    assert(occAfter.keys.count(k => k == hotCell || k >= 4) >= 2,
      "hot rows must actually spread over sub-cells")
    // iterate the trigger to quiescence: a tight blob can land inside ONE
    // sub-cell on the first pass (all near seeds) — recursive splitting
    // is the genuine response, and it must converge fast on distinct rows
    var extra = 0
    while (Similarity.splitHotCells(spark, tmp, maxCellRows = 40) > 0) {
      extra += 1
      assert(extra <= 4, "recursive splitting must converge")
    }
    val occFinal = Similarity.cellOccupancy(spark, tmp)
      .as[(Int, Long)].collect().toMap
    assert(occFinal.values.max <= 40,
      s"quiescence means every cell is on or under the ceiling: $occFinal")
    assert(occFinal.values.sum == occBefore.values.sum)
    // the evolved store still serves the exact truth at exhaustive nprobe
    val nlistFinal = Similarity.loadIvfIndex(spark, idx).length
    val bf = Similarity.bruteForceTopK(emb.unionByName(clones), probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfTopKStored(spark.read.parquet(data).drop("batch"), idx,
        probeId = 0L, k = 5, nprobe = nlistFinal)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"exhaustive probe over the split store must equal brute force: $got vs $bf")
    // quiescent trigger → no-op, store untouched, and swap hygiene holds
    val all = spark.read.parquet(data)
      .select("vec_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    assert(Similarity.splitHotCells(spark, tmp, maxCellRows = 40) == 0)
    val allAfter = spark.read.parquet(data)
      .select("vec_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    assert(allAfter == all, "a no-op trigger must leave the store untouched")
    for (left <- Seq(".split_stage", ".split_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
  }

  test("splitHotCells: an UNSPLITTABLE hot cell (byte-identical vectors) " +
    "returns 0 without a rewrite, is memoized, and re-arms on occupancy change") {
    // 50 byte-identical clones of one anchor land in one cell — k-means
    // cannot separate equal points, so the cell can never reach the
    // ceiling. The trigger must (a) detect that BEFORE any stage+swap,
    // (b) return 0 so bounded loops terminate, (c) skip the cell on later
    // triggers while occupancy is unchanged (no per-batch rewrite tax),
    // and (d) retry once occupancy changes.
    val tmp = java.nio.file.Files.createTempDirectory("hotsplit-stuck").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.saveIvfIndex(emb, idx, nlist = 4, sampleRows = 40)
    val anchor = emb.where(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head()
    val clones = (0 until 50).map(i => (2000L + i, anchor))
      .toDF("vec_id", "embedding")
    Similarity.streamIngestIvfBatch(emb, 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(clones, 1L, idx, data, nlist = 4, sampleRows = 40)
    // drive to quiescence: distinct co-residents may split OUT of the hot
    // cell first; the identical blob itself can never split, so the loop
    // MUST reach 0 in bounded rounds (the pre-fix behavior re-ran
    // splitRounds full rewrites per trigger forever)
    var rounds = 0
    while (Similarity.splitHotCells(spark, tmp, maxCellRows = 40) > 0) {
      rounds += 1
      assert(rounds <= 5, "a stuck blob must drive the trigger to 0, not loop")
    }
    val occ = Similarity.cellOccupancy(spark, tmp).as[(Int, Long)].collect().toMap
    assert(occ.values.max >= 50,
      s"fixture must leave the identical blob over the ceiling: $occ")
    def files(): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val root = java.nio.file.Paths.get(data)
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val nm = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !nm.startsWith("_") && !nm.startsWith(".")) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          out(root.relativize(p).toString) = sha
        }
      }
      out.toMap
    }
    // memoized: repeat triggers return 0 AND move no bytes (the idle path
    // is the occupancy aggregate alone)
    val snap = files()
    assert(Similarity.splitHotCells(spark, tmp, maxCellRows = 40) == 0)
    assert(Similarity.splitHotCells(spark, tmp, maxCellRows = 40) == 0)
    assert(files() == snap, "a memoized stuck cell must not pay any rewrite")
    for (left <- Seq(".split_stage", ".split_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
    // occupancy change re-arms: distinct near-anchor rows land in the
    // stuck cell; the next trigger retries and splits them back out
    val rnd = new scala.util.Random(11)
    val fresh = (0 until 30).map { i =>
      (3000L + i, anchor.toArray.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.streamIngestIvfBatch(fresh, 2L, idx, data, nlist = 4, sampleRows = 40)
    assert(Similarity.splitHotCells(spark, tmp, maxCellRows = 40) >= 1,
      "an occupancy change must re-arm the memoized cell")
    // rows conserved throughout
    val total = spark.read.parquet(data).count()
    assert(total == 40L + 50L + 30L, s"rows conserved: $total")
  }

  test("splitHotCells is physically targeted: cold FILES never move " +
    "(byte-identical), rewrite volume tracks hot mass, content preserved") {
    // cell-clustered seed (the compacted layout): 400 uniform rows + 60
    // near-clones of one anchor, nlist 16 — the hot region lives in an
    // identifiable file subset, so the split must move ONLY those files
    val rnd = new scala.util.Random(7)
    val big = (0L until 400L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val anchor = big.where(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head().toArray
    val clones = (0 until 60).map { i =>
      (5000L + i, anchor.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("hotsplit-phys").toString
    Similarity.saveIvfIndex(big, s"$tmp/ivf_index", nlist = 16, sampleRows = 400)
    Similarity.seedIvfStore(big.unionByName(clones), tmp)
    def dataFiles(): Map[String, (Long, String)] = {
      val dir = java.nio.file.Paths.get(tmp, "cells", "batch=0")
      val it = java.nio.file.Files.list(dir).iterator()
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (!n.startsWith("_") && !n.startsWith(".")) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(bytes).map("%02x".format(_)).mkString
          out(n) = (bytes.length.toLong, sha)
        }
      }
      out.toMap
    }
    val before = dataFiles()
    assert(before.size >= 3, s"fixture needs a multi-file store: ${before.size}")
    val contentBefore = spark.read.parquet(s"$tmp/cells")
      .select("vec_id").as[Long].collect().sorted.toSeq
    val occ = Similarity.cellOccupancy(spark, tmp).as[(Int, Long)].collect().toMap
    assert(occ.values.max >= 60, s"fixture must concentrate mass: $occ")
    val nSplit = Similarity.splitHotCells(spark, tmp, maxCellRows = 55)
    assert(nSplit >= 1)
    val after = dataFiles()
    // cold files: every pre-split file still present is byte-identical,
    // and at least one file survived (the rewrite was not store-wide)
    val survivors = before.keySet intersect after.keySet
    assert(survivors.nonEmpty,
      s"targeted rewrite must leave cold files in place; before=${before.keys}")
    survivors.foreach { n =>
      assert(after(n) == before(n), s"cold file $n must stay byte-identical")
    }
    // rewrite volume ∝ hot mass: the moved (vanished) files hold well
    // under half the store's bytes on this 16-cell layout
    val movedBytes = (before.keySet -- after.keySet).toSeq.map(before(_)._1).sum
    val totalBytes = before.values.map(_._1).sum
    assert(movedBytes > 0 && movedBytes.toDouble / totalBytes <= 0.5,
      s"moved $movedBytes of $totalBytes bytes — rewrite must track hot mass")
    // logical content preserved exactly (rows relabel, never move/drop)
    val contentAfter = spark.read.parquet(s"$tmp/cells")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(contentAfter == contentBefore)
    for (left <- Seq(".split_stage", ".split_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, left)), left)
  }

  test("kmeans clamps loudly when k exceeds the sample") {
    val rnd = new scala.util.Random(3)
    val sample = Array.fill(5)(Array.fill(4)(rnd.nextGaussian()))
    val e = intercept[IllegalArgumentException](Similarity.kmeans(sample, k = 6))
    assert(e.getMessage.contains("sample 5 < k=6"), e.getMessage)
    // equality is the boundary case the coarse-gate trains (k == sample)
    assert(Similarity.kmeans(sample, k = 5).length == 5)
  }

  test("allocateByMass: proportional largest-remainder, capacity-clamped, " +
    "deterministic, sums to total") {
    // plain proportional with a fractional tie: 10 seats over 100/50/50
    assert(Similarity.allocateByMass(Map(0 -> 100L, 1 -> 50L, 2 -> 50L), 10) ==
      Map(0 -> 5, 1 -> 3, 2 -> 2))
    // capacity clamp + spill: group 1 can seat at most 1
    val a = Similarity.allocateByMass(Map(0 -> 10L, 1 -> 1L), 11)
    assert(a == Map(0 -> 10, 1 -> 1))
    // remainder seat lands on the larger fractional quota
    assert(Similarity.allocateByMass(Map(0 -> 10L, 1 -> 1L), 10) ==
      Map(0 -> 9, 1 -> 1))
    // infeasible totals refuse loudly
    intercept[IllegalArgumentException](
      Similarity.allocateByMass(Map(0 -> 2L, 1 -> 1L), 4))
  }

  test("buildCentroidsHierarchical: honors nlist past any single-group need, " +
    "deterministic rebuild, full-corpus sample when the corpus is small") {
    // 40 rows, nlist 12 — far above what a tiny driver sample at
    // sampleRows=40 could train through a single degenerate group; the
    // hierarchical trainer must still return exactly 12 centroids
    val (c1, n1) = Similarity.buildCentroidsHierarchical(
      emb, nlist = 12, oversample = 10, sampleRows = 40)
    val (c2, n2) = Similarity.buildCentroidsHierarchical(
      emb, nlist = 12, oversample = 10, sampleRows = 40)
    assert(c1.length == 12, s"trained ${c1.length} centroids, wanted 12")
    assert(n1 == 40L, "fraction-1 hash sample must keep the whole corpus")
    assert(n1 == n2 && c1.zip(c2).forall { case (x, y) =>
      java.util.Arrays.equals(x, y) }, "rebuild must be bit-identical")
    // every corpus vector assigns to SOME trained centroid, and an
    // exhaustive probe over the hierarchical index equals brute force
    val tmp = java.nio.file.Files.createTempDirectory("hieridx").toString
    Similarity.trainIvfIndexHierarchical(emb, s"$tmp/ivf_index", nlist = 12,
      oversample = 10, sampleRows = 40)
    Similarity.seedIvfStore(emb, tmp)
    val stored = spark.read.parquet(s"$tmp/cells").drop("batch")
    assert(stored.count() == 40, "seedIvfStore must land every corpus row")
    val bf = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfProbeSetTopKStored(stored, s"$tmp/ivf_index",
        emb.where(col("vec_id") === 0L), k = 5, nprobe = 12)
      .select("vec_id").as[Long].collect().toSet
    assert(got == bf, s"nprobe=nlist over the hierarchical store must equal brute force: $got vs $bf")
  }

  test("coarse two-level cell assigner: exhaustive probes equal the exact scan, " +
    "default probes agree closely, rebuild is deterministic") {
    val rnd = new scala.util.Random(7)
    val cents: Array[Array[Double]] = Array.fill(96)(Array.fill(8)(rnd.nextGaussian()))
    val vecs: Seq[Seq[Float]] =
      (0 until 300).map(_ => Seq.fill(8)(rnd.nextGaussian().toFloat))
    val exact = Similarity.nearestCellAssigner(cents)
    val exactCells = vecs.map(exact)
    // probeGroups >= nGroups scans every member list — must reproduce the
    // linear scan EXACTLY, ties included (same lowest-index tie-break)
    val coarseAll =
      Similarity.nearestCellAssigner(cents, forceCoarse = true, probeGroups = Int.MaxValue)
    assert(vecs.map(coarseAll) == exactCells,
      "exhaustive coarse probes must degrade to the exact linear scan")
    // the default shortlist is approximate in the IVF-nprobe sense; on
    // gaussian centroids/queries it should still find the true nearest
    // centroid for the large majority of rows
    val coarseDef = Similarity.nearestCellAssigner(cents, forceCoarse = true)
    val defCells = vecs.map(coarseDef)
    val agree = defCells.zip(exactCells).count { case (a, b) => a == b }
    assert(agree >= 240, s"default coarse-probe agreement too low: $agree/300")
    // determinism across a REBUILT group quantizer (cloned matrix defeats
    // the identity cache): seed, probe, and requantize must always agree
    val rebuilt =
      Similarity.nearestCellAssigner(cents.map(_.clone()), forceCoarse = true)
    assert(vecs.map(rebuilt) == defCells,
      "coarse assignment must be deterministic across group-quantizer rebuilds")
    // a NaN vector has no comparable distance anywhere: both paths must
    // stay TOTAL and pin it to cell 0 (the pre-coarse linear scan's
    // behavior) instead of throwing or returning -1
    val nanVec: Seq[Float] = Seq.fill(8)(Float.NaN)
    assert(exact(nanVec) == 0, "exact path must pin NaN vectors to cell 0")
    assert(coarseDef(nanVec) == 0, "coarse path must pin NaN vectors to cell 0")
    assert(coarseAll(nanVec) == 0, "exhaustive coarse path must pin NaN vectors to cell 0")
  }

  test("coarse top-nprobe cell ranking: exhaustive probes equal the exact ranking; " +
    "shortlist always yields nprobe cells containing its own best assignment") {
    val rnd = new scala.util.Random(13)
    val cents: Array[Array[Double]] = Array.fill(96)(Array.fill(8)(rnd.nextGaussian()))
    val vecs: Seq[Seq[Float]] =
      (0 until 200).map(_ => Seq.fill(8)(rnd.nextGaussian().toFloat))
    val exact = Similarity.nearestCellsAssigner(cents, nprobe = 4)
    val coarseAll = Similarity.nearestCellsAssigner(cents, nprobe = 4,
      forceCoarse = true, probeGroups = Int.MaxValue)
    assert(vecs.map(coarseAll) == vecs.map(exact),
      "exhaustive coarse probes must reproduce the exact top-nprobe ranking")
    // the shortlisted form must (a) always fill nprobe cells and (b) rank
    // the single-cell assigner's pick first — the two paths share the
    // group shortlist, so the probe-set path can never miss the cell the
    // corpus side would assign a copy of the probe to
    val coarseDef = Similarity.nearestCellsAssigner(cents, nprobe = 4, forceCoarse = true)
    val single = Similarity.nearestCellAssigner(cents, forceCoarse = true)
    vecs.foreach { v =>
      val cells = coarseDef(v)
      assert(cells.size == 4 && cells.distinct.size == 4)
      assert(cells.head == single(v),
        "top-ranked probe cell must equal the single-cell assignment")
    }
  }

  /** Count only the `.req` request files — the checksummed local FS
    * keeps hidden `.crc` siblings beside them.
    */
  private def reqCount(dir: java.nio.file.Path): Long = {
    val st = java.nio.file.Files.list(dir)
    try st.filter(p => p.getFileName.toString.endsWith(".req")).count()
    finally st.close()
  }

  test("bulk-victim (table) IVF erasure equals the literal form; bulk " +
    "queue requests publish as parquet dirs and drain through the join path") {
    import spark.implicits._
    val victims = Seq(3L, 11L, 25L)
    def fresh(): String = {
      val tmp = java.nio.file.Files.createTempDirectory("ivfbulk").toString
      Similarity.streamIngestIvfBatch(emb, 0L, s"$tmp/ivf_index", s"$tmp/cells",
        nlist = 4, sampleRows = 40)
      tmp
    }
    def left(tmp: String): Seq[Long] =
      spark.read.parquet(s"$tmp/cells").select("vec_id").as[Long].collect().sorted.toSeq
    val tmpLit = fresh()
    assert(Similarity.deleteFromIvfStore(spark, tmpLit, victims) == 3L)
    val tmpDf = fresh()
    assert(Similarity.deleteFromIvfStore(spark, tmpDf, victims.toDF("vec_id")) == 3L)
    assert(left(tmpLit) == left(tmpDf))
    // bulk queue request: parquet dir published atomically, drains through
    // the victim-table path, retires after the swap
    val tmpQ = fresh()
    Similarity.enqueueIvfErasure(spark, tmpQ, victims.toDF("vec_id"))
    val pend = java.nio.file.Paths.get(tmpQ, Similarity.PendingErasureDir)
    val ls = java.nio.file.Files.list(pend)
    val pending = try ls.filter(_.getFileName.toString.endsWith(".reqp")).count()
      finally ls.close()
    assert(pending == 1L, "bulk request must publish as one .reqp dir")
    assert(Similarity.drainPendingErasures(spark, tmpQ) == 3L)
    val ls2 = java.nio.file.Files.list(pend)
    val remaining = try ls2.count() finally ls2.close()
    assert(remaining == 0L, "applied bulk request must retire")
    assert(left(tmpQ) == left(tmpLit))
  }

  test("compactIvfStore dropIds: erasure folds into the one compaction " +
    "rewrite; victims in newer batches refuse; pure compaction returns 0") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfcompdel").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    def slice(i: Int) = emb.where(col("vec_id") >= i * 20L && col("vec_id") < (i + 1) * 20L)
    Similarity.streamIngestIvfBatch(slice(0), 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.streamIngestIvfBatch(slice(1), 1L, idx, data, nlist = 4, sampleRows = 40)
    // fold-erase 2 scattered victims (absent id 999 prices to nothing)
    val erased = Similarity.compactIvfStore(spark, tmp, upTo = 1L,
      dropIds = Seq(3L, 27L, 999L))
    assert(erased == 2L, s"fold must erase exactly the present victims, got $erased")
    val parts = new java.io.File(data).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=1"), s"fold must still compact: $parts")
    val left = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    assert(left == (0L until 40L).filterNot(Seq(3L, 27L).contains).toSeq,
      "exactly the folded victims must disappear")
    // a victim in a batch NEWER than upTo would silently survive — refuse
    val late = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
    Similarity.streamIngestIvfBatch(late, 2L, idx, data, nlist = 4, sampleRows = 40)
    val e = intercept[IllegalArgumentException] {
      Similarity.compactIvfStore(spark, tmp, upTo = 1L, dropIds = Seq(101L))
    }
    assert(e.getMessage.contains("batches > 1"), e.getMessage)
    // widened upTo folds it; a pure compaction afterwards reports 0
    assert(Similarity.compactIvfStore(spark, tmp, upTo = 2L, dropIds = Seq(101L)) == 1L)
    assert(Similarity.compactIvfStore(spark, tmp, upTo = 2L) == 0L)
    val after = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    val expected = ((0L until 40L).filterNot(Seq(3L, 27L).contains) ++
      Seq(100L, 102L, 103L, 104L)).sorted
    assert(after == expected,
      s"late batch minus its victim must survive the widened fold: $after")
    for (l <- Seq(".compact_stage", ".compact_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, l)), l)
  }

  test("enqueueIvfErasure/drainPendingErasures: requests apply in name " +
    "order through the delete op, retire only after their swap, re-drain " +
    "is a no-op, overlapping ids are idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfqueue").toString
    val idx = s"$tmp/ivf_index"; val data = s"$tmp/cells"
    Similarity.streamIngestIvfBatch(emb, 0L, idx, data, nlist = 4, sampleRows = 40)
    Similarity.enqueueIvfErasure(spark, tmp, Seq(1L, 2L))
    Similarity.enqueueIvfErasure(spark, tmp, Seq(2L, 30L)) // 2 overlaps
    val pend = java.nio.file.Paths.get(tmp, Similarity.PendingErasureDir)
    assert(reqCount(pend) == 2)
    val erased = Similarity.drainPendingErasures(spark, tmp)
    assert(erased == 3L, s"overlapping requests erase each row once, got $erased")
    assert(reqCount(pend) == 0,
      "applied requests must retire")
    val left = spark.read.parquet(data).select("vec_id").as[Long].collect().sorted.toSeq
    assert(left == (0L until 40L).filterNot(Seq(1L, 2L, 30L).contains).toSeq)
    assert(Similarity.drainPendingErasures(spark, tmp) == 0L,
      "an empty queue drains to 0")
    for (l <- Seq(s".cells_delete_stage", s".cells_delete_old",
        s"cells/${graft.operators.StoredTable.MaintenanceSentinel}"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, l)), l)
  }

  test("ingest stream DEFERS maintenance under a foreign swap sentinel " +
    "instead of dying: batches land, triggers skip, queue stays pending; " +
    "the final store read surfaces the sentinel refusal loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfdefer").toString
    val in = s"$tmp/in"
    emb.where(col("vec_id") < 20L).coalesce(1).write.parquet(in)
    emb.where(col("vec_id") >= 20L).coalesce(1).write.mode("append").parquet(in)
    val w = s"$tmp/work"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(w, "cells"))
    val sentinel = java.nio.file.Paths.get(w, "cells",
      graft.operators.StoredTable.MaintenanceSentinel)
    java.nio.file.Files.createFile(sentinel)
    Similarity.enqueueIvfErasure(spark, w, Seq(1L))
    // skew trigger armed so aggressively every batch would split — under
    // the foreign sentinel all of it must DEFER, not throw mid-stream;
    // the stream completes its batches and only the FINAL store read
    // refuses (the documented loud sentinel contract)
    val e = intercept[IllegalStateException] {
      Similarity.streamIngestIvf(spark, in, w, nlist = 4, sampleRows = 40,
        maxCellRows = 1, splitRounds = 2)
    }
    assert(e.getMessage.contains("maintenance swap in progress"), e.getMessage)
    // every batch landed (the ingest itself never stops), no split fired
    // (nlist is still the bootstrap 4), and the erasure stayed queued
    assert(Similarity.loadIvfIndex(spark, s"$w/ivf_index").length == 4,
      "maintenance must not have fired under the foreign sentinel")
    val pend = java.nio.file.Paths.get(w, Similarity.PendingErasureDir)
    assert(reqCount(pend) == 1,
      "the erasure queue must stay pending under the foreign sentinel")
    java.nio.file.Files.delete(sentinel)
    val rows = spark.read.parquet(s"$w/cells").select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(rows == (0L until 40L).toSeq, "both batches must have landed")
    // sentinel gone: the queue drains normally and the victim disappears
    assert(Similarity.drainPendingErasures(spark, w) == 1L)
    assert(reqCount(pend) == 0)
  }
}
