package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import StoredTable.StoreWriter

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *   - `bruteForceTopK`: exact cosine top-k. The probe side is a 1-row
  *     broadcast; the scan side streams through codegen'd array math and a
  *     `TakeOrderedAndProject` top-k — no shuffle of the big table at all,
  *     so it scales linearly with rows (and parallelizes perfectly).
  *   - `ivfTopK`: IVF-style approximate search — build k centroids once
  *     (driver-side k-means on a sample), assign every vector to its nearest
  *     centroid (broadcast), and probe only the `nprobe` closest cells.
  *     This is the 100 TB path: the probe touches ~nprobe/k of the data.
  */
object Similarity {

  /** Exact cosine top-k of `probeId`'s vector against all other vectors. */
  def bruteForceTopK(embeddings: DataFrame, probeId: Long, k: Int = 10): DataFrame = {
    val probe = embeddings
      .where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    embeddings
      .where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(
        col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** All-pairs exact cosine above a threshold for a *small* probe set
    * against the full table — the probe set is broadcast, the big side
    * never shuffles.
    */
  def probeSetSearch(embeddings: DataFrame, probes: DataFrame, minCosine: Double): DataFrame =
    embeddings
      .crossJoin(broadcast(probes.select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("probe_emb")))
      .where(col("cosine") >= minCosine)
      .select(col("probe_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"))

  /** SRP/Hamming ANN tier: 256-bit sign-random-projection signatures
    * (Charikar 2002 — P[bit differs] = θ/π), coarse shortlist by Hamming
    * distance, exact cosine re-rank of the shortlist. 64 bits suffice to
    * BUCKET near-dups but not to RANK weakly-similar neighbors (z ≈ 1.3
    * at cosine 0.25 — measured recall 7/10); 256 bits lift the
    * signal-to-noise to z ≈ 2.6 at 32 B/row, still 8× narrower than the
    * 64-float vectors. Completes the ANN
    * family: unlike IVF it needs NO index build or centroid broadcast
    * (stateless — signatures are pure functions of the vector), and unlike
    * the banded near-dup tier it RANKS (top-k search) instead of
    * thresholding at a similarity cut.
    *
    * Scale shape: probe is a 1-row broadcast; the corpus streams through a
    * codegen'd 4-word `bit_count(xor)` sum (32 bytes/row of signature
    * instead of 4·dim of floats) into a `TakeOrderedAndProject` shortlist — the big
    * side never shuffles; only `shortlist` rows reach the float re-rank.
    * At 100 TB the signature column is precomputed once and stored
    * (the dim/8-fold narrower scan is the point); recall is tuned by
    * `shortlist`, gated by `q_sim_hamming`'s brute-force twin.
    */
  def hammingTopK(embeddings: DataFrame, probeId: Long, k: Int = 10,
                  shortlist: Int = 100): DataFrame = {
    // persist: without the barrier, projection collapse inlines the
    // signature UDF (256 planes × dim multiply-adds) into every consumer —
    // the Hamming sort key would recompute BOTH signatures per pair
    // (measured 7.1 s -> 0.4 s at sf0.1). Same discipline as the minhash/
    // simhash signature tables; the signature column is 32 B/row.
    val sigs = embeddings.select(col("vec_id"), col("embedding"),
      VectorOps.lshSignatureWide(col("embedding"), bits = 256).as("sig"))
      .persist()
    val probe = sigs.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"), col("sig").as("probe_sig"))
    sigs
      .where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("hamming", VectorOps.hammingWide(col("sig"), col("probe_sig"), words = 4))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch (probe-set) SRP/Hamming top-k: N probes in one corpus pass.
    * The coarse pass computes a 4-word `bit_count(xor)` sum per
    * (corpus row, probe) — 32-byte ALU ops against a broadcast probe
    * table, NOT a float dot
    * product — and per-probe shortlists rank through the same
    * `row_number <= s` rank-limit (`WindowGroupLimit` pushes the limit
    * into the sort) as the batch IVF path; only shortlist×probes rows
    * reach the exact cosine re-rank. Complements `ivfProbeSetTopK`:
    * no index to build or keep in sync, at the cost of scanning every
    * signature instead of nprobe/nlist of the corpus — the right tier
    * when the corpus churns faster than an IVF index amortizes.
    */
  def hammingProbeSetTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      shortlist: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist both sides: the corpus signature feeds the per-probe Hamming
    // expression N-probes times, and the broadcast probe table's signature
    // would otherwise be recomputed per corpus row (projection collapse)
    val sigs = embeddings.select(col("vec_id"), col("embedding"),
      VectorOps.lshSignatureWide(col("embedding"), bits = 256).as("sig"))
      .persist()
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_emb"),
      VectorOps.lshSignatureWide(col("embedding"), bits = 256).as("probe_sig"))
      .persist()
    val wH = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    sigs
      .crossJoin(broadcast(p))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("hamming", VectorOps.hammingWide(col("sig"), col("probe_sig"), words = 4))
      .withColumn("hrk", row_number().over(wH)).where(col("hrk") <= shortlist)
      .withColumn("cosine",
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
      .withColumn("rk", row_number().over(wC)).where(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("cosine"))
  }

  /** Deterministic driver-side k-means (few iterations, fixed seed-free
    * init: first `k` distinct vectors of the ordered sample) over a bounded
    * sample. Returns centroid arrays. Pure Scala — runs once per index
    * build, not per row.
    */
  private[graft] def kmeans(sample: Array[Array[Double]], k: Int, iters: Int = 8): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeans needs a non-empty sample")
    // loud clamp: `take(k)` on a short sample would silently train fewer
    // centroids than asked — every downstream read derives nlist from the
    // array length so results stay correct, but a maintenance growth
    // ladder (`curNlist * growFactor`) would stall invisibly at the
    // sample size. Past the driver-sample ceiling, train through
    // [[buildCentroidsHierarchical]] instead.
    require(sample.length >= k,
      s"kmeans: sample ${sample.length} < k=$k — raise sampleRows or train " +
        "hierarchically (buildCentroidsHierarchical); a silent take(k) clamp " +
        "would stall nlist growth invisibly")
    kmeansTrainings += 1
    val dim = sample.head.length
    var centroids = sample.take(k).map(_.clone())
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val sums   = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        // partial-sum early exit (see nearestCellAssigner.exactAmong):
        // the update is strictly <, scan order ascending, so an aborted
        // candidate (true distance >= the prefix >= bestD) could never
        // have updated — result-identical, and this loop is the whole
        // cost of every driver/per-task Lloyd pass
        var c = 0
        while (c < centroids.length) {
          val cc = centroids(c)
          var d = 0.0; var j = 0
          while (j < dim && d < bestD) {
            val t = v(j) - cc(j); d += t * t; j += 1
          }
          if (j == dim && d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      val next = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      // exact-convergence early exit: once an update moves NO centroid
      // bit, every further iteration recomputes the identical fixpoint —
      // results are bit-identical to running all `iters`, only cheaper.
      // The k == sample-size trainings (the coarse-gate's 2048-cell
      // quantizer: every sample point its own centroid) converge after
      // one pass and were paying the other seven.
      converged = next.indices.forall(c =>
        java.util.Arrays.equals(next(c), centroids(c)))
      centroids = next
      it += 1
    }
    centroids
  }

  /** Index build: bounded, ordered sample → deterministic centroids. The
    * only collect in the IVF path — nlist × dim doubles, the index itself.
    *
    * Cached per (corpus plan, nlist, sampleRows) for the JVM's lifetime:
    * an IVF index is built ONCE per corpus and probed many times — that is
    * its entire point — so repeat invocations (the bench's best-of-3, the
    * recall gates that probe the same corpus several ways) must time the
    * probe path, not a rebuild. Keyed by the analyzed plan's semantic hash:
    * a different corpus (or a re-derived one, e.g. the quantized twin) gets
    * its own index; the same corpus re-read in the same session hits.
    * Deterministic by construction (ordered sample, seed-free k-means), so
    * a cache hit cannot change any result.
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int, Int), Array[Array[Double]]]

  private[graft] def buildCentroids(
      embeddings: DataFrame, nlist: Int, sampleRows: Int): Array[Array[Double]] = {
    val key = (embeddings.queryExecution.analyzed.semanticHash(), nlist, sampleRows)
    centroidCache.getOrElseUpdate(key, {
      // hash-ordered sample: as deterministic as vec_id order (same input →
      // same sample), but UNBIASED — at corpus scale the first `sampleRows`
      // vec_ids are one shard/tenant/day, not the corpus; hash order is a
      // uniform draw. TakeOrdered keeps it one O(n)-heap pass, no full sort.
      // The collected rows are then re-sorted by vec_id DRIVER-side (n·id
      // longs, trivial) so the k-means INIT depends only on WHICH rows were
      // selected, not on the hash order they arrived in — when the sample
      // covers the whole corpus (small scale), centroids are identical to
      // the id-ordered build, so the recall gates measure the sampling
      // change and nothing else.
      val sample = embeddings
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(sampleRows)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      kmeans(sample, nlist)
    })
  }

  /** LAKE-SCALE quantizer training: hierarchical two-level k-means, the
    * training-side twin of the two-level ASSIGNER below. Driver Lloyd is
    * O(sample·nlist·dim) per pass and the driver sample is bounded, so
    * past a few thousand cells [[buildCentroids]] cannot honor nlist at
    * all (the loud clamp in [[kmeans]]) — yet the √N heuristic at 100 TB
    * implies nlist 10⁵–10⁶. Two levels fix both the sample ceiling and
    * the Lloyd cost:
    *
    *   1. the driver trains ~√nlist GROUP centroids from the usual
    *      bounded sample (the existing [[buildCentroids]] machinery —
    *      √nlist stays driver-feasible far past 10⁶ cells);
    *   2. ONE parallel job: a deterministic distributed hash-sample of
    *      ~`oversample`·nlist rows assigns each row to its nearest group
    *      (the SAME [[nearestCellAssigner]] the serve path uses), and
    *      each group's rows train their own sub-centroids IN THE TASK —
    *      per-group k proportional to group mass (largest-remainder
    *      rounding, capacity-clamped, so Σk == nlist);
    *   3. centroids = concat ordered by (group, sub-index).
    *
    * Per-task Lloyd cost is O((S/√nlist)·(nlist/√nlist)·dim) = O(S·dim)
    * — flat in nlist per task, √nlist-way parallel; the driver never
    * holds more than the group quantizer and the nGroups mass counts.
    * Deterministic end to end: hash-bucket sampling (same input → same
    * sample, no Bernoulli RNG), id-sorted group rows feeding the
    * seed-free [[kmeans]] init, largest-remainder ties broken by group
    * index. Returns (centroids, distributedSampleRows) — callers gate
    * non-degeneracy on the sample count (`q_sim_ivf_hier`'s contract).
    */
  def buildCentroidsHierarchical(
      embeddings: DataFrame,
      nlist: Int,
      oversample: Int = 10,
      sampleRows: Int = 2048): (Array[Array[Double]], Long) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(nlist >= 2, s"buildCentroidsHierarchical: nlist=$nlist")
    // one corpus count to size the hash-sample fraction — metadata-scale
    // (parquet footers), the only full-corpus statistic training needs
    val corpusN = embeddings.count()
    require(corpusN >= 2L * nlist,
      s"buildCentroidsHierarchical: corpus $corpusN < 2×nlist=$nlist — " +
        "nothing non-degenerate to train")
    val target = oversample.toLong * nlist
    val den = 1000000L
    val num = if (target >= corpusN) den else math.max(1L, den * target / corpusN)
    // level 1: bounded driver sample → ~√nlist group centroids
    val nGroups = math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
    val groupCentroids = buildCentroids(embeddings, nGroups, sampleRows)
    val sampled = embeddings
      .where(pmod(xxhash64(col("vec_id")), lit(den)) < num)
      .withColumn("grp", nearestCellUdf(groupCentroids)(col("embedding")))
      .select(col("grp"), col("vec_id"), col("embedding").cast("array<double>"))
      .persist() // feeds the mass count and the per-group training job
    // group masses: ≤ nGroups longs — bounded by the index width, not data
    val masses = sampled.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sampleN = masses.valuesIterator.sum
    require(sampleN >= 2L * nlist,
      s"buildCentroidsHierarchical: distributed sample $sampleN < 2×nlist=" +
        s"$nlist — raise oversample")
    val kByGroup = allocateByMass(masses, nlist)
    val bcK = spark.sparkContext.broadcast(kByGroup)
    // level 2: per-group sub-centroid training, one shuffle of the sample
    // (S·dim doubles) and one bounded collect (nlist·dim — the index)
    val subs = sampled
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val kg = bcK.value.getOrElse(g, 0)
        if (kg == 0) Iterator.empty
        else {
          // id-sort so the kmeans init depends on WHICH rows sampled,
          // not the iterator arrival order — same discipline as
          // buildCentroids' driver-side re-sort
          val rows = it.toArray.sortBy(_._2).map(_._3)
          kmeans(rows, kg).iterator.zipWithIndex.map { case (c, i) => (g, i, c) }
        }
      }
      .collect()
    sampled.unpersist()
    (subs.sortBy(t => (t._1, t._2)).map(_._3), sampleN)
  }

  /** Proportional largest-remainder seat allocation of `total` centroids
    * across groups by sample mass, clamped to each group's row capacity
    * (a group cannot train more centroids than it holds rows). Remainder
    * seats go to the largest fractional quotas first, ties and the
    * capacity-spill walk ordered by group index — fully deterministic.
    */
  private[graft] def allocateByMass(masses: Map[Int, Long], total: Int): Map[Int, Int] = {
    val ms = masses.toArray.sortBy(_._1)
    val s = ms.map(_._2).sum
    require(s >= total,
      s"allocateByMass: sample $s cannot seat $total centroids")
    val quota = ms.map { case (g, n) => (g, n, total.toDouble * n / s) }
    val alloc = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    quota.foreach { case (g, n, q) =>
      alloc(g) = math.min(n, math.floor(q).toLong).toInt
    }
    var remaining = total - alloc.valuesIterator.sum
    val order = quota.sortBy { case (g, _, q) => (-(q - math.floor(q)), g) }
    var i = 0
    while (remaining > 0) {
      val (g, n, _) = order(i % order.length)
      if (alloc(g) < n) { alloc(g) += 1; remaining -= 1 }
      i += 1
    }
    alloc.toMap
  }

  /** Train hierarchically ([[buildCentroidsHierarchical]]) and persist the
    * index artifact at `path` — the lake-scale twin of [[saveIvfIndex]].
    * Returns the distributed-sample row count for the caller's
    * non-degeneracy gate. Invalidate-then-write so artifact-path reuse
    * never serves a previous quantizer from the JVM cache.
    */
  def trainIvfIndexHierarchical(
      embeddings: DataFrame, path: String, nlist: Int,
      oversample: Int = 10, sampleRows: Int = 2048): Long = {
    val (centroids, sampleN) =
      buildCentroidsHierarchical(embeddings, nlist, oversample, sampleRows)
    invalidateIvfIndex(path)
    writeCentroids(embeddings.sparkSession, centroids, path)
    sampleN
  }

  /** Nearest-centroid cell assignment as one JVM loop over the
    * (closure-captured = broadcast with the task binary) centroid matrix —
    * the per-centroid aggregate/zip_with expression form is interpreted and
    * measured ~10× slower; this is also exactly the shape a 1000-executor
    * IVF uses. Shared by the single-probe and probe-set paths so the two
    * can never diverge.
    *
    * At small nlist the scan is exact and linear. Past
    * [[CoarseAssignThreshold]] centroids the linear scan is the next
    * per-row term (O(nlist·dim) per vector — at the 10⁴–10⁵ nlist a lake-
    * scale corpus implies, that is the assignment pass's whole budget), so
    * the assigner goes two-level: the FAISS coarse-quantizer-on-quantizer
    * trick. The nlist centroids are themselves k-means'd into ~√nlist
    * groups ONCE (cached per centroid matrix); each row finds its
    * `probeGroups` nearest group centroids (O(√nlist·dim)) and exact-scans
    * only those groups' member centroids (O(probeGroups·√nlist·dim)) —
    * ~√nlist total vs nlist. The shortlist is approximate in the same
    * tunable sense as IVF's nprobe; determinism is what the dedup tiers
    * need (seed, probe, and requantize all assign through THIS function
    * against the same stored centroid matrix, so batch and corpus can
    * never disagree on a cell), and `probeGroups == nGroups` degrades to
    * exact, tie-broken identically to the linear scan (lowest index).
    */
  private[graft] val CoarseAssignThreshold = 2048

  /** One unboxed copy of the row's vector, made ONCE per row before the
    * centroid scan. The UDF hands the `array<float>` column over as a
    * generic `Seq[Float]`, and indexing it inside the distance loop goes
    * through the generic `apply` — a boxed `Float` allocation per element
    * access, nlist×dim of them per row. At nlist 512/dim 64 that is 32 k
    * boxes per row and was MEASURED as the whole cost of a store
    * re-assignment (66 s → 2 s for 50 k rows once the scan reads a
    * primitive array). The copy itself is dim floats — noise.
    */
  private def toDense(v: Seq[Float]): Array[Double] = {
    val a = new Array[Double](v.length)
    var i = 0
    val it = v.iterator
    while (it.hasNext) { a(i) = it.next().toDouble; i += 1 }
    a
  }

  /** Row-major flattening of a centroid matrix — the same values in the
    * same order behind ONE indirection (`flat(c*dim+j)` instead of
    * `m(c)(j)`): distance sums are bit-identical, but the scan walks
    * contiguous memory instead of chasing 8k pointers to scattered
    * 512-byte rows, which was measured as most of the per-row assignment
    * cost at nlist 8192 (cache misses, not flops).
    */
  private def flatten(m: Array[Array[Double]]): Array[Double] = {
    if (m.isEmpty) new Array[Double](0)
    else {
      val dim = m(0).length
      val out = new Array[Double](m.length * dim)
      var c = 0
      while (c < m.length) {
        System.arraycopy(m(c), 0, out, c * dim, dim); c += 1
      }
      out
    }
  }

  private[graft] def nearestCellAssigner(
      centroids: Array[Array[Double]],
      forceCoarse: Boolean = false,
      probeGroups: Int = 4): Seq[Float] => Int = {
    val n = centroids.length
    val dim = if (n > 0) centroids(0).length else 0
    val cFlat = flatten(centroids)
    // Every distance loop below carries the same partial-sum early exit:
    // sums are monotone, so a prefix STRICTLY above the current bound
    // can neither win nor tie — abort. A prefix EQUAL to the bound keeps
    // summing (a zero tail would be a genuine tie, which the tie branch
    // must see with its full sum), so only completed sums (j == dim)
    // update and the lexicographic (distance, index) outcome is
    // bit-identical to the exhaustive form. NaN sums abort the <= test
    // and never update, matching the old skip-NaN behavior; a NaN vector
    // therefore pins to cell 0 exactly as before.
    def better(d: Double, c: Int, bestD: Double, best: Int): Boolean =
      d < bestD || (d == bestD && c < best)
    if (n < CoarseAssignThreshold && !forceCoarse) {
      vs => {
        val v = toDense(vs)
        var best = -1; var bestD = Double.MaxValue
        var c = 0
        while (c < n) {
          val base = c * dim
          var d = 0.0; var j = 0
          while (j < dim && d <= bestD) {
            val t = v(j) - cFlat(base + j); d += t * t; j += 1
          }
          if (j == dim && better(d, c, bestD, best)) { bestD = d; best = c }
          c += 1
        }
        if (best < 0) 0 else best
      }
    } else {
      val (groupCentroids, members) = coarseGroups(centroids)
      val nG = groupCentroids.length
      val gcFlat = flatten(groupCentroids)
      val p = math.min(probeGroups, nG)
      vs => {
        val v = toDense(vs)
        // top-p nearest group centroids, tracked incrementally by
        // (distance, group-index) — the same set and visit order the old
        // p select-min passes produced (strict-< select-min keeps the
        // earliest index among equals; groups arrive here in ascending
        // index, so insertion sort below never displaces an equal), with
        // the worst tracked distance as the group loop's abort bound.
        val topD = new Array[Double](p); val topI = new Array[Int](p)
        var filled = 0
        var g = 0
        while (g < nG) {
          val bound = if (filled == p) topD(p - 1) else Double.MaxValue
          val base = g * dim
          var d = 0.0; var j = 0
          while (j < dim && d <= bound) {
            val t = v(j) - gcFlat(base + j); d += t * t; j += 1
          }
          if (j == dim && (filled < p || d < topD(p - 1))) {
            var k = if (filled < p) filled else p - 1
            while (k > 0 && topD(k - 1) > d) {
              topD(k) = topD(k - 1); topI(k) = topI(k - 1); k -= 1
            }
            topD(k) = d; topI(k) = g
            if (filled < p) filled += 1
          }
          g += 1
        }
        // fused member scan: the old code took each probed group's local
        // argmin (exactAmong) and lexicographically compared winners —
        // equal to one lexicographic argmin over the UNION of probed
        // members, which is what this loop computes, with the global
        // best as the abort bound (more aggressive pruning, same result)
        var best = -1; var bestD = Double.MaxValue
        var gi = 0
        while (gi < filled) {
          val mem = members(topI(gi))
          var i = 0
          while (i < mem.length) {
            val c = mem(i); val base = c * dim
            var d = 0.0; var j = 0
            while (j < dim && d <= bestD) {
              val t = v(j) - cFlat(base + j); d += t * t; j += 1
            }
            if (j == dim && better(d, c, bestD, best)) { bestD = d; best = c }
            i += 1
          }
          gi += 1
        }
        // NaN vectors (no comparable distance anywhere) pin to cell 0,
        // matching the exact path above
        if (best < 0) 0 else best
      }
    }
  }

  /** The group quantizer over a centroid matrix: ~√n group centroids plus
    * each group's member centroid indices (ascending, so scan order — and
    * with it tie-breaking — matches the linear scan). Cached per centroid
    * ARRAY identity: both centroid caches ([[buildCentroids]],
    * [[loadIvfIndex]]) hand out stable references, so the group k-means
    * runs once per index per JVM, not once per probe call.
    */
  private val coarseGroupCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Array[Double]], (Array[Array[Double]], Array[Array[Int]])]())

  private def coarseGroups(
      centroids: Array[Array[Double]]): (Array[Array[Double]], Array[Array[Int]]) = {
    val cached = coarseGroupCache.get(centroids)
    if (cached != null) cached
    else {
      val nGroups = math.max(1, math.round(math.sqrt(centroids.length.toDouble)).toInt)
      val gc = kmeans(centroids, nGroups, iters = 4)
      val buckets = Array.fill(gc.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
      var c = 0
      while (c < centroids.length) {
        val cc = centroids(c)
        var best = 0; var bestD = Double.MaxValue
        var g = 0
        while (g < gc.length) {
          val gcc = gc(g)
          var d = 0.0; var j = 0
          while (j < gcc.length) { val t = cc(j) - gcc(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = g }
          g += 1
        }
        buckets(best) += c
        c += 1
      }
      // drop empty groups: a probe pass over an empty member list can
      // return no candidate, and the group slot would waste a pick
      val keep = buckets.indices.filter(buckets(_).nonEmpty).toArray
      val res = (keep.map(gc), keep.map(buckets(_).toArray))
      coarseGroupCache.put(centroids, res)
      res
    }
  }

  private def nearestCellUdf(centroids: Array[Array[Double]]) =
    udf(nearestCellAssigner(centroids))

  /** Top-`nprobe` nearest centroids per row — the probe-set sibling of
    * [[nearestCellAssigner]], same two-level structure past the
    * threshold: visit groups nearest-first, gather their member centroids
    * until the candidate pool covers `nprobe` (and at least `probeGroups`
    * groups were visited), exact-rank the pool by (distance, index).
    * `probeGroups == nGroups` degrades to the exact full ranking with
    * identical tie-breaking (the linear form's stable sort resolves ties
    * by centroid index; ranking by the (d, idx) pair does the same
    * independent of pool order).
    */
  private[graft] def nearestCellsAssigner(
      centroids: Array[Array[Double]],
      nprobe: Int,
      forceCoarse: Boolean = false,
      probeGroups: Int = 4): Seq[Float] => Seq[Int] = {
    def rank(v: Array[Double], idxs: Array[Int]): Seq[Int] = {
      val ds = idxs.map { c =>
        val cc = centroids(c)
        var d = 0.0; var j = 0
        while (j < cc.length) { val t = v(j) - cc(j); d += t * t; j += 1 }
        (d, c)
      }
      ds.sortBy(identity).take(nprobe).map(_._2).toSeq
    }
    val n = centroids.length
    if (n < CoarseAssignThreshold && !forceCoarse) {
      val all = Array.range(0, n)
      vs => rank(toDense(vs), all)
    } else {
      val (groupCentroids, members) = coarseGroups(centroids)
      val minGroups = math.min(probeGroups, groupCentroids.length)
      vs => {
        val v = toDense(vs)
        val gd = new Array[Double](groupCentroids.length)
        var g = 0
        while (g < groupCentroids.length) {
          val gc = groupCentroids(g)
          var d = 0.0; var j = 0
          while (j < gc.length) { val t = v(j) - gc(j); d += t * t; j += 1 }
          gd(g) = d; g += 1
        }
        val order = Array.range(0, groupCentroids.length).sortBy(g => (gd(g), g))
        val pool = scala.collection.mutable.ArrayBuffer.empty[Int]
        var gi = 0
        while (gi < order.length && (gi < minGroups || pool.length < nprobe)) {
          pool ++= members(order(gi)); gi += 1
        }
        rank(v, pool.toArray)
      }
    }
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * anchor, the most-similar corpus vector BELOW the positive band
    * (`cosine < posFloor`) — the classic in-batch-negatives upgrade where
    * the hardest negatives (similar but not duplicate/positive) carry the
    * gradient signal. The band filter is load-bearing: a near-duplicate of
    * the anchor (cosine ≥ posFloor) must be EXCLUDED, not returned as the
    * top negative.
    *
    * Scale shape: anchors broadcast (training batches are small), ONE
    * corpus pass computes all anchor×corpus cosines, per-anchor top-1 via
    * the same rank-limit the batch-IVF path uses (`WindowGroupLimit`
    * pushes `rk = 1` into the sort). The corpus never shuffles.
    */
  def hardNegatives(embeddings: DataFrame, anchors: DataFrame,
                    posFloor: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col("vec_id").as("anchor_id"),
      col("embedding").as("anchor_emb"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("negative_id"))
    embeddings.crossJoin(broadcast(a))
      .where(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine",
        round(VectorOps.cosine(col("embedding"), col("anchor_emb")), 4))
      .where(col("cosine") < posFloor)
      .withColumnRenamed("vec_id", "negative_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("anchor_id"), col("negative_id"), col("cosine"))
      .orderBy("anchor_id")
  }

  /** Corpus with its IVF cell id attached (`cell` = nearest centroid) —
    * the shared coarse-quantization step behind `ivfTopK`,
    * `ivfProbeSetTopK`, and `Dedup.semDedup`. Index build is the cached
    * bounded-sample k-means above; assignment is one codegen-adjacent JVM
    * loop per row.
    */
  private[operators] def assignCells(
      embeddings: DataFrame, nlist: Int, sampleRows: Int): DataFrame =
    assignCellsTrainedOn(embeddings, embeddings, nlist, sampleRows)

  /** Cell assignment with the quantizer trained on a DIFFERENT (standing)
    * corpus — the add-vs-train split the incremental forms ride: `data`
    * is mapped onto `train`'s cached centroids in one map pass, no
    * re-training, no shuffle.
    */
  private[operators] def assignCellsTrainedOn(
      train: DataFrame, data: DataFrame, nlist: Int, sampleRows: Int): DataFrame = {
    val centroids = buildCentroids(train, nlist, sampleRows)
    data.withColumn("cell", nearestCellUdf(centroids)(col("embedding")))
  }

  /** IVF (inverted-file) approximate top-k: partition vectors by nearest
    * centroid; a probe searches only its `nprobe` nearest cells. Recall is
    * tunable via `nprobe`; `nprobe == nlist` degrades gracefully to exact.
    *
    * The centroid list is tiny (nlist × dim doubles) and rides into the
    * executors as a literal — an intentional broadcast of the index, the
    * same shape a 1000-executor deployment would use.
    */
  def ivfTopK(
      embeddings: DataFrame,
      probeId: Long,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleRows: Int = 2048): DataFrame = {
    val centroids = buildCentroids(embeddings, nlist, sampleRows)
    ivfProbe(embeddings, centroids, probeId, k, nprobe)
  }

  /** IVF probe over `corpus ∪ batch` with the index trained on the CORPUS
    * ONLY — incremental index maintenance: appended vectors are assigned to
    * the existing centroids in one map pass and become searchable
    * immediately; the k-means never re-runs. This is how a production IVF
    * absorbs a daily embedding drop (FAISS `add` vs `train`) — re-training
    * on every append would re-shuffle 100 TB of vectors to move cell
    * boundaries marginally. Pairs with `Dedup.minhashIncremental` as the
    * ANN side of the incremental-corpus story; drift is bounded by the
    * recall gate re-checked against the grown corpus (`q_sim_ivf_recall`'s
    * contract), the trigger for an eventual off-line re-train.
    */
  def ivfAppendTopK(
      corpus: DataFrame,
      batch: DataFrame,
      probeId: Long,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleRows: Int = 2048): DataFrame = {
    val centroids = buildCentroids(corpus, nlist, sampleRows)
    ivfProbe(corpus.unionByName(batch), centroids, probeId, k, nprobe)
  }

  /** Shared probe tail: assign cells with the given centroids, rank the
    * probe's `nprobe` nearest cells, exact-cosine within them.
    */
  private def ivfProbe(all: DataFrame, centroids: Array[Array[Double]],
                       probeId: Long, k: Int, nprobe: Int): DataFrame =
    ivfProbeAssigned(
      all.withColumn("cell", nearestCellUdf(centroids)(col("embedding"))),
      centroids, probeId, k, nprobe)

  /** Probe tail over a table that ALREADY carries its cell assignment —
    * the serving path of a stored cell-partitioned layout (the streamed
    * ingest below): no per-query re-assignment map, the cell filter prunes
    * directly on the stored column (partition pruning, when the store is
    * `partitionBy("cell")`).
    */
  private def ivfProbeAssigned(assigned: DataFrame, centroids: Array[Array[Double]],
                               probeId: Long, k: Int, nprobe: Int): DataFrame = {
    val probe = assigned.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))

    val probeRows = probe.collect()
    require(probeRows.nonEmpty, s"probe vec_id=$probeId not found in embeddings")
    val probeVec = probeRows.head.getSeq[Float](0).map(_.toDouble).toArray
    val cellDists = centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < probeVec.length) { val t = probeVec(j) - c(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nprobe).map(_._1)

    assigned
      .where(col("cell").isin(cellDists.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Number of k-means trainings this JVM has run — test instrumentation
    * proving the persisted-index load path never retrains.
    */
  @volatile private[graft] var kmeansTrainings: Long = 0L

  /** Drop the in-memory index caches — simulates a fresh driver JVM for
    * tests of the persisted-index path.
    */
  private[graft] def clearIndexCaches(): Unit = {
    centroidCache.clear()
    pqCache.clear()
    loadedIvfCache.clear()
    loadedPqCache.clear()
    selectivityCache.clear()
    unsplittableCells.clear()
  }

  /** Cached qualifier-selectivity statistics for the FILTERED serve
    * wrappers, keyed by (store plan, index artifact, predicate SQL). The
    * first serve of a (store, predicate) pair pays ONE column-pruned
    * aggregate to price the predicate; every later serve prices from the
    * cache, so the steady-state serve path runs exactly ONE store job.
    *
    * STALENESS CONTRACT: entries persist for the JVM session and drop
    * when the store's index artifact is invalidated
    * ([[invalidateIvfIndex]] — every maintenance swap calls it) or on
    * [[clearIndexCaches]]. Appends BETWEEN maintenance serve the stale
    * estimate deliberately: selectivity prices only the nprobe WIDTH (a
    * recall margin), never membership or ranking, and append batches
    * shift the store's selectivity ratio slowly relative to maintenance
    * cadence.
    */
  private val selectivityCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, (Long, Long))]

  /** Observability counter for specs: how many times a filtered serve
    * actually PAID the selectivity aggregate (vs served from cache) —
    * the `kmeansTrainings` discipline applied to the serve path.
    */
  @volatile private[graft] var selectivityPricings: Long = 0L

  /** Cells [[splitHotCells]] proved UNSPLITTABLE at a recorded occupancy
    * (k-means cannot separate byte-identical vectors — all rows relabel
    * together), keyed by index-artifact path. A later trigger skips a
    * memoized cell while its occupancy is UNCHANGED — without this, the
    * in-stream trigger's bounded loop would re-run `splitRounds` full
    * stage+swap rewrites of the hot files on EVERY micro-batch forever
    * once such a cell exists. New rows landing in the cell change its
    * occupancy and re-arm the attempt; any maintenance swap drops the
    * memo ([[invalidateIvfIndex]] — cell ids may renumber).
    */
  private val unsplittableCells =
    scala.collection.concurrent.TrieMap.empty[String, (String, Map[Int, Long])]

  /** Persist the IVF index (the centroid matrix) as a tiny parquet table
    * `(cell int, centroid array<double>)`. A production IVF index is a
    * durable artifact: training samples the corpus once, but every new
    * driver/probe job must NOT re-collect and re-train — at 100 TB the
    * index outlives any single session (FAISS serializes its index for the
    * same reason). Size is nlist × dim doubles — metadata-scale.
    */
  def saveIvfIndex(embeddings: DataFrame, path: String,
                   nlist: Int = 16, sampleRows: Int = 2048): Unit =
    writeCentroids(embeddings.sparkSession,
      buildCentroids(embeddings, nlist, sampleRows), path)

  /** The one index-artifact writer: `(cell int, centroid array<double>)`
    * parquet, shared by the driver-sample and hierarchical trainers.
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .storeWrite.mode("overwrite").parquet(path)
  }

  /** Load a persisted IVF index back into the centroid matrix — one tiny
    * parquet read, no sampling, no k-means. The loaded index is also
    * planted in `centroidCache` under the artifact path so repeat loads in
    * the same JVM are free.
    */
  private val loadedIvfCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Array[Array[Double]])]

  /** CROSS-JVM cache-invalidation fingerprint of an index-artifact dir:
    * the artifact's file listing (names + lengths — artifact rewrites
    * change part-file names) concatenated with the `_maint_stamp`
    * content (bumped by maintenance that mutates the STORE without
    * rewriting the artifact — delete/compact/retain). Every stamped
    * cache ([[loadIvfIndex]], [[loadPqIndex]], [[selectivityCache]],
    * [[unsplittableCells]]) re-derives this on each hit, so maintenance
    * run by a DIFFERENT driver JVM invalidates this JVM's entry at the
    * next serve — the in-process `invalidateIvfIndex` covers only the
    * JVM that ran the swap. Cost per hit: one dir listing + one tiny
    * read — metadata-scale (μs locally, one NameNode round-trip on
    * HDFS), paid per serve call, not per row.
    */
  private[graft] def maintFingerprint(path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val fs = StoredTable.fileSystem(conf, p)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).toSeq
      .map { st =>
        val n = st.getPath.getName
        if (n == MaintStampName) {
          val in = fs.open(st.getPath)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          s"stamp=$s"
        } else s"$n:${st.getLen}"
      }.sorted.mkString("|")
  }

  /** Name of the durable maintenance stamp inside an index-artifact dir
    * (underscore-prefixed — parquet readers skip it).
    */
  private[graft] val MaintStampName = "_maint_stamp"

  /** Durably mark `idxPath`'s dependent caches stale ACROSS JVMs: write
    * a fresh UUID into the artifact's `_maint_stamp`. Called by the
    * maintenance ops whose swap leaves the artifact bytes untouched
    * (erasure, compaction, retention — centroids never move, but priced
    * selectivities/occupancy memos over the STORE are now stale);
    * artifact-REPLACING maintenance needs no stamp — the new part-file
    * names change the fingerprint by themselves.
    */
  private[graft] def bumpMaintStamp(spark: org.apache.spark.sql.SparkSession,
                                    idxPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(idxPath, MaintStampName)
    val fs = StoredTable.fileSystem(spark, p)
    val out = fs.create(p, true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The one JVM-local invalidation plus the durable cross-JVM stamp —
    * what every store-mutating (artifact-preserving) maintenance op
    * calls after its swap promotes.
    */
  private[graft] def invalidateIvfIndexDurably(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    invalidateIvfIndex(path)
    bumpMaintStamp(spark, path)
  }

  /** Stamped-cache read-through: serve from `cache` only while the
    * artifact fingerprint matches what the entry was loaded under.
    */
  private def fingerprinted[K, V](
      cache: scala.collection.concurrent.TrieMap[K, (String, V)],
      key: K, path: String)(load: => V): V = {
    val fp = maintFingerprint(path)
    cache.get(key) match {
      case Some((f, v)) if f == fp => v
      case _ =>
        val v = load
        cache.put(key, (fp, v))
        v
    }
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    fingerprinted(loadedIvfCache, path, path) {
      spark.read.parquet(path)
        .orderBy(col("cell"))
        .collect()
        .map(_.getSeq[Double](1).toArray)
    }

  /** Drop ONE persisted-index cache entry — the maintenance hook for
    * artifact-path reuse: after a swap replaces the parquet at `path`
    * (`Dedup.requantizeSemStore`), the JVM cache must not keep serving
    * the replaced centroids.
    */
  private[graft] def invalidateIvfIndex(path: String): Unit = {
    loadedIvfCache.remove(path)
    // a swapped store invalidates its priced selectivities too — the
    // filtered serve wrappers key their cache by this artifact path
    selectivityCache.keysIterator
      .filter(_._1 == path).foreach(selectivityCache.remove)
    // and its unsplittable-cell memo: a swap can renumber/merge cells
    unsplittableCells.remove(path)
    ()
  }

  /** Batch-TTL retention for the stored ANN index: drop `batch <= cutoff`
    * partitions of the cell store as PURE METADATA
    * ([[Layout.dropPartitions]] — no data file read, planned, or
    * rewritten; survivors byte-untouched). Aging is exact for this
    * family: a batch's vectors contribute nothing outside their own
    * partition, and the centroids are a QUANTIZER, not a summary of the
    * retained rows — they stay valid (merely no longer optimal) over any
    * subset, so post-retention probes serve the retained corpus exactly.
    * Composition with [[compactIvfStore]] is conservative, never wrong:
    * a fold writes rows from batches ≤ upTo into `batch=upTo`, so a
    * later cutoff < upTo keeps folded old rows alive (retain-too-much),
    * never drops young ones.
    *
    * Sentinel/drop-all refusals, the never-aging `batch=-1` seed, and
    * the metadata-only drop all come from the shared retention core
    * ([[StoredTable.retainStoreBatches]]); the index caches invalidate so
    * priced selectivities re-derive against the shrunken store. Returns
    * the dropped batch ids.
    */
  def retainIvfStoreBatches(spark: org.apache.spark.sql.SparkSession,
                            workDir: String, cutoff: Long): Seq[Long] =
    StoredTable.retainStoreBatches(spark, s"$workDir/cells",
      "retainIvfStoreBatches", cutoff,
      () => invalidateIvfIndexDurably(spark, s"$workDir/ivf_index"))

  /** IVF top-k probing a PERSISTED index: load the centroids (no retrain)
    * and run the shared probe tail. Same result contract as [[ivfTopK]]
    * over the corpus the index was trained on.
    */
  def ivfTopKPersisted(embeddings: DataFrame, indexPath: String, probeId: Long,
                       k: Int = 10, nprobe: Int = 4): DataFrame =
    ivfProbe(embeddings, loadIvfIndex(embeddings.sparkSession, indexPath), probeId, k, nprobe)

  /** Cell assignment against a PERSISTED index: load the centroids (tiny
    * parquet, JVM-cached, no retrain) and map each row to its nearest cell
    * — the add-vs-train split over a durable quantizer. The assignment
    * path of the stored semantic-dedup index (`Dedup.seedSemStore` /
    * `Dedup.semDedupIncrementalStored`).
    */
  private[graft] def assignStored(data: DataFrame, indexPath: String): DataFrame =
    data.withColumn("cell",
      nearestCellUdf(loadIvfIndex(data.sparkSession, indexPath))(col("embedding")))

  /** Seed a cell-store from a STATIC corpus against the PERSISTED index at
    * `workDir/ivf_index` — the batch (non-streamed) twin of the ingest
    * tiers, used when the index was trained out-of-band (e.g.
    * [[trainIvfIndexHierarchical]]): one assignment map over the corpus,
    * one cell-clustered write ([[StoredTable.clusteredStage]] on `cell` —
    * the compacted layout, so probes prune parquet row groups from the
    * first scan). Lands under `cells/batch=0`, the same layout
    * [[StoredTable.readStore]] and the stored probes serve.
    */
  def seedIvfStore(data: DataFrame, workDir: String): Unit =
    StoredTable.clusteredStage(assignStored(data, s"$workDir/ivf_index"),
      Seq("cell", "vec_id"), Nil, s"$workDir/cells/batch=0",
      Some(data.sparkSession.sparkContext.defaultParallelism))

  /** STREAMING ANN ingest — the embeddings-side sibling of
    * `Dedup.minhashStreamKeep`: vector drops arrive as a file stream; the
    * IVF index BOOTSTRAPS on the first drop (`saveIvfIndex`, the one
    * k-means training of the pipeline's life) and every batch — including
    * the first — assigns its vectors to the persisted centroids in one map
    * pass and appends `(…, cell)` rows to the cell-carrying store. No
    * retraining ever happens on the ingest path (the FAISS add-vs-train
    * split, streamed); recall drift against the grown corpus is the
    * offline re-train trigger, gated by the caller.
    *
    * Scale shape: per batch, one tiny index read (nlist × dim doubles, and
    * only on bootstrap a bounded-sample train), one codegen-friendly map,
    * one append. At 100 TB the store would be `partitionBy("cell")` so
    * probes prune to nprobe directories; at testdata scale the cell column
    * serves the same probe via [[ivfTopKStored]].
    *
    * INDEX AGING is handled by in-place maintenance, the same contract as
    * `Dedup.semDedupStreamKeep`: when `targetCellRows` is set, a batch
    * whose append leaves MEAN cell membership above it triggers
    * [[requantizeIvfStore]] to `nlist × growFactor` BETWEEN batches (past
    * the driver-sample ceiling the requantize trains hierarchically, so
    * the compounding ladder never crashes the stream); when `maxCellRows`
    * is set, a batch that leaves any single cell above it triggers
    * [[splitHotCells]] — the SKEW response the mean-based trigger sleeps
    * through, bounded per trigger so the stream never stalls; later
    * batches assign against the grown index (the bootstrap `nlist` here is
    * the FIRST index's size only — the store's current size is whatever
    * the index artifact holds). Threshold-based and therefore replay-safe:
    * a replayed batch re-checks membership against the already-grown index
    * and re-fires only if it still exceeds the target.
    *
    * `quantized = true` stores SQ8 codes instead of the float embedding
    * column — `(…, qvec int8, qscale, cell)` at ~1/4 the bytes, the
    * `Dedup.seedSemStore(quantized)` lesson applied to the ingest tier
    * (at lake scale the embedding column IS the store's byte bottleneck).
    * Cosine ranking needs only the codes (a per-vector positive scale
    * cancels); `qscale` exists for maintenance — [[requantizeIvfStore]]
    * reconstructs `qvec·qscale` to re-assign and rewrites the codes
    * LOSSLESSLY. The layout is self-describing (probes and maintenance
    * read the columns, never a flag), so replay and requantize need no
    * extra state.
    */
  def streamIngestIvf(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      nlist: Int = 16,
      sampleRows: Int = 2048,
      targetCellRows: Int = Int.MaxValue,
      growFactor: Int = 4,
      quantized: Boolean = false,
      maxCellRows: Int = Int.MaxValue,
      splitRounds: Int = 6): DataFrame =
    runIvfIngestStream(spark, inputDir, workDir,
      seedLayout = df => storedLayout(df, quantized),
      writeBatch = (batch, batchId) =>
        streamIngestIvfBatch(batch, batchId, s"$workDir/ivf_index",
          s"$workDir/cells", nlist, sampleRows, quantized),
      sampleRows = sampleRows, targetCellRows = targetCellRows,
      growFactor = growFactor, maxCellRows = maxCellRows,
      splitRounds = splitRounds)

  /** THE ingest stream driver, shared by the flat/SQ8 ([[streamIngestIvf]])
    * and IVF-PQ ([[streamIngestIvfPq]]) tiers — the replay-counting and
    * requantize-trigger bookkeeping lives HERE once; the tiers supply only
    * their seed layout and per-batch writer.
    *
    *  - empty `batch=-1` seed partition: partition discovery resolves
    *    before any real batch lands, and the seed carries the tier's
    *    layout so discovery agrees with the batches;
    *  - maintenance running total: ONE store-wide metadata count at stream
    *    start (a checkpoint resume picks up prior batches here), then
    *    per-batch increments from the just-written partition's own footers
    *    — O(batch files) per trigger, not O(store files). A replayed batch
    *    whose partition was written before the crash double-counts once
    *    against the start total; threshold-based maintenance absorbs that
    *    (it can only fire slightly early, and re-fires are
    *    membership-checked). The current nlist is read from the index
    *    artifact (not the bootstrap param) so consecutive triggers
    *    compound.
    */
  private def runIvfIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      seedLayout: DataFrame => DataFrame,
      writeBatch: (DataFrame, Long) => Unit,
      sampleRows: Int,
      targetCellRows: Int,
      growFactor: Int,
      maxCellRows: Int = Int.MaxValue,
      splitRounds: Int = 6): DataFrame = {
    import org.apache.hadoop.fs.Path
    val idxPath = s"$workDir/ivf_index"
    val dataDir = s"$workDir/cells"
    val fs = StoredTable.fileSystem(spark, new Path(workDir))
    val static = spark.read.parquet(inputDir)
    seedLayout(static.withColumn("cell", lit(0))).limit(0)
      .storeWrite.mode("overwrite").parquet(s"$dataDir/batch=-1")
    var storeRows =
      if (targetCellRows < Int.MaxValue) StoredTable.readStore(spark, dataDir).count() else 0L
    val batchCounts = scala.collection.mutable.Map.empty[Long, Long]
    val q = spark.readStream
      .schema(static.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", s"$workDir/_chk")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId)
        // EXTERNAL-WRITER GUARD for every maintenance slot below: a
        // foreign swap holding the store sentinel (an operator running
        // deleteFromIvfStore/compactIvfStore against the live store —
        // out of the single-writer contract, but a real operational
        // mistake) must DEFER maintenance to the next trigger, not kill
        // the stream: each maintenance op's pre-flight throws on the
        // sentinel, and an uncaught throw inside foreachBatch is stream
        // death. The batch APPEND above is safe regardless — it writes
        // only its own new `batch=<id>` partition, which no file-granular
        // swap of existing files touches. One metadata existence check
        // per trigger.
        def externalSwap(): Boolean =
          StoredTable.swapInProgress(fs, dataDir)
        // RIGHT-TO-ERASURE SLOT, first so compliance never queues behind
        // growth work: requests enqueued by [[enqueueIvfErasure]] drain
        // HERE, in the between-batch window where the stream IS the
        // single writer — an external deleteFromIvfStore racing the
        // stream's own triggers would collide on the swap sentinel; the
        // queue folds the request into the slot that can never race.
        // Idle path = one directory existence check per trigger.
        if (!externalSwap()) drainPendingErasures(spark, workDir)
        if (targetCellRows < Int.MaxValue && !externalSwap()) {
          val batchRows = spark.read.parquet(s"$dataDir/batch=$batchId").count()
          storeRows += batchRows - batchCounts.getOrElse(batchId, 0L)
          batchCounts(batchId) = batchRows
          val curNlist = loadIvfIndex(spark, idxPath).length
          if (storeRows > targetCellRows.toLong * curNlist)
            requantizeIvfStore(spark, workDir, curNlist * growFactor, sampleRows)
        }
        // SKEW trigger, between batches like the mean-based one: a
        // drifting stream that concentrates mass degrades per-probe
        // latency while the MEAN stays on target. splitHotCells embeds
        // its own occupancy probe (one bounded aggregate; ≤ nlist rows
        // collect) and returns 0 when nothing is hot, so the idle-path
        // cost is that single aggregate. The per-trigger loop is BOUNDED
        // (`splitRounds` — tight-but-distinct blobs converge
        // geometrically; byte-identical rows can NEVER split and would
        // loop forever): a blob not finished this trigger re-fires on
        // the next batch — the stream never stalls on maintenance, and
        // each round's rewrite is file-targeted (round 15), so the cost
        // is ∝ hot mass per round.
        if (maxCellRows < Int.MaxValue && !externalSwap()) {
          var r = 0
          while (r < splitRounds &&
            splitHotCells(spark, workDir, maxCellRows) > 0) r += 1
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    StoredTable.readStore(spark, dataDir).drop("batch")
  }

  /** Name of the pending-erasure queue directory under an IVF store's
    * `workDir` — see [[enqueueIvfErasure]].
    */
  private[graft] val PendingErasureDir = ErasureQueue.DirName

  /** RIGHT-TO-ERASURE AGAINST A LIVE INGEST STREAM: enqueue a victim id
    * set for the stream to apply in its own between-batch maintenance
    * slot. A direct [[deleteFromIvfStore]] while [[streamIngestIvf]] runs
    * is out of the single-writer contract — the stream's own triggers
    * (requantize, hot-split) and the external delete would race on the
    * swap sentinel, and whichever loses throws. The queue removes the
    * race: the request lands as a file (write-then-rename, so a draining
    * reader never sees a partial id list), and the stream drains it at
    * the next trigger, where it IS the single writer.
    *
    * The request applies to rows present at drain time — a victim id
    * still in flight upstream of the ingest must be re-enqueued after it
    * lands (compliance pipelines re-issue until an audit probe comes back
    * empty; [[deleteFromIvfStore]] returning 0 is that audit's cheap
    * form). On a stopped stream the queue simply waits: the next run of
    * the stream drains it before processing any batch.
    */
  def enqueueIvfErasure(spark: org.apache.spark.sql.SparkSession,
                        workDir: String, ids: Seq[Long]): Unit =
    ErasureQueue.enqueueIds(spark, workDir, ids, "enqueueIvfErasure")

  /** BULK-victim form of the live-stream erasure queue: the victim set
    * is a TABLE and the request publishes as a PARQUET DIRECTORY
    * (written distributed, then renamed into place — a draining reader
    * never sees a partial request, same publish protocol as the text
    * form). The text form serializes ids through a driver-built string
    * — fine for a handful, but a compliance batch of 10⁵–10⁷ ids must
    * never funnel through driver memory; here the ids go cluster-side
    * parquet → broadcast anti-join, bounded end to end.
    */
  def enqueueIvfErasure(spark: org.apache.spark.sql.SparkSession,
                        workDir: String,
                        victims: org.apache.spark.sql.DataFrame): Unit =
    ErasureQueue.enqueueTable(spark, workDir, victims, "vec_id",
      "enqueueIvfErasure")

  /** Drain the pending-erasure queue against the store — called from the
    * ingest stream's between-batch slot (and safe to call on a quiesced
    * store directly). Each request file applies through
    * [[deleteFromIvfStore]] and is removed ONLY after its swap completes,
    * so a crash mid-drain re-applies the request on resume (deletion is
    * idempotent — already-erased ids price to 0 victims and touch
    * nothing). Returns rows erased.
    */
  def drainPendingErasures(spark: org.apache.spark.sql.SparkSession,
                           workDir: String): Long =
    ErasureQueue.drain(spark, workDir,
      applyIds = ids => deleteFromIvfStore(spark, workDir, ids),
      applyTable = victims => deleteFromIvfStore(spark, workDir, victims))

  /** The cell-store row shape: full-precision keeps the embedding column;
    * quantized swaps it for `(qvec int8, qscale)` via [[quantizeWithScale]].
    */
  private def storedLayout(df: DataFrame, quantized: Boolean): DataFrame =
    if (quantized) quantizeWithScale(df).drop("embedding") else df

  /** One ingest micro-batch — REPLAY-IDEMPOTENT like the dedup stream's:
    * the batch overwrites its OWN `batch=<id>` partition, so a checkpoint
    * replay replaces rather than double-appends. The index bootstrap is
    * naturally idempotent: train-if-absent, and a replayed first batch
    * retrains on the same data to the same centroids (deterministic
    * sample + seed-free k-means).
    */
  private[graft] def streamIngestIvfBatch(
      batch: DataFrame, batchId: Long, idxPath: String, dataDir: String,
      nlist: Int, sampleRows: Int, quantized: Boolean = false): Unit = {
    val s2 = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(idxPath)
    val fs = StoredTable.fileSystem(s2, p)
    if (!fs.exists(p)) saveIvfIndex(batch, idxPath, nlist, sampleRows)
    val centroids = loadIvfIndex(s2, idxPath)
    storedLayout(
      batch.withColumn("cell", nearestCellUdf(centroids)(col("embedding"))),
      quantized)
      .storeWrite.mode("overwrite").parquet(s"$dataDir/batch=$batchId")
  }

  /** STREAMING IVF-PQ ingest — the composition a real 100 TB ANN
    * deployment stores (FAISS's IVFPQ: coarse cells for touch-less, PQ
    * codes for store-less): the ingest layout of [[streamIngestIvf]] with
    * the per-row payload compressed to `m` PQ codes (~32× smaller than
    * float32 — past SQ8's 4×, the byte bottleneck at lake scale). The
    * bootstrap batch trains BOTH quantizers (the coarse centroids and the
    * per-subspace codebooks — the pipeline's one training pass); every
    * batch then assigns cells + encodes codes in one map and appends
    * `(…, cell, pqcode)` rows — codes-only, no float column. Codes encode
    * the RAW vector (not the residual), which is what lets nlist
    * maintenance ([[requantizeIvfStore]] — it handles this layout) move
    * cell labels without touching a single code.
    *
    * Same replay/maintenance contract as [[streamIngestIvf]]: per-batch
    * own-partition overwrite, train-if-absent bootstrap, compaction via
    * [[compactIvfStore]] (payload passthrough). Probes serve through
    * [[ivfPqTopKStored]] (ADC over the pruned cells + exact re-rank).
    */
  def streamIngestIvfPq(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      nlist: Int = 16,
      m: Int = 8,
      codebookK: Int = 32,
      sampleRows: Int = 2048,
      targetCellRows: Int = Int.MaxValue,
      growFactor: Int = 4,
      maxCellRows: Int = Int.MaxValue): DataFrame =
    // cell aging rides the SHARED requantize between batches (it
    // reconstructs through the codebooks and relabels cells without
    // touching a code); driver bookkeeping is the shared one
    runIvfIngestStream(spark, inputDir, workDir,
      seedLayout = df => df
        .withColumn("pqcode", array_repeat(lit(0), m))
        .drop("embedding"),
      writeBatch = (batch, batchId) =>
        streamIngestIvfPqBatch(batch, batchId, workDir, nlist, m,
          codebookK, sampleRows),
      sampleRows = sampleRows, targetCellRows = targetCellRows,
      growFactor = growFactor, maxCellRows = maxCellRows)

  /** One IVF-PQ ingest micro-batch — replay-idempotent like the flat
    * ingest's (own-partition overwrite; both trainings are
    * train-if-absent and deterministic, so a replayed bootstrap retrains
    * to the same artifacts).
    */
  private[graft] def streamIngestIvfPqBatch(
      batch: DataFrame, batchId: Long, workDir: String,
      nlist: Int, m: Int, codebookK: Int, sampleRows: Int): Unit = {
    val s2 = batch.sparkSession
    val idxPath = s"$workDir/ivf_index"
    val pqPath = s"$workDir/pq_index"
    val fs = StoredTable.fileSystem(s2, new org.apache.hadoop.fs.Path(idxPath))
    if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath)))
      saveIvfIndex(batch, idxPath, nlist, sampleRows)
    if (!fs.exists(new org.apache.hadoop.fs.Path(pqPath)))
      savePqIndex(batch, pqPath, m, codebookK, sampleRows)
    val centroids = loadIvfIndex(s2, idxPath)
    val books = loadPqIndex(s2, pqPath)
    batch
      .withColumn("cell", nearestCellUdf(centroids)(col("embedding")))
      .withColumn("pqcode", pqEncodeUdf(books)(col("embedding")))
      .drop("embedding")
      .storeWrite.mode("overwrite").parquet(s"$workDir/cells/batch=$batchId")
  }

  /** IVF-PQ top-k over the STORED coded table — the serving path of
    * [[streamIngestIvfPq]], and the FAISS "refine" discipline end to end:
    *
    *  - the probe's float vector comes from `rerankWith` (the source
    *    corpus — at lake scale an id point-lookup), ONE bounded collect;
    *  - its `nprobe` nearest cells rank against the loaded centroids
    *    through [[nearestCellsAssigner]] (the same two-level function
    *    every write-side assignment used), pruning the store scan with a
    *    literal `cell IN (…)` — row-group stats on a compacted store;
    *  - the pruned rows score by ADC (m LUT adds per row, no float
    *    column ever loads) into a `rerank·k` candidate pool
    *    (TakeOrderedAndProject — nothing shuffles);
    *  - the pool re-ranks with EXACT float cosine against `rerankWith`
    *    (broadcast pool semi-shape: exact math touches rerank·k rows,
    *    not the corpus).
    */
  def ivfPqTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      probeId: Long,
      rerankWith: DataFrame,
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 10): DataFrame = {
    val centroids = loadIvfIndex(spark, s"$workDir/ivf_index")
    val books = loadPqIndex(spark, s"$workDir/pq_index")
    val stored = StoredTable.readStore(spark, s"$workDir/cells").drop("batch")
    val probeRows = rerankWith.where(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>")).collect()
    require(probeRows.nonEmpty, s"probe vec_id=$probeId not found in rerankWith")
    val probeVec = probeRows.head.getSeq[Double](0).toArray
    val cells = nearestCellsAssigner(centroids, nprobe)(
      probeVec.map(_.toFloat).toSeq)
    val adcScore = pqAdcUdf(books, probeVec)
    val pool = stored
      .where(col("cell").isin(cells.map(Integer.valueOf): _*) &&
        col("vec_id") =!= probeId)
      .select(col("vec_id"), adcScore(col("pqcode")).as("pq_cosine"))
      .orderBy(col("pq_cosine").desc, col("vec_id"))
      .limit(rerank * k)
    val probe = rerankWith.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    rerankWith
      .join(broadcast(pool.select("vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch (probe-set) top-k over the STORED IVF-PQ index — the
    * production probe shape ([[ivfProbeSetTopKStored]]) for the
    * production layout ([[streamIngestIvfPq]]): N probes in ONE pruned
    * pass over the coded store.
    *
    * The probes' float vectors are one bounded collect (N × dim — the
    * declared probe set, not data); their per-probe cell shortlists AND
    * the cell union both come from the same driver-side
    * [[nearestCellsAssigner]] call (no extra job, no UDF divergence from
    * the write-side assigner). The store scans ONCE, pruned by the
    * union's literal `cell IN (…)`; each (probe, cell) candidate scores
    * by the probe's ADC LUT (a map of m·k-double tables in the task
    * closure — how a 1000-executor deployment ships them), a per-probe
    * `WindowGroupLimit` keeps `rerank·k` candidates, and the pool
    * re-ranks on EXACT float cosine against `rerankWith`. Output matches
    * [[ivfProbeSetTopK]]'s (probe_id, vec_id, cosine) contract.
    */
  def ivfPqProbeSetTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      probes: DataFrame,
      rerankWith: DataFrame,
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 10,
      rowFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val centroids = loadIvfIndex(spark, s"$workDir/ivf_index")
    val books = loadPqIndex(spark, s"$workDir/pq_index")
    val stored = StoredTable.readStore(spark, s"$workDir/cells").drop("batch")
    // bounded collect: the declared probe set's float vectors
    val probeVecs: Map[Long, Array[Double]] = probes
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    require(probeVecs.nonEmpty, "ivfPqProbeSetTopKStored: empty probe set")
    val shortlist = nearestCellsAssigner(centroids, nprobe)
    val probeCells: Seq[(Long, Int)] = probeVecs.toSeq.sortBy(_._1).flatMap {
      case (id, v) => shortlist(v.map(_.toFloat).toSeq).map(c => id -> c)
    }
    val unionCells = probeCells.map(_._2).distinct.sorted
    // per-probe ADC LUTs keyed by probe id in one closure-shipped map —
    // built and scored through the SAME helpers as the single-probe path
    // ([[pqLuts]]/[[adcCosine]]) so the two can never diverge
    val luts: Map[Long, PqLuts] =
      probeVecs.map { case (id, v) => id -> pqLuts(books, v) }
    val adc = udf { (probeId: Long, codes: Seq[Int]) =>
      adcCosine(luts(probeId), codes)
    }
    val pc = probeCells.toDF("probe_id", "cell")
    val byPqScore = Window.partitionBy(col("probe_id"))
      .orderBy(col("pq_cosine").desc, col("vec_id"))
    // rowFilter: a relational PRE-filter on stored columns, conjoined
    // with the cell prune in the one scan — the flat batch probe's
    // filtered-ANN discipline ([[ivfProbeSetTopKStored]]) carried to the
    // coded layout (recall among sparse qualifiers is bought with
    // nprobe, exactly as there)
    val pool = stored
      .where(col("cell").isin(unionCells.map(Integer.valueOf): _*) && rowFilter)
      .join(broadcast(pc), Seq("cell"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("pq_cosine", adc(col("probe_id"), col("pqcode")))
      .withColumn("rk", row_number().over(byPqScore))
      .where(col("rk") <= rerank * k)
      .select(col("probe_id"), col("vec_id"))
    val pe = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_emb"))
    val byProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rerankWith
      .join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(pe), Seq("probe_id"))
      .withColumn("cosine",
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
      .withColumn("rk", row_number().over(byProbe))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** FILTERED ANN serve on the CODED store: [[ivfPqProbeSetTopKStored]]
    * with BOTH recall budgets scaled by inverse qualifier selectivity —
    * the production layout (PQ codes) behind the production query shape
    * (top-k among qualifying rows). Two budgets because the coded path
    * stacks two approximations:
    *
    *  - `nprobe` scales like the flat path's
    *    ([[ivfProbeSetTopKStoredFiltered]] — ACORN-style 1/sel widening,
    *    capped at nlist): qualifying winners spread across ~1/sel more
    *    cells;
    *  - `rerank` scales by the same 1/sel (capped — it bounds a per-probe
    *    `WindowGroupLimit` pool, not a scan): the ADC pool is composed
    *    of PRE-filter survivors, so at sparse selectivity a fixed pool
    *    holds ~sel·rerank·k qualifying candidates and the exact re-rank
    *    starves exactly when the filter matters most. This is where the
    *    coded path loses recall first — the flat path has no pool to
    *    starve.
    *
    * Selectivity prices through [[selectivityCache]] (one column-pruned
    * aggregate on first serve, cache after, dropped on maintenance — see
    * the cache's staleness contract). Gated per-probe vs the FILTERED
    * float truth by `q_sim_ivfpq_filtered`.
    */
  /** Ceiling on the 1/sel-scaled per-probe ADC re-rank pool. The pool's
    * candidate ids BROADCAST for the exact re-rank join (the candidate
    * set must reach every executor holding full-precision rows), so the
    * cap bounds that broadcast at probes × cap ids: at 1000 ids/probe
    * (~16 B each) a 500-probe batch stays ≈ 8 MB — inside Spark's
    * default `autoBroadcastJoinThreshold` (10 MB). Past the cap the
    * filtered coded path degrades gracefully: recall comes from the
    * nprobe widening (capped at nlist = exhaustive) rather than an
    * unboundedly growing driver/broadcast pool.
    */
  private val MaxFilteredRerankPool = 1000

  def ivfPqProbeSetTopKStoredFiltered(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      probes: DataFrame,
      rerankWith: DataFrame,
      rowFilter: Column,
      k: Int = 10,
      nprobe: Int = 4,
      rerank: Int = 10): DataFrame = {
    val idxPath = s"$workDir/ivf_index"
    val nlist = loadIvfIndex(spark, idxPath).length
    val stored = StoredTable.readStore(spark, s"$workDir/cells").drop("batch")
    val (total, qual) = pricedSelectivity(stored, idxPath, rowFilter)
    require(qual > 0, "ivfPqProbeSetTopKStoredFiltered: no store rows qualify")
    val inv = total.toDouble / qual
    val scaledNprobe = math.min(nlist.toLong, math.ceil(nprobe * inv).toLong).toInt
    val scaledRerank =
      math.min(MaxFilteredRerankPool.toLong, math.ceil(rerank * inv).toLong).toInt
    ivfPqProbeSetTopKStored(spark, workDir, probes, rerankWith,
      k, scaledNprobe, scaledRerank, rowFilter)
  }

  /** In-place RE-QUANTIZATION of the streamed ANN store — the maintenance
    * op `Dedup.requantizeSemStore` is for the semantic-dedup index,
    * applied to the ingest layout (`workDir/ivf_index` +
    * `workDir/cells/batch=<id>` rows carrying a `cell` COLUMN). The
    * streamed ingest's add-vs-train split freezes the bootstrap quantizer;
    * at fixed nlist every cell grows linearly with the corpus, and probe
    * cost is O(corpus/nlist · nprobe) — this op is the offline re-train
    * the ingest docstring defers to, WITHOUT the re-seed shape (the corpus
    * is never re-read from the source, only the store's own rows move):
    *
    *   1. train `newNlist` centroids from the STORED rows' bounded sample
    *      into a stage dir (store fully readable throughout);
    *   2. re-assign every stored row to the staged centroids in ONE
    *      parallel size-targeted job, PRESERVING `batch` provenance so the
    *      ingest's replay semantics (own-partition overwrite) are
    *      untouched;
    *   3. swap cells + index through the store-mutation protocol
    *      ([[StoredTable]]; sentinel in the cells dir): batch partitions
    *      and the index artifact move aside, the stage promotes, and the
    *      JVM's index cache invalidates before the sentinel drops.
    *
    * Single-writer contract as with every store maintenance op: no
    * concurrent probes from OTHER JVMs during the swap window.
    */
  def requantizeIvfStore(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      newNlist: Int,
      sampleRows: Int = 2048): Unit = {
    import org.apache.hadoop.fs.Path
    val idxDir = s"$workDir/ivf_index"
    val cellsDir = s"$workDir/cells"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoredTable.fileSystem(conf, new Path(workDir))
    val stageRoot = s"$workDir/.requant_stage"
    val swap = StoredTable.preflight(fs, "requantizeIvfStore", new Path(cellsDir),
      new Path(workDir, ".requant_old"), new Path(stageRoot))
    val stored = StoredTable.readStore(spark, cellsDir).drop("cell")
    val (reconstructed, coded) = withReconstructedEmbedding(spark, workDir, stored)
    val rows = reconstructed
      .persist() // train sample + emptiness check + rewrite
    // one count serves BOTH the emptiness refusal and the nlist clamp
    // below (the former isEmpty ran its own job per requantize)
    val storeN = rows.count()
    if (storeN == 0L) {
      rows.unpersist()
      throw new IllegalArgumentException(
        s"requantizeIvfStore: store at $workDir holds no vectors — nothing to train on")
    }
    // stage the new quantizer + relabeled rows (old store fully readable
    // throughout). The staged-index cache entry is dropped first: the
    // stage path is REUSED across requantizes of one store, and the JVM
    // cache would otherwise serve a previous run's centroids.
    invalidateIvfIndex(s"$stageRoot/ivf_index")
    // Maintenance must be TOTAL: the ingest stream's growth ladder
    // compounds (`curNlist × growFactor`), so any fixed driver sample is
    // eventually crossed and kmeans' loud `sample ≥ k` refusal would kill
    // the stream mid-run. Two guards make every requested growth land:
    // the cell count clamps to what the store can seat non-degenerately
    // (≥ 2 rows/cell), and past the driver-trainable ceiling (sampleRows)
    // the staged quantizer trains HIERARCHICALLY — the two-level path has
    // no driver-sample ceiling (it is exactly the regime it exists for).
    val effNlist = math.min(newNlist.toLong, math.max(1L, storeN / 2L)).toInt
    if (effNlist.toLong > math.min(storeN, sampleRows.toLong))
      trainIvfIndexHierarchical(rows, s"$stageRoot/ivf_index", effNlist,
        sampleRows = sampleRows)
    else
      saveIvfIndex(rows, s"$stageRoot/ivf_index", nlist = effNlist, sampleRows = sampleRows)
    val totalBytes = fs.getContentSummary(new Path(cellsDir)).getLength
    // size-target the staged files, but floor the task count at the
    // session's parallelism: the re-assignment UDF runs in the
    // post-shuffle tasks (the projection is deferred past the exchange),
    // so a byte-small store must not serialize the whole re-assign into
    // one task (measured 62 s -> parallel at 50 k vectors)
    val slices = StoredTable.sizedSlices(totalBytes, floor = spark.sparkContext.defaultParallelism)
    val staged = loadIvfIndex(spark, s"$stageRoot/ivf_index")
    val relabeled = rows.withColumn("cell", nearestCellUdf(staged)(col("embedding")))
    // coded store: drop the reconstructed float column again — the
    // original codes pass through untouched
    (if (coded) relabeled.drop("embedding") else relabeled)
      .repartition(slices, col("batch"), pmod(xxhash64(col("vec_id")), lit(slices)))
      .storeWrite.mode("overwrite").partitionBy("batch")
      .parquet(s"$stageRoot/cells")
    rows.unpersist()
    val stagedCells = new Path(s"$stageRoot/cells")
    val stagedIdx = new Path(s"$stageRoot/ivf_index")
    swap.verify(stagedCells, stagedIdx)
    // the cells dir itself stays put (it holds the sentinel readers
    // watch); its batch partitions move aside individually, the staged
    // batch partitions + index artifact promote into place
    val oldParts = fs.listStatus(new Path(cellsDir))
      .filter(_.getPath.getName.startsWith("batch=")).map(_.getPath).toSeq
    val stagedParts = fs.listStatus(stagedCells)
      .filter(_.getPath.getName.startsWith("batch=")).map(_.getPath).toSeq
    swap.commit(
      asides = oldParts :+ new Path(idxDir),
      promotes = stagedParts.map(p => (p, new Path(cellsDir, p.getName))) :+
        ((stagedIdx, new Path(idxDir))),
      cleanup = Seq(new Path(stageRoot)),
      afterPromote = () => invalidateIvfIndex(idxDir))
  }

  /** COMPACTION for the streamed ANN store — the file-count maintenance
    * op ([[StoredTable.compactStore]]'s role) for the flat `cells/batch=<id>`
    * layout, so the ANN store has the full maintenance pair (compaction +
    * [[requantizeIvfStore]]) like every other stored index. Collapses
    * every `batch <= upTo` into ONE `batch=upTo` partition of
    * size-targeted files, RANGE-CLUSTERED and sorted by `cell`: the
    * stored probe's `cell IN (…)` filter then prunes parquet ROW GROUPS
    * via min/max stats — the flat layout's version of partition pruning
    * (a `partitionBy(cell)` dir per cell would mix layouts with the
    * flat per-batch appends and break discovery; clustering gets the
    * same skip without touching the append path). Works unchanged on
    * the SQ8 code layout (the payload columns pass through). A range
    * holding no rows compacts to one schema-only file. Same contract as
    * compactStore: only compact batches older than any replayable
    * checkpoint horizon; single writer during the swap, which runs the
    * store-mutation protocol of [[StoredTable]] (probes refuse on the
    * sentinel).
    *
    * ERASURE FOLDS IN through `dropIds`: a bulk scattered victim set
    * (the compliance batch case) saturates [[deleteFromIvfStore]]'s
    * file-targeting — with V victims over F files the expected touched
    * fraction is 1−(1−1/F)^V, ≈ the whole store for V ≫ F — so the
    * right move is ONE rewrite that compacts and erases together
    * instead of two store-scale rewrites back to back. The victims
    * simply drop out of the compaction's read; victims living in
    * batches NEWER than `upTo` would silently survive the fold, so the
    * op prices them first (one pruned count over `batch > upTo`) and
    * refuses — erase those with the file-targeted op or widen `upTo`.
    * When rows drop, the index artifact's cached selectivities
    * re-derive ([[invalidateIvfIndex]] — centroids are untouched, only
    * the JVM caches flush). Returns the number of victim rows erased
    * by the fold (0 for a pure compaction).
    */
  def compactIvfStore(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      upTo: Long,
      dropIds: Seq[Long] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    val victims =
      if (dropIds.isEmpty) None
      else {
        import spark.implicits._
        Some(dropIds.distinct.toDF("vec_id"))
      }
    val cellsDir = s"$workDir/cells"
    val fs = StoredTable.fileSystem(spark, new Path(workDir))
    val staged = new Path(workDir, ".compact_stage")
    val swap = StoredTable.preflight(fs, "compactIvfStore", new Path(cellsDir),
      new Path(workDir, ".compact_old"), staged)
    val olds = fs.listStatus(new Path(cellsDir)).filter { st =>
      val name = st.getPath.getName
      name.startsWith("batch=") && name.stripPrefix("batch=").toLong <= upTo
    }
    val totalBytes = olds.map(st => fs.getContentSummary(st.getPath).getLength).sum
    val store = StoredTable.readStore(spark, cellsDir)
    // victim marking/dropping via broadcast semi/anti — constant-size
    // plan in |victims| (as in StoredTable.deleteRowsFromStoreJoin)
    def markV(df: DataFrame): DataFrame = victims match {
      case Some(v) => df.join(broadcast(v), Seq("vec_id"), "left_semi")
      case None    => df.limit(0)
    }
    def dropV(df: DataFrame): DataFrame = victims match {
      case Some(v) => df.join(broadcast(v), Seq("vec_id"), "left_anti")
      case None    => df
    }
    // two bounded counts, both only when erasure folds in: victims in
    // batches the fold won't rewrite must refuse (they would silently
    // survive), and the erased count is the op's return contract
    val erased = if (victims.isEmpty) 0L else {
      val newer = markV(store.where(col("batch") > upTo)).count()
      require(newer == 0L,
        s"compactIvfStore: $newer victim rows live in batches > $upTo — the " +
          "fold would not rewrite them and they would silently survive " +
          "erasure; widen upTo past their batches or use deleteFromIvfStore")
      markV(store.where(col("batch") <= upTo)).count()
    }
    StoredTable.clusteredStage(dropV(store.where(col("batch") <= upTo)).drop("batch"),
      Seq("cell", "vec_id"), Nil, staged.toString, Some(StoredTable.sizedSlices(totalBytes)))
    swap.verify(staged)
    swap.commit(
      asides = olds.map(_.getPath).toSeq,
      promotes = Seq((staged, new Path(s"$cellsDir/batch=$upTo"))),
      cleanup = Nil,
      afterPromote = () =>
        if (erased > 0L) invalidateIvfIndexDurably(spark, s"$workDir/ivf_index"))
    erased
  }

  /** Reconstruct a float `embedding` column on a stored row set when the
    * layout is coded (self-describing): SQ8 as `qvec·qscale` (within half
    * a quantization step per component), PQ by codeword lookup (within
    * the codebook's quantization error). The codes themselves always
    * rewrite through maintenance LOSSLESSLY — nothing re-quantizes.
    * Shared by [[requantizeIvfStore]] and [[splitHotCells]]. Returns
    * (rows-with-embedding, wasCoded).
    */
  private def withReconstructedEmbedding(
      spark: org.apache.spark.sql.SparkSession, workDir: String,
      stored: DataFrame): (DataFrame, Boolean) = {
    val qz = stored.columns.contains("qvec")
    val pq = stored.columns.contains("pqcode")
    val rows =
      if (qz) stored.withColumn("embedding",
        transform(col("qvec"), x => (x.cast("float") * col("qscale"))))
      else if (pq) stored.withColumn("embedding",
        pqDecodeUdf(loadPqIndex(spark, s"$workDir/pq_index"))(col("pqcode")))
      else stored
    (rows, qz || pq)
  }

  /** Per-cell occupancy of a streamed/compacted ANN store — the skew
    * PROBE behind hot-cell maintenance. Per-probe serve cost is per-CELL
    * (a probe scans its nprobe cells in full), so a drifting stream that
    * concentrates mass into a few cells degrades latency even while the
    * MEAN stays on target — `requantizeIvfStore`'s mean-based trigger
    * never fires. One keyed count over the store's `cell` column
    * (map-side combined; at lake scale this is a metadata-cheap aggregate
    * over the clustered column).
    */
  def cellOccupancy(spark: org.apache.spark.sql.SparkSession,
                    workDir: String): DataFrame =
    StoredTable.readStore(spark, s"$workDir/cells")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))

  /** TARGETED hot-cell split — the skew response: every cell holding more
    * than `maxCellRows` rows is split into up to `splitFactor` sub-cells
    * trained from ITS OWN rows, in ONE parallel job over the hot rows
    * only (pruned `cell IN (hot…)` read — on a compacted store that is a
    * row-group-pruned scan, not a full pass). Returns the number of
    * cells split (0 = nothing hot: the store is untouched and no swap
    * runs — callers use the return as the trigger signal).
    *
    * Mechanics mirror FAISS-style local splitting:
    *  - sub-centroid 0 REPLACES the hot centroid in place (cell id kept),
    *    sub-centroids 1… append at the end of the matrix (ids oldNlist…,
    *    allocated hot-cell-ascending — deterministic);
    *  - ONLY hot-cell rows relabel, and each relabels among its OWN
    *    cell's sub-centroids (a local decision — cold rows and cold
    *    centroids are untouched, so cold-cell probe behavior is
    *    bit-identical);
    *  - coded layouts reconstruct through [[withReconstructedEmbedding]]
    *    for training/relabeling and the codes pass through untouched;
    *  - the PHYSICAL rewrite is targeted too: one pruned pass lists the
    *    files holding any hot-cell row, ONLY those files re-read /
    *    relabel / restage (slices sized by affected bytes), and the swap
    *    renames at FILE granularity, resolving and promoting files as the
    *    erasure core does ([[StoredTable.owningFiles]],
    *    [[StoredTable.stagedFilePromotes]]) — cold files are never read,
    *    written, or renamed, so they stay byte-identical (the
    *    `q_partition_overwrite` discipline applied to the store);
    *  - the rewrite preserves `batch` provenance and swaps through the
    *    store-mutation protocol of [[StoredTable]].
    *
    * Unlike [[requantizeIvfStore]] (a global re-train sized by the MEAN),
    * the split trains O(hot rows) and moves O(affected-file bytes) — on a
    * compacted cell-clustered store the hot cells live in a contiguous
    * file subset, so I/O tracks hot mass, not store size. The right
    * response when the occupancy histogram is skewed rather than
    * uniformly over target. Single-writer contract during the swap.
    *
    * Splitting is ITERATIVE by design: when a tight sub-blob holds most
    * of a hot cell's rows, one pass may move it into a single sub-cell
    * still over the ceiling — callers drive the trigger to quiescence
    * (`while (splitHotCells(…) > 0)`), which converges geometrically on
    * distinct rows. A cell of > maxCellRows byte-IDENTICAL vectors can
    * never split (they relabel together — k-means cannot separate equal
    * points): such cells are DETECTED before any rewrite (the training
    * task counts its own sub-assignments), excluded from the split and
    * memoized at their occupancy ([[unsplittableCells]]) so the return
    * value reaches 0 and later triggers skip them until their occupancy
    * changes — no per-batch rewrite tax, no unbounded loop. Surface such
    * cells to dedup instead.
    */
  def splitHotCells(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      maxCellRows: Int,
      splitFactor: Int = 4): Int = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(splitFactor >= 2, s"splitHotCells: splitFactor=$splitFactor")
    val idxDir = s"$workDir/ivf_index"
    val cellsDir = s"$workDir/cells"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoredTable.fileSystem(conf, new Path(workDir))
    val stageRoot = s"$workDir/.split_stage"
    val swap = StoredTable.preflight(fs, "splitHotCells", new Path(cellsDir),
      new Path(workDir, ".split_old"), new Path(stageRoot))
    // the occupancy probe: ≤ nlist (cell, n) pairs — bounded by the index.
    // Cells memoized unsplittable at this exact occupancy are skipped
    // (see [[unsplittableCells]]) — they re-arm when occupancy changes.
    // stamped memo: a maintenance swap in ANY JVM (fingerprint drift)
    // drops the memo, not just a swap run by this one
    val memoFp = maintFingerprint(idxDir)
    val memo = unsplittableCells.get(idxDir) match {
      case Some((f, m)) if f == memoFp => m
      case _ => Map.empty[Int, Long]
    }
    val hotOcc: Map[Int, Long] = cellOccupancy(spark, workDir)
      .where(col("n_rows") > maxCellRows)
      .select(col("cell"), col("n_rows")).as[(Int, Long)].collect().toMap
    val candidates = hotOcc.keys.toArray.sorted
      .filterNot(c => memo.get(c).contains(hotOcc(c)))
    if (candidates.isEmpty) return 0
    val centroids = loadIvfIndex(spark, idxDir)
    val stored = StoredTable.readStore(spark, cellsDir)
    val (rows, coded) = withReconstructedEmbedding(spark, workDir, stored)
    // per-hot-cell sub-quantizers, trained from each cell's own rows in
    // the tasks (id-sorted init, seed-free kmeans — deterministic); a
    // cell with fewer rows than splitFactor trains what it holds. Each
    // task also counts the nearest-sub assignment of its own rows (same
    // tie-breaking as the relabel below): a cell whose rows ALL land on
    // one sub-centroid cannot make progress — byte-identical vectors
    // relabel together — and must not pay a stage+swap rewrite.
    val trained = rows
      .where(col("cell").isin(candidates.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("cell"), col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (c, it) =>
        val cellRows = it.toArray.sortBy(_._2).map(_._3)
        val f = math.min(splitFactor, cellRows.length)
        val subs = kmeans(cellRows, f)
        val counts = new Array[Long](subs.length)
        cellRows.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var i = 0
          while (i < subs.length) {
            val sc = subs(i)
            var d = 0.0; var j = 0
            while (j < sc.length) { val t = v(j) - sc(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          counts(best) += 1L
        }
        subs.iterator.zipWithIndex.map { case (s, i) => (c, i, s, counts(i)) }
      }
      .collect()
      .groupBy(_._1)
    // progress = the cell's rows spread over ≥ 2 sub-centroids; stuck
    // cells are memoized at their CURRENT occupancy and skipped — if
    // every candidate is stuck, the store is untouched and no swap runs
    val stuck = trained.collect {
      case (c, arr) if arr.count(_._4 > 0L) < 2 => c
    }.toArray.sorted
    if (stuck.nonEmpty)
      unsplittableCells.updateWith(idxDir) { prev =>
        val base = prev match {
          case Some((f, m)) if f == memoFp => m
          case _ => Map.empty[Int, Long]
        }
        Some((memoFp, base ++ stuck.map(c => c -> hotOcc(c))))
      }
    val hot = candidates.filterNot(stuck.contains)
    if (hot.isEmpty) return 0
    val hotSet = hot.toSet
    val subsByCell: Map[Int, Array[Array[Double]]] = trained.view
      .filterKeys(hotSet).toMap
      .map { case (c, arr) => c -> arr.sortBy(_._2).map(_._3) }
    // global ids: sub 0 keeps the hot cell's id; subs 1… append after the
    // current matrix, allocated hot-cell-ascending
    var nextId = centroids.length
    val idsByCell: Map[Int, Array[Int]] = hot.map { c =>
      val n = subsByCell(c).length
      val ids = new Array[Int](n)
      ids(0) = c
      var i = 1
      while (i < n) { ids(i) = nextId; nextId += 1; i += 1 }
      c -> ids
    }.toMap
    val newCentroids = new Array[Array[Double]](nextId)
    System.arraycopy(centroids, 0, newCentroids, 0, centroids.length)
    hot.foreach { c =>
      val subs = subsByCell(c); val ids = idsByCell(c)
      var i = 0
      while (i < subs.length) { newCentroids(ids(i)) = subs(i); i += 1 }
    }
    // LOCAL relabel: a hot row picks the nearest of its OWN cell's
    // sub-centroids (ties → lower sub-index; NaN rows pin to sub 0,
    // keeping their cell id — the assigners' pin-to-0 discipline)
    val relabel = udf { (c: Int, vs: Seq[Float]) =>
      if (!hotSet(c)) c
      else {
        val subs = subsByCell(c); val ids = idsByCell(c)
        val v = toDense(vs)
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < subs.length) {
          val sc = subs(i)
          var d = 0.0; var j = 0
          while (j < sc.length) { val t = v(j) - sc(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        ids(best)
      }
    }
    // TARGETED-PHYSICAL rewrite: only the FILES holding hot-cell rows
    // move. The relabel is a per-row local decision (hot rows re-pick
    // among their own cell's sub-centroids, cold rows keep their cell),
    // so a file with no hot-cell row would rewrite to itself — at lake
    // scale that is an O(store) copy for an O(hot) change. Instead:
    //  1. ONE pruned pass (`cell IN (hot…)`, row-group-skipped on a
    //     compacted cell-clustered store) collects the DISTINCT files
    //     that hold any hot row — bounded by the store's file count
    //     (metadata, not data);
    //  2. only those files are re-read (basePath keeps the `batch`
    //     provenance column), relabeled, and staged — slices sized by
    //     the AFFECTED bytes, not the store;
    //  3. the recoverable swap moves aside / promotes at FILE
    //     granularity: cold files are never read, written, or renamed —
    //     byte-identical before and after (assertable the same way
    //     q_partition_overwrite asserts partition identity).
    val hotFileUris = rows
      .where(col("cell").isin(hot.toIndexedSeq.map(Integer.valueOf): _*))
      .select(input_file_name().as("f")).distinct().as[String].collect()
    val affected = StoredTable.owningFiles(fs, new Path(cellsDir), 1, hotFileUris.toSeq)
    require(affected.nonEmpty,
      "splitHotCells: hot rows reported but no owning files resolved — " +
        "store listing and scan disagree; refusing to swap")
    invalidateIvfIndex(s"$stageRoot/ivf_index")
    writeCentroids(spark, newCentroids, s"$stageRoot/ivf_index")
    val slices = StoredTable.sizedSlices(affected.map(_.getLen).sum,
      floor = spark.sparkContext.defaultParallelism)
    val qualifiedBase = fs.makeQualified(new Path(cellsDir)).toString
    val affectedDf = spark.read.option("basePath", qualifiedBase)
      .parquet(affected.map(_.getPath.toString): _*)
    val (affRows, _) = withReconstructedEmbedding(spark, workDir, affectedDf)
    val relabeled = affRows.withColumn("cell", relabel(col("cell"), col("embedding")))
    // stage CELL-CLUSTERED (the compacted discipline), not hash-spread:
    // iterative splitting re-targets the still-hot region each round, and
    // a hash-spread stage would smear hot rows across every new file —
    // round 2 would then move everything the first round wrote
    StoredTable.clusteredStage(if (coded) relabeled.drop("embedding") else relabeled,
      Seq("batch", "cell", "vec_id"), Seq("batch"), s"$stageRoot/cells", Some(slices))
    val stagedCells = new Path(s"$stageRoot/cells")
    val stagedIdx = new Path(s"$stageRoot/ivf_index")
    swap.verify(stagedCells, stagedIdx)
    // file-granular promote: each staged file lands INSIDE its live
    // batch= dir next to the untouched cold files; asides are exactly
    // the affected files
    swap.commit(
      asides = affected.map(_.getPath) :+ new Path(idxDir),
      promotes = StoredTable.stagedFilePromotes(fs, stagedCells, new Path(cellsDir), 1) :+
        ((stagedIdx, new Path(idxDir))),
      cleanup = Seq(new Path(stageRoot)),
      afterPromote = () => invalidateIvfIndex(idxDir))
    hot.length
  }

  /** TARGETED DELETION from a stored ANN index — the right-to-erasure
    * maintenance op ("remove these vec_ids without a rebuild"), the first
    * compliance request a real deployment gets. Works on every store
    * layout (flat / SQ8 / PQ — the payload passes through; victims drop
    * by `vec_id`). A thin wrapper over the SHARED erasure core
    * ([[StoredTable.deleteRowsFromStore]] — the same pricing/staging/swap every
    * stored-index family uses): ONE `groupBy(input_file_name())` job
    * both prices the request and lists the owning files (a `vec_id`
    * predicate doesn't prune the cell-clustered layout, so a second
    * victim scan would double the dominant cost); 0 victims → store
    * untouched, no swap; only owning files re-read (basePath keeps
    * `batch` provenance), victims filtered out, remainder rewritten
    * copy-on-write sorted on (cell, vec_id), file-granular recoverable
    * swap — untouched files stay byte-identical.
    *
    * CENTROIDS ARE UNTOUCHED (deletion never moves a surviving row's
    * cell); the index artifact is cache-invalidated only so priced
    * selectivities re-derive against the shrunken store. Deleting every
    * last row is out of contract (an empty unseedable store — rebuild
    * instead); the shared sentinel keeps probes away during the swap.
    * Returns the number of rows deleted.
    */
  def deleteFromIvfStore(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "deleteFromIvfStore: empty id set")
    val idxDir = s"$workDir/ivf_index"
    StoredTable.deleteRowsFromStore(spark, s"$workDir/cells", "deleteFromIvfStore",
      victimCol = col("vec_id").isin(ids.distinct.map(java.lang.Long.valueOf): _*),
      partitionCols = Seq("batch"),
      clusterCols = Seq("cell", "vec_id"),
      afterPromote = () => invalidateIvfIndexDurably(spark, idxDir))
  }

  /** BULK-victim form of the ANN-store erasure: the victim set arrives
    * as a TABLE of `vec_id`s, applied through the shared broadcast
    * semi/anti core ([[StoredTable.deleteRowsFromStoreJoin]]). A real
    * compliance batch is 10⁵–10⁷ ids; the literal-`isin` form above
    * builds, optimizes, and task-serializes an expression tree ∝ |ids|
    * and stops scaling around 10⁴ (measured in the erasure harness's bulk leg),
    * while this form's plan is CONSTANT-size and the id set rides one
    * ~8 B/id broadcast. Same swap/centroid/caching contract as the
    * literal form.
    */
  def deleteFromIvfStore(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      victims: org.apache.spark.sql.DataFrame): Long = {
    val idxDir = s"$workDir/ivf_index"
    StoredTable.deleteRowsFromStoreJoin(spark, s"$workDir/cells", "deleteFromIvfStore",
      victims, "vec_id",
      partitionCols = Seq("batch"),
      clusterCols = Seq("cell", "vec_id"),
      afterPromote = () => invalidateIvfIndexDurably(spark, idxDir))
  }

  /** IVF top-k over a STORED cell-assigned table (the streamed ingest's
    * output) with a persisted index: the probe ranks its nprobe nearest
    * cells from the loaded centroids and scans only matching `cell` rows —
    * no re-assignment map anywhere on the read path. An SQ8 store (code
    * layout, no float column) ranks on the bare cast-up codes: cosine is
    * invariant to the per-vector scale, so `qscale` never loads — the
    * probe reads 1/4 the bytes, which at lake scale IS the probe cost.
    */
  def ivfTopKStored(assigned: DataFrame, indexPath: String, probeId: Long,
                    k: Int = 10, nprobe: Int = 4): DataFrame = {
    val comparable =
      if (assigned.columns.contains("qvec") && !assigned.columns.contains("embedding"))
        assigned.withColumn("embedding", col("qvec").cast("array<float>"))
      else assigned
    ivfProbeAssigned(comparable, loadIvfIndex(assigned.sparkSession, indexPath),
      probeId, k, nprobe)
  }

  /** Batch (probe-set) top-k over the STORED cell-assigned table with a
    * persisted index — the production probe shape at lake scale: probes
    * arrive N at a time and the index is always the persisted one, so N
    * single-probe store reads ([[ivfTopKStored]] per probe) would re-scan
    * the store N times. This runs them in ONE pruned pass:
    *
    *  - each probe ranks its `nprobe` nearest cells against the LOADED
    *    centroid matrix distributively ([[nearestCellsAssigner]] — the
    *    same function every write-side assignment used, so probe and
    *    store can never disagree on cell geometry) and EXPLODES to one
    *    `(probe, cell)` row, making the candidate join an equi-join on
    *    `cell` (hash join; the probe side is tiny and broadcast);
    *  - the UNION of all probes' cells — at most `nlist` ints, collected
    *    driver-side (bounded by the index size, not the data) — prunes
    *    the store scan with a LITERAL `cell IN (…)` filter, the form
    *    parquet row-group stats can act on: a [[compactIvfStore]]-clustered
    *    store skips every row group whose cell range misses the probe
    *    set, exactly like the single-probe path;
    *  - one per-probe window top-k (`WindowGroupLimit` pushes the rank
    *    filter into the shuffle) ranks the candidates.
    *
    * An SQ8 store (codes-only layout, self-describing) ranks on the bare
    * cast-up codes against the FLOAT probe vectors: cosine is invariant
    * to the corpus row's per-vector scale, so `qscale` never loads and
    * the store-side scan reads 1/4 the bytes.
    *
    * FILTERED ANN (`rowFilter`): a relational predicate on stored columns
    * composes with the cell prune as a PRE-filter — the conjunction
    * `rowFilter && cell IN (…)` reaches the one store scan, so parquet
    * row-group stats prune on BOTH axes and ranking sees only qualifying
    * rows. Pre-filtering is the correct discipline: post-filtering a
    * top-k pool silently loses recall whenever fewer than k of the
    * unfiltered winners qualify ("top-k among docs WHERE lang = 'en'"
    * must rank the en docs, not intersect en with the global top-k).
    * Recall among sparse qualifiers is bought with nprobe, gated by
    * `q_sim_filtered_stored`'s filtered-brute-force twin.
    */
  def ivfProbeSetTopKStored(
      assigned: DataFrame,
      indexPath: String,
      probes: DataFrame,
      k: Int = 10,
      nprobe: Int = 4,
      rowFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = assigned.sparkSession
    import spark.implicits._
    val centroids = loadIvfIndex(spark, indexPath)
    val comparable =
      if (assigned.columns.contains("qvec") && !assigned.columns.contains("embedding"))
        assigned.withColumn("embedding", col("qvec").cast("array<float>"))
      else assigned
    val nearestCellsUdf = udf(nearestCellsAssigner(centroids, nprobe))
    val p = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      .select(col("probe_id"), col("probe_emb"),
        explode(nearestCellsUdf(col("probe_emb"))).as("cell"))
    // bounded collect: the probe set's distinct cells, ≤ nlist ints — the
    // literal IN list is what lets parquet row-group stats prune the
    // store scan (a join filter cannot)
    val unionCells = p.select(col("cell")).distinct().as[Int].collect().sorted
    val byProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    comparable
      .where(col("cell").isin(unionCells.toIndexedSeq.map(Integer.valueOf): _*) &&
        rowFilter)
      .join(broadcast(p), Seq("cell"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
      .withColumn("rk", row_number().over(byProbe))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** FILTERED ANN serve: [[ivfProbeSetTopKStored]] with the nprobe budget
    * scaled by INVERSE qualifier selectivity, capped at nlist. When the
    * predicate keeps 1-in-s store rows, each probed cell holds ~1/s as
    * many candidates and the filtered winners spread across ~s× more
    * cells, so a fixed nprobe silently loses recall exactly when the
    * filter matters most (the ACORN-style expansion rule: widen the
    * search by inverse selectivity). Pricing the selectivity costs ONE
    * column-pruned aggregate the FIRST time a (store, predicate) pair
    * serves; later serves price from [[selectivityCache]] (dropped on
    * maintenance swaps — see its staleness contract), so the
    * steady-state serve path runs exactly one store job. As sel → 0 the
    * probe degrades gracefully to an exhaustive — still ONE —
    * pruned-layout scan, never to a lost result.
    *
    * Like every stored probe: pre-filter semantics (the predicate joins
    * the cell prune IN the scan), per-probe recall gated vs the filtered
    * float truth by `q_sim_filtered_stored`.
    */
  def ivfProbeSetTopKStoredFiltered(
      assigned: DataFrame,
      indexPath: String,
      probes: DataFrame,
      rowFilter: Column,
      k: Int = 10,
      nprobe: Int = 4): DataFrame = {
    val nlist = loadIvfIndex(assigned.sparkSession, indexPath).length
    val (total, qual) = pricedSelectivity(assigned, indexPath, rowFilter)
    require(qual > 0, "ivfProbeSetTopKStoredFiltered: no store rows qualify")
    val scaled = math.min(nlist.toLong,
      math.ceil(nprobe * total.toDouble / qual).toLong).toInt
    ivfProbeSetTopKStored(assigned, indexPath, probes, k, scaled, rowFilter)
  }

  /** (total, qualifying) store rows for `rowFilter`, via
    * [[selectivityCache]] — one column-pruned aggregate on first serve of
    * a (store, predicate) pair, cache hits after.
    *
    * The key is (index artifact path, exprId-normalized predicate): the
    * artifact path pins the store (its readers pass the store's own rows
    * — the serve contract), and normalizing `#<exprId>` out of the
    * predicate string makes RESOLVED-attribute predicates
    * (`df("label") === 1` — fresh exprId per read) hit the cache like
    * unresolved ones, instead of silently re-pricing on every serve. A
    * plan-hash key would miss both and admit Int-hash cross-plan
    * collisions.
    */
  private def pricedSelectivity(
      assigned: DataFrame, indexPath: String, rowFilter: Column): (Long, Long) =
    fingerprinted(selectivityCache,
      (indexPath, rowFilter.toString.replaceAll("#\\d+", "")), indexPath) {
      selectivityPricings += 1
      val counts = assigned.agg(
        count(lit(1)).as("n"),
        count(when(rowFilter, 1)).as("nq")).head()
      (counts.getLong(0), counts.getLong(1))
    }

  /** Persist the PQ index (per-subspace codebooks) as parquet
    * `(subspace int, code int, centroid array<double>)` — m × k × (dim/m)
    * doubles, the whole index. Same durability contract as
    * [[saveIvfIndex]].
    */
  def savePqIndex(embeddings: DataFrame, path: String,
                  m: Int = 8, codebookK: Int = 32, sampleRows: Int = 2048): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val books = buildPqCodebooks(embeddings, m, codebookK, sampleRows)
    (for {
      j <- books.indices
      c <- books(j).indices
    } yield (j, c, books(j)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1)
      .storeWrite.mode("overwrite").parquet(path)
  }

  private val loadedPqCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Array[Array[Array[Double]]])]

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Array[Double]]] =
    fingerprinted(loadedPqCache, path, path) {
      val rows = spark.read.parquet(path)
        .orderBy(col("subspace"), col("code"))
        .collect()
      rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }
    }

  /** Scalar int8 quantization of the embedding column: per-vector scale
    * `127 / max|xᵢ|`, components rounded to `array<tinyint>`. 4× smaller
    * than float32 at rest and on the wire — at 100 TB of embeddings the
    * scan cost IS the similarity cost, so shrinking the column is the
    * first-order optimization (the same reason FAISS defaults to SQ8
    * storage). Cosine is invariant to the per-vector scale, so ranking
    * degrades only by rounding error — gated by `q_sim_quantized`'s
    * recall-vs-exact oracle, the same contract as IVF.
    */
  def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("__maxabs",
        greatest(array_max(transform(col("embedding"), x => abs(x))).cast("double"), lit(1e-30)))
      .withColumn("qvec",
        transform(col("embedding"),
          x => round(x.cast("double") * lit(127.0) / col("__maxabs")).cast("tinyint")))
      .drop("__maxabs")

  /** [[quantize]] plus the per-vector scale (`qscale` = maxabs/127) — the
    * LOSSY-STORE form. `qvec * qscale` reconstructs each component to
    * within half a quantization step, which is what store-maintenance ops
    * (re-assignment against a retrained quantizer) need; COSINE between
    * stored vectors needs no scale at all (a per-vector positive scale
    * cancels), so probes compare on the bare int8 codes cast up to float.
    */
  def quantizeWithScale(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("__maxabs",
        greatest(array_max(transform(col("embedding"), x => abs(x))).cast("double"), lit(1e-30)))
      .withColumn("qvec",
        transform(col("embedding"),
          x => round(x.cast("double") * lit(127.0) / col("__maxabs")).cast("tinyint")))
      .withColumn("qscale", (col("__maxabs") / lit(127.0)).cast("float"))
      .drop("__maxabs")

  /** Exact top-k over the QUANTIZED vectors — the brute-force kernel run on
    * the int8 representation (cast up to float only inside the codegen'd
    * cosine). Same plan shape as `bruteForceTopK`: broadcast probe, one
    * corpus scan, `TakeOrderedAndProject`.
    */
  def quantizedTopK(embeddings: DataFrame, probeId: Long, k: Int = 10): DataFrame = {
    val q = quantize(embeddings)
      .select(col("vec_id"), col("qvec").cast("array<float>").as("qf"))
    val probe = q.where(col("vec_id") === probeId).select(col("qf").as("probe_qf"))
    q.where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("qf"), col("probe_qf")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch (probe-set) IVF top-k: N probes against the corpus in ONE pass —
    * the shape a training-data pipeline actually runs (dedup a candidate
    * batch against the corpus, retrieve neighbors for N queries).
    *
    * No per-probe driver work: the corpus is cell-assigned once; each probe
    * computes its own `nprobe` nearest cells distributively (a UDF over the
    * closure-captured centroid matrix), then EXPLODES to one (probe, cell)
    * row so the candidate join is an EQUI-join on `cell` — a hash join,
    * never a nested-loop scan of every probe's cell array per corpus row.
    * Each corpus vector lives in exactly one cell and a probe's `nprobe`
    * cells are distinct centroid indices, so the equi-join yields each
    * (probe, vec) candidate at most once — no post-join dedup needed. A
    * per-probe window top-k then ranks candidates.
    *
    * Per probe the scan touches ~nprobe/nlist of the data, and adding
    * probes grows only the probe side and the candidate set — never a
    * corpus re-scan — so cost is sublinear in probe count. The probe side
    * is broadcast here (nprobe rows per probe: tiny into the tens of
    * thousands of probes); past broadcast size the same equi-join degrades
    * gracefully to a shuffled hash join on `cell` by dropping the hint —
    * the property the old `array_contains` nested-loop join lacked.
    */
  def ivfProbeSetTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleRows: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = buildCentroids(embeddings, nlist, sampleRows)
    val nearestCellsUdf = udf(nearestCellsAssigner(centroids, nprobe))
    val assigned = embeddings.withColumn("cell", nearestCellUdf(centroids)(col("embedding")))
    val p = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      .select(col("probe_id"), col("probe_emb"),
        explode(nearestCellsUdf(col("probe_emb"))).as("cell"))
    val byProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    assigned
      .join(broadcast(p), Seq("cell"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
      .withColumn("rk", row_number().over(byProbe))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** Per-corpus PQ codebook cache, same contract as `centroidCache`: the
    * codebooks ARE the index, built once per (corpus, m, k) and reused by
    * every encode/probe — deterministic by construction (ordered sample,
    * seed-free k-means per subspace), so a hit cannot change results.
    */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int, Int), Array[Array[Array[Double]]]]

  /** Product-quantization codebooks: split the `dim`-dim space into `m`
    * subspaces of dim/m and k-means a `k`-entry codebook per subspace on a
    * bounded ordered sample (the only collect — m·k·(dim/m) doubles, the
    * index itself). Reuses the deterministic [[kmeans]].
    */
  private[graft] def buildPqCodebooks(
      embeddings: DataFrame, m: Int, k: Int,
      sampleRows: Int = 2048): Array[Array[Array[Double]]] = {
    val key = (embeddings.queryExecution.analyzed.semanticHash(), m, k)
    pqCache.getOrElseUpdate(key, {
      // hash-ordered unbiased selection, id-ordered init — see buildCentroids
      val sample = embeddings
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(sampleRows)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      val dim = sample.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val sub = dim / m
      Array.tabulate(m) { j =>
        kmeans(sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), k)
      }
    })
  }

  /** PQ approximate top-k via ADC (asymmetric distance computation) — the
    * third rung of the ANN compression ladder after IVF (touch less) and
    * int8 (store less): each vector compresses to `m` small codes
    * (m·log₂k bits ≈ 8 bytes here vs 256 for float32, a 32× reduction),
    * and a probe scores a row by summing m lookup-table entries instead of
    * a d-term dot product. The LUT (dot and norm contributions of every
    * codeword against the probe's subvectors) is built once on the driver
    * per probe — m·k doubles — and rides to executors in the task closure,
    * exactly how a 1000-executor deployment ships it. The corpus pass is
    * one map (encode + LUT sum) into `TakeOrderedAndProject`; nothing
    * shuffles. Approximation is recall-gated against the float truth like
    * the IVF and int8 tiers.
    */
  def pqTopK(
      embeddings: DataFrame, probeId: Long, kTop: Int = 10,
      m: Int = 8, codebookK: Int = 32, rerank: Int = 10): DataFrame =
    pqTopKWith(embeddings, buildPqCodebooks(embeddings, m, codebookK),
      probeId, kTop, rerank)

  /** [[pqTopK]] probing a PERSISTED codebook artifact — load, no retrain. */
  def pqTopKPersisted(
      embeddings: DataFrame, indexPath: String, probeId: Long,
      kTop: Int = 10, rerank: Int = 10): DataFrame =
    pqTopKWith(embeddings, loadPqIndex(embeddings.sparkSession, indexPath),
      probeId, kTop, rerank)

  /** PQ encoder over the embedding column: each vector becomes `m` small
    * codes (nearest codeword per subspace). One unboxed JVM loop per row,
    * shared by the in-memory probe path and the stored-index ingest so the
    * two can never encode differently.
    */
  private def pqEncodeUdf(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val sub = books(0)(0).length
    udf { (vSeq: Seq[Float]) =>
      val v = vSeq.toArray // primitive copy — see VectorOps.lshSigScala (boxed Seq apply ran m·k·sub× per row)
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        val bk = books(j)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < bk.length) {
          var d = 0.0; var t = 0
          while (t < sub) { val x = v(j * sub + t) - bk(c)(t); d += x * x; t += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(j) = best
        j += 1
      }
      codes
    }
  }

  /** PQ reconstruction (codes → concatenated codewords, as float) — what
    * store maintenance needs to re-assign coded rows against a retrained
    * coarse quantizer. Reconstruction error is the quantization error; the
    * codes themselves pass through maintenance untouched.
    */
  private def pqDecodeUdf(books: Array[Array[Array[Double]]]) = {
    val m = books.length
    val sub = books(0)(0).length
    udf { (codes: Seq[Int]) =>
      val out = new Array[Float](m * sub)
      var j = 0
      while (j < m) {
        val cw = books(j)(codes(j))
        var t = 0
        while (t < sub) { out(j * sub + t) = cw(t).toFloat; t += 1 }
        j += 1
      }
      out.toSeq
    }
  }

  /** One probe's ADC tables: dot and norm contributions of every codeword
    * against the probe's subvectors (m·k doubles each) plus the probe
    * norm — built once on the driver per probe, shipped in the task
    * closure.
    */
  private type PqLuts = (Array[Array[Double]], Array[Array[Double]], Double)

  /** THE LUT builder — single-probe ([[pqAdcUdf]]) and batch
    * ([[ivfPqProbeSetTopKStored]]) ADC scoring both build their tables
    * here, so a future change to the dot/norm math lands in both paths or
    * neither.
    */
  private def pqLuts(books: Array[Array[Array[Double]]],
                     probeVec: Array[Double]): PqLuts = {
    val m = books.length
    val codebookK = books(0).length
    val sub = books(0)(0).length
    val dotLut = Array.tabulate(m, codebookK) { (j, c) =>
      var s = 0.0; var t = 0
      while (t < sub) { s += probeVec(j * sub + t) * books(j)(c)(t); t += 1 }
      s
    }
    val normLut = Array.tabulate(m, codebookK) { (j, c) =>
      var s = 0.0; var t = 0
      while (t < sub) { s += books(j)(c)(t) * books(j)(c)(t); t += 1 }
      s
    }
    (dotLut, normLut, math.sqrt(probeVec.map(x => x * x).sum))
  }

  /** THE ADC cosine formula over a row's codes — m LUT lookups + adds,
    * shared by every ADC scorer.
    */
  private def adcCosine(luts: PqLuts, codes: Seq[Int]): Double = {
    val (dotLut, normLut, qnorm) = luts
    var dot = 0.0; var nrm = 0.0; var j = 0
    while (j < dotLut.length) {
      val c = codes(j); dot += dotLut(j)(c); nrm += normLut(j)(c); j += 1
    }
    if (nrm <= 0 || qnorm <= 0) 0.0 else dot / (qnorm * math.sqrt(nrm))
  }

  /** ADC scorer for one probe: the per-probe LUT turns a row's score into
    * m lookups + adds. Shared by the in-memory and stored PQ probe paths.
    */
  private def pqAdcUdf(books: Array[Array[Array[Double]]],
                       probeVec: Array[Double]) = {
    val luts = pqLuts(books, probeVec)
    udf { (codes: Seq[Int]) => adcCosine(luts, codes) }
  }

  private def pqTopKWith(
      embeddings: DataFrame, books: Array[Array[Array[Double]]],
      probeId: Long, kTop: Int, rerank: Int): DataFrame = {
    val encode = pqEncodeUdf(books)
    val probeRows = embeddings.where(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>")).collect()
    require(probeRows.nonEmpty, s"probe vec_id=$probeId not found in embeddings")
    val probeVec = probeRows.head.getSeq[Double](0).toArray
    val adcScore = pqAdcUdf(books, probeVec)
    // ADC is the coarse pass: keep a rerank·kTop candidate pool on the
    // compressed representation (TakeOrderedAndProject — corpus never
    // shuffles), then re-rank the pool with EXACT float cosine. This is
    // the FAISS "refine" discipline and the engine's candidate-then-verify
    // shape: exact math touches rerank·kTop rows, not the corpus.
    val probe = embeddings.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_emb"))
    val pool = embeddings
      .where(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("embedding"),
        adcScore(encode(col("embedding"))).as("pq_cosine"))
      .orderBy(col("pq_cosine").desc, col("vec_id"))
      .limit(rerank * kTop)
    pool
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(kTop)
  }
}
