package graft.operators

import graft.functions.{TextFunctions => TF, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import StoredTable.StoreWriter

/** Deduplication suite for training-data pipelines.
  *
  * Five dedup modes over `documents(doc_id, text, ...)` /
  * `embeddings(vec_id, embedding, ...)`:
  *
  *   - exact:      hash-groupBy on md5(text) — one shuffle.
  *   - minhash:    shingle → minhash signature → banded LSH → bucket join.
  *   - simhash:    64-bit simhash → band blocking → Hamming-distance filter.
  *   - ngram:      exact n-gram Jaccard, evaluated only on LSH candidates.
  *   - embedding:  cosine near-dup via random-hyperplane buckets.
  *
  * Scale design: every fuzzy mode is CANDIDATE-GENERATION (bucket join on a
  * short key) followed by per-pair verification. Nothing here is O(n²) —
  * pairs only materialize inside a bucket, so 100 TB of documents shuffles
  * by band key (bounded fanout) rather than cross-joining. Skewed buckets
  * (e.g. boilerplate shingles) are capped via `MaxBucket` before pairing.
  */
object Dedup {
  import StoredTable.{ManifestIo, deleteRowsFromStore, deleteRowsFromStoreJoin, readStore,
    retainStoreBatches}

  /** Largest LSH bucket we will FULLY pair-expand. A bucket of b docs
    * yields b(b-1)/2 pairs; above this, the bucket degrades to a linear
    * star (min id paired with every other member) — O(b) pairs that keep
    * the duplicate family connected for dedup without the quadratic blowup
    * from degenerate content (boilerplate, thousand-copy documents).
    */
  val MaxBucket = 64

  /** DEFAULT hash-mod partition fanout of the STORED band/doc indexes
    * (the [[minhashStreamKeep]] layout): band rows land under
    * `bands/batch=<id>/bh_mod=<band_hash % nMods>` and doc artifact rows
    * under `docs/batch=<id>/did_mod=<doc_id % nMods>`, so a probe prunes
    * the store to the partitions its own band hashes / candidate ids can
    * touch. A fixed-size batch touches at most `batch × bands` DISTINCT
    * band hashes, so its pruned scan reads ≈ `min(batch·bands, nMods)/
    * nMods` of the index — sizing nMods ∝ index keeps the probe flat at
    * any scale (measured across three decades in the steady-state dedup harness). 16
    * keeps per-batch file counts sane at test scale; a 100 TB index uses
    * hundreds to thousands. The fanout is a STORE parameter: pinned in
    * `<idxDir>/nmods` at seed time and read back by every probe/append,
    * so a consumer can never partition with a different modulus than the
    * store was built with.
    */
  val NMods = 16

  /** The store's pinned fanout file (written by [[seedStreamStores]]);
    * stores created before the parameter existed default to [[NMods]].
    */
  private val nModsIo = new ManifestIo("store fanout", "nmods")
  private def storeNMods(idxDir: String): Int =
    if (nModsIo.exists(idxDir)) nModsIo.read(idxDir).toInt else NMods

  /** Manifest pinned next to a pre-banded STREAM INDEX store
    * ([[minhashStreamKeep]]'s layout). Band rows are a pure function of
    * (text, n, perms, bands): a consumer probing or appending with
    * different shingle/permutation/banding parameters than the store was
    * seeded with gets silently wrong candidate sets, so all three are
    * pinned at seed time together with the partition fanout, and every
    * probe/append asserts them — the same loud-drift contract
    * [[StoreManifest]] gives the artifact store. `nMods` is a property OF
    * the store (consumers read it, they don't declare it), so `check`
    * renders the consumer's params against the store's own pinned fanout.
    */
  object IndexManifest {
    private val io = new ManifestIo("stream index store", "index_manifest.json")
    private def render(n: Int, perms: Int, bands: Int, nMods: Int): String =
      io.render("n" -> n, "perms" -> perms, "bands" -> bands, "nmods" -> nMods)
    def write(root: String, n: Int, perms: Int, bands: Int, nMods: Int): Unit =
      io.write(root, render(n, perms, bands, nMods))
    def check(root: String, n: Int, perms: Int, bands: Int): Unit =
      io.check(root, render(n, perms, bands, storeNMods(root)))
    /** One-shot migration for a pre-manifest (pre-round-11) store whose
      * build params the operator KNOWS: pin them together with the store's
      * own `nmods` file (which legacy stores do carry) so probes stop
      * refusing. Refuses to touch a store that already has a manifest —
      * migration exists for stores with none, not as a drift-check bypass.
      */
    def migrateLegacy(root: String, n: Int, perms: Int, bands: Int): Unit = {
      if (io.exists(root))
        throw new IllegalStateException(
          s"stream index store at $root already has a manifest — " +
            "migrateLegacy is only for pre-manifest stores")
      write(root, n, perms, bands, storeNMods(root))
    }
  }
  /** `(doc_id, band, band_hash)` rows of a signature table — the banded
    * form every LSH tier buckets on: `bands` slices of `perms/bands`
    * signature positions, each hashed to one 64-bit band key.
    */
  private def bandRows(sigs: DataFrame, perms: Int, bands: Int): DataFrame = {
    val rows = perms / bands
    sigs.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "band_hash")))
  }

  /** Precomputed dedup artifact tables, shared across tiers and queries.
    *
    * Every fuzzy tier starts from one of three pure functions of the
    * corpus text: shingle sets, minhash signatures, content-defined
    * windows. A 100 TB curation pipeline computes these ONCE at ingest
    * and stores them next to the corpus (they append — see
    * [[minhashIncremental]]); each dashboard query then reads the stored
    * table instead of re-deriving it from raw text. The `Option[Artifacts]`
    * parameters below accept such a store; `None` keeps the self-contained
    * derive-from-text behavior.
    *
    * Contract: `sigs(doc_id, sig)` from [[sigTable]] (same n/perms as the
    * consumer), `shingles(doc_id, sh)` from [[shingleTable]] (same n),
    * `winsPos(doc_id, pos, win)` from [[windowTable]] (same width).
    */
  final case class Artifacts(sigs: DataFrame, shingles: DataFrame, winsPos: DataFrame)

  /** Parameters a dedup artifact store was built with. Signatures, shingle
    * sets, windows and the census are pure functions of (text, params) —
    * a consumer reading a store built with DIFFERENT params gets silently
    * wrong candidates, so the params are pinned next to the store and
    * asserted on every read (see [[StoreManifest]]).
    *
    * `censusThr`: the standing-corpus id threshold the `census80` artifact
    * was aggregated under (Long.MinValue when no census was built).
    */
  final case class StoreParams(
      version: Int, n: Int, perms: Int, width: Int,
      selection: String, censusThr: Long)

  /** Manifest file pinned next to a dedup artifact store. `write` records
    * the build params; `check` re-renders the consumer's declared params
    * and THROWS on any drift — a store/consumer parameter mismatch fails
    * loudly instead of returning silently wrong candidate sets.
    */
  object StoreManifest {
    private val io = new ManifestIo("dedup store", "manifest.json")
    private def render(p: StoreParams): String =
      io.render("version" -> p.version, "n" -> p.n, "perms" -> p.perms,
        "width" -> p.width, "selection" -> p.selection, "censusThr" -> p.censusThr)
    def write(root: String, p: StoreParams): Unit = io.write(root, render(p))
    def check(root: String, expected: StoreParams): Unit = io.check(root, render(expected))
  }

  /** MinHash signature table — `(doc_id, sig: array<long>)`, docs whose
    * text yields no shingles excluded. Pure function of text; the stored
    * form appends under ingest.
    */
  def sigTable(docs: DataFrame, n: Int = 3, perms: Int = 32): DataFrame =
    docs
      .select(col("doc_id"), TF.minhashSig(col("text"), n, perms).as("sig"))
      .where(col("sig").isNotNull)

  /** Word-shingle-set table — `(doc_id, sh: array<string>)`, one row per
    * input doc (empty sets kept: verify joins want every candidate id).
    */
  def shingleTable(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), TF.shingles(col("text"), n).as("sh"))

  /** Content-defined window table — `(doc_id, pos, win)`: every
    * `width`-char window whose Karp-Rabin hash ≡ 0 (mod 16) — the
    * winnowing-family 1/16 sample (see [[substringDupPairs]]) — WITH
    * positions so both the pair/mass tiers (which drop `pos`) and the
    * excision tier (which needs it) read the same store.
    *
    * Selection runs in the [[graft.functions.KrWindowPositions]] native
    * expression: ONE rolling O(n) pass per document emitting only the
    * selected positions, replacing the original md5-per-position form
    * (O(n·width) digest bytes — the substring family's dominant CPU at
    * lake scale). Only the selected 1/16 of positions ever explode or
    * slice a window string.
    */
  def windowTable(docs: DataFrame, width: Int = 40): DataFrame =
    docs
      .where(length(col("text")) >= width)
      .select(col("doc_id"),
        explode(graft.functions.Expressions.krWindowPositions(col("text"), width)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos"), lit(width)).as("win"))

  /** The original md5-nibble selection — kept as the SPEC TWIN: tests
    * assert the rolling-hash form has the same selection rate and the
    * same content-defined (alignment-independent) property as this
    * reference form. Not used by any query path.
    */
  private[graft] def windowTableMd5(docs: DataFrame, width: Int = 40): DataFrame =
    docs
      .where(length(col("text")) >= width)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - width + 1)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos"), lit(width)).as("win"))
      .where(substring(md5(col("win")), 1, 1) === "0")

  /** Exact dedup: keep the smallest doc_id per content hash.
    * One hash aggregation; partial aggregation does the heavy lifting
    * map-side, so the shuffle carries one row per distinct hash.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Exact dedup on NORMALIZED text (lowercase, whitespace collapsed) —
    * catches trivially-reformatted copies that byte-exact hashing misses;
    * the standard first pass before fuzzy dedup.
    */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Expand each LSH bucket's doc-id list into ordered candidate pairs —
    * expression-only (no UDF): for each id, pair with every larger id.
    */
  private[graft] def testBucketPairs(grouped: DataFrame): DataFrame = bucketPairs(grouped)

  private def bucketPairs(grouped: DataFrame): DataFrame = {
    val allPairs = flatten(transform(col("ids"),
      a => filter(col("ids"), b => b > a).pipe(bs => transform(bs, b => struct(a.as("a"), b.as("b"))))))
    val starPairs = transform(
      filter(col("ids"), b => b > array_min(col("ids"))),
      b => struct(array_min(col("ids")).as("a"), b.as("b")))
    grouped
      .where(size(col("ids")) > 1)
      .select(explode(when(size(col("ids")) <= MaxBucket, allPairs)
        .otherwise(starPairs)).as("pair"))
      .select(col("pair.a").as("doc_a"), col("pair.b").as("doc_b"))
      .distinct()
  }

  // `pipe` helper for readability of nested transforms
  implicit private class Piped[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }

  /** MinHash + banded LSH candidate pairs with signature-estimated Jaccard.
    *
    * shingle(n words) → `perms` minhash values → `bands` bands of
    * `perms/bands` rows; docs sharing any band hash become candidates; the
    * estimated Jaccard = fraction of matching signature positions. Standard
    * MinHash-LSH (Broder; MMDS ch.3).
    */
  def minhashCandidates(
      docs: DataFrame,
      n: Int = 3,
      perms: Int = 32,
      bands: Int = 8,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None,
      art: Option[Artifacts] = None): DataFrame = {
    val sigs = art.map(_.sigs).getOrElse(docs
      .pipe(d => sigTable(d, n, perms))
      // materialize: signatures feed the band explode AND both pair-verify
      // join sides; without the cache barrier Catalyst's projection collapse
      // inlines (= recomputes) the signature into every consumer. The
      // signature table is docs × perms longs, tiny next to the corpus, so
      // caching it is the 100 TB plan too — or, better, the stored
      // `Artifacts` form.
      .persist())
    val banded = bandRows(sigs, perms, bands)
    val pairs = bucketPairs(
      banded.groupBy(col("band"), col("band_hash")).agg(collect_list(col("doc_id")).as("ids")))
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val cands = pairs
      .join(sa, "doc_a")
      .join(sb, "doc_b")
      .withColumn("est_jaccard",
        TF.sigEqCount(col("sig_a"), col("sig_b")).cast("double") / perms)
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
    // optional EXACT verification (candidate-then-verify, the production
    // contract): the estimator's ±1/√perms noise means a corpus-tuned
    // est-threshold stand-in for "J ≥ t" is only as good as the corpus's
    // separation gap — at small scale a single unrelated pair estimating
    // high breaks it. Verifying the (candidate-bounded, tiny) pair set
    // against real shingle sets makes the output exact at ANY scale, for
    // one extra join that never touches non-candidate rows' pair space.
    verifyJaccard.fold(cands) { t =>
      val sh = art.map(_.shingles).getOrElse(shingleTable(docs, n).persist())
      cands
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= t)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    }
  }

  /** INCREMENTAL fuzzy dedup — the production shape for a growing lake:
    * dedup a new batch against the already-deduped corpus (and itself)
    * WITHOUT ever re-pairing corpus×corpus. The corpus contributes only
    * its banded signature index (in production: precomputed and stored —
    * signatures are pure functions of text, so the index appends); the
    * increment's bands probe it, candidates verify by signature-estimated
    * Jaccard, and an increment doc drops if it matches the corpus or an
    * EARLIER increment doc (id order = arrival order, the keep-first rule).
    * Per-increment cost is O(increment bands + bucket collisions) —
    * independent of corpus size beyond the index lookups.
    */
  def minhashIncremental(
      corpus: DataFrame,
      increment: DataFrame,
      n: Int = 3,
      perms: Int = 32,
      bands: Int = 8,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None): DataFrame = {
    def sigsOf(df: DataFrame, isInc: Boolean) =
      sigTable(df, n, perms).withColumn("is_inc", lit(isInc))
    val allSigs = sigsOf(corpus, isInc = false)
      .unionByName(sigsOf(increment, isInc = true))
    lazy val allSh = shingleTable(
      corpus.select(col("doc_id"), col("text"))
        .unionByName(increment.select(col("doc_id"), col("text"))), n)
    probeDrops(allSigs, allSh, perms, bands, minEstJaccard, verifyJaccard)
  }

  /** The in-memory probe core of [[minhashIncremental]]: increment rows
    * (`is_inc`) band-probe the combined signature set, candidates estimate
    * by signature agreement and optionally exact-verify against shingle
    * sets; returns the DISTINCT increment doc_ids to DROP (matched the
    * standing side, or an earlier-id increment doc). `allShingles` is
    * by-name — only evaluated when verification is requested. The result
    * is MATERIALIZED (drops are bounded by the increment) so every cached
    * intermediate can be released before returning — a long-lived caller
    * leaks nothing.
    *
    * The STORED twin is [[minhashStreamBatch]]/[[minhashIncrementalStored]]:
    * there the band index is persisted pre-banded with buckets capped at
    * append time, so no per-probe ranking happens at all.
    */
  private def probeDrops(
      allSigsIn: DataFrame,        // (doc_id, sig, is_inc)
      allShingles: => DataFrame,   // (doc_id, sh)
      perms: Int,
      bands: Int,
      minEstJaccard: Double,
      verifyJaccard: Option[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allSigs = allSigsIn
      .persist() // the signature index: feeds band explode + both verify sides
    val banded = allSigs.select(col("doc_id"), col("is_inc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * (perms / bands) + 1, lit(perms / bands)))))
        .as(Seq("band", "band_hash")))
    val probe = banded.where(col("is_inc"))
      .select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    // skew cap, parity with bucketPairs' MaxBucket star degradation: an
    // uncapped band join would pair every probe doc in a hot (boilerplate)
    // bucket with EVERY index doc in it — b×N pairs from one degenerate
    // band key. Retained members per bucket: STANDING-CORPUS rows first
    // (a_inc=false), then id order, capped at MaxBucket — the corpus-
    // preferential order guarantees a probe doc is always checked against
    // the standing corpus members of its bucket, never crowded out by
    // other increment arrivals. A probe doc whose only true match was
    // capped out can still be spuriously kept — the same documented
    // probabilistic trade as the batch tier's star degradation (families
    // share MANY bands, so one capped bucket rarely severs them).
    // Cost honesty: row_number ranks the full band set — ONE shuffle of
    // O(n·bands) narrow rows per incremental call, paid because this form
    // receives the corpus as raw text. The stored form pre-caps buckets at
    // append time and never re-ranks ([[minhashStreamBatch]]).
    val byPriority = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(col("is_inc"), col("doc_id"))
    val members = banded
      .withColumn("rk", row_number().over(byPriority))
      .where(col("rk") <= MaxBucket)
      .select(col("doc_id").as("doc_a"), col("is_inc").as("a_inc"),
        col("band"), col("band_hash"))
    // doc_a =!= doc_b: ids are assumed disjoint between corpus and
    // increment, but if an increment doc REUSES a corpus doc_id the
    // corpus-side self-pair (a_inc=false, doc_a == doc_b) would pass the
    // keep-first filter and spuriously drop the increment doc at J=1.0;
    // excluding self-pairs makes an id collision degrade loudly (doc kept,
    // visible in reconciliation) instead of silently losing data.
    // broadcast the PROBE side: increment bands are O(batch × bands) —
    // bounded by ingest batch sizing — while the member side is the corpus;
    // shipping the batch to the index is the only direction that scales
    val cand = broadcast(probe).join(members, Seq("band", "band_hash"))
      .where(col("doc_a") =!= col("doc_b") &&
        (!col("a_inc") || col("doc_a") < col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = allSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = allSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val est = cand.join(sa, "doc_a").join(sb, "doc_b")
      .where(TF.sigEqCount(col("sig_a"), col("sig_b")).cast("double") / perms >= minEstJaccard)
      .select(col("doc_a"), col("doc_b"))
    // same optional exact-verify as minhashCandidates: candidate pairs are
    // already increment-bounded, so the shingle join re-reads text only for
    // docs that banded together — the corpus at large never re-pairs
    val shCache = verifyJaccard.map(_ => allShingles.persist())
    val verified = (verifyJaccard, shCache) match {
      case (Some(t), Some(sh)) =>
        est
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))) >= t)
          .select(col("doc_a"), col("doc_b"))
      case _ => est
    }
    // eager local checkpoint: materializes the (small) drop set NOW so the
    // caches below can be released — without it, every invocation leaked
    // one cached union frame for the caller's lifetime
    val drops = verified.select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    allSigs.unpersist()
    shCache.foreach(_.unpersist())
    drops
  }

  /** STREAMING fuzzy dedup — the ingest-time shape of the whole family:
    * documents arrive as a file stream in id order (the arrival-ordered-id
    * property ULID ingest provides); each micro-batch computes its minhash
    * signatures, band-probes the APPEND-ONLY signature index of every
    * earlier arrival, exact-verifies candidates against the shingle index,
    * appends its survivors to the accepted table — and appends ALL its
    * docs' signatures/shingles to the index (the drop rule is "similar to
    * ANY earlier arrival", which makes the result invariant to how the
    * stream is split into batches).
    *
    * With arrival order = id order, the accepted set provably equals the
    * batch greedy keep-first dedup ([[minhashDeduped]]): candidate
    * generation is the identical band computation whether two docs meet
    * within one batch (`doc_a < doc_b`) or across batches (index probe),
    * so the streamed union of per-batch drops is exactly the batch drop
    * set. That equality is what the oracle checks.
    *
    * Scale shape — the index is stored PRE-BANDED: three parquet tables,
    * `bands/batch=<id>/bh_mod=<m>` holding `(band, band_hash, doc_id)`
    * rows with every bucket CAPPED at [[MaxBucket]] members at APPEND
    * time, plus the per-doc artifacts split by column weight —
    * `sigs/batch=<id>/did_mod=<m>` `(doc_id, sig)` for the est filter and
    * `shingles/batch=<id>/did_mod=<m>` `(doc_id, sh)` read only for
    * est-passing pairs.
    * Once the index outgrows the batch ([[StoredProbeRatio]]), a
    * micro-batch never re-derives band keys or re-aggregates buckets over
    * history: its probe is a partition-pruned, column-pruned scan of the
    * band store streamed past a BROADCAST of the batch's band keys (no
    * shuffle of the index, ever), and candidate signatures/shingles are
    * fetched from the doc store pruned to the candidates' `did_mod`
    * partitions. Per-batch shuffle work is O(batch bands + bucket
    * collisions) — independent of index size; the residual per-batch term
    * is the pruned columnar scan, which a production deployment bounds by
    * sizing [[NMods]] to the index. In the small-index regime (bootstrap /
    * proportional re-ingest) the same cap-and-probe semantics run as one
    * scan-and-aggregate job instead ([[scanProbe]]) — the selectivity
    * trade a database makes between an index lookup and a hash scan.
    * REPLAY-IDEMPOTENT by construction: a replayed batch overwrites its
    * OWN partitions and probes only earlier ones (see
    * [[minhashStreamBatch]]) — the exactly-once-effect contract of the
    * MERGE sink, without needing a fresh work dir.
    */
  def minhashStreamKeep(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      keepCols: Seq[String],
      n: Int = 3,
      perms: Int = 32,
      bands: Int = 8,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None): DataFrame = {
    val idxDir = s"$workDir/index" // ONE combined (doc_id, sig, sh) table:
                                   // per batch, one append and one read —
                                   // micro-batch cost is job-count-bound
    val accDir = s"$workDir/accepted"
    // per-batch joins move <= corpus-index rows; at 32 shuffle partitions
    // each micro-batch pays dozens of near-empty tasks — size to the
    // batch, not the session (lock-guarded: [[withShufflePartitions]])
    withShufflePartitions(spark, 8) {
      minhashStreamKeepRun(spark, inputDir, idxDir, accDir,
        keepCols, n, perms, bands, minEstJaccard, verifyJaccard)
    }
    spark.read.parquet(accDir).drop("batch")
  }

  /** Combined per-doc index row for the streaming path: signature AND
    * shingle set in one table (docs with no shingles — null sig — are
    * excluded; they cannot pair).
    */
  private def indexTable(docs: DataFrame, n: Int, perms: Int): DataFrame =
    docs
      .select(col("doc_id"), TF.minhashSig(col("text"), n, perms).as("sig"),
        TF.shingles(col("text"), n).as("sh"))
      .where(col("sig").isNotNull)

  private def minhashStreamKeepRun(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String, idxDir: String, accDir: String,
      keepCols: Seq[String], n: Int, perms: Int, bands: Int,
      minEstJaccard: Double, verifyJaccard: Option[Double]): Unit = {
    val static = spark.read.parquet(inputDir)
    seedStreamStores(static, idxDir, accDir, keepCols, n, perms, bands = bands)
    val q = spark.readStream
      .schema(static.schema)
      .option("maxFilesPerTrigger", 2) // two arrival slices per micro-batch
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", s"$accDir/../_chk")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        minhashStreamBatch(batch, batchId, idxDir, accDir,
          keepCols, n, perms, bands, minEstJaccard, verifyJaccard)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private def bandsDir(idxDir: String) = s"$idxDir/bands"
  private def sigsDir(idxDir: String)  = s"$idxDir/sigs"
  private def shsDir(idxDir: String)   = s"$idxDir/shingles"

  /** Index-vs-batch size ratio above which a batch probes the stored
    * pre-banded index (pruned bucket lookups) instead of scanning it.
    * The same selectivity call a database makes between an index
    * nested-loop and a hash scan: re-ingesting a corpus in a few
    * proportional mega-batches touches most buckets anyway — one
    * scan-and-aggregate job is strictly cheaper — while a fixed-size
    * batch against a grown index touches almost none of it, and the
    * pruned probe's per-batch cost stays flat as the index grows
    * (measured in the steady-state dedup harness).
    */
  val StoredProbeRatio = 4L

  /** Batch-TTL retention for the STORED SEMANTIC-DEDUP index: aged cell
    * batches drop metadata-only ([[StoredTable.retainStoreBatches]]); the trained
    * centroids are a QUANTIZER — valid over any subset — so probes
    * against the retained store behave exactly as if the aged vectors
    * were never ingested: a new clone of an aged vector passes FREE, a
    * clone of a retained vector still drops. The centroid cache is
    * invalidated so later probes reload against the shrunken store's
    * artifact path cleanly.
    */
  def retainSemStoreBatches(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, cutoff: Long): Seq[Long] =
    retainStoreBatches(spark, s"$storeDir/cells", "retainSemStoreBatches",
      cutoff, () => Similarity.invalidateIvfIndexDurably(spark, s"$storeDir/centroids"))

  /** Batch-TTL retention for the streamed SUBSTRING-CENSUS delta store:
    * aged delta batches drop metadata-only. The census the probes read
    * is the SUM over batch deltas, and each batch's delta counts only
    * its own docs' windows, so the retained sum EQUALS the census over
    * the retained docs — exact aging, same argument as the text index's
    * stats rows. Composition caveat (documented, conservative):
    * [[deleteFromCensusStore]] consolidates affected slices into the
    * NEWEST batch, so consolidated old deltas outlive a later lower
    * cutoff — retain-too-much, never under-count.
    */
  def retainCensusStoreBatches(spark: org.apache.spark.sql.SparkSession,
                               path: String, cutoff: Long): Seq[Long] =
    retainStoreBatches(spark, path, "retainCensusStoreBatches", cutoff)

  /** Right-to-erasure for the STORED MinHash band index: remove every
    * trace of `docIds` from all three index tables — band rows
    * (`bands/batch=/bh_mod=`), signatures and shingles
    * (`sigs|shingles/batch=/did_mod=`) — by file-targeted rewrite
    * ([[StoredTable.deleteRowsFromStore]]); no re-banding, no re-aggregation, cold
    * files byte-identical. The `did_mod` tables' victim scans prune to the
    * ids' own partitions (did_mod = id % nMods — the probe discipline
    * applied to the delete). Future probes simply never see the victims:
    * bucket caps were applied at append time and stay valid (deletion only
    * shrinks buckets). Returns the number of deleted doc rows (= victims
    * present, from the 1-row-per-doc sigs table).
    */
  def deleteFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      idxDir: String,
      docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "deleteFromMinhashIndex: empty id set")
    val nMods = storeNMods(idxDir)
    val victims = docIds.distinct
    val vIds = victims.map(java.lang.Long.valueOf)
    // floorMod, not JVM remainder: the store writes did_mod = pmod(doc_id,
    // nMods), which is non-negative — a negative doc_id under `%` would
    // compute a negative mod, miss the victim's real partition, and leave
    // sigs/shingles rows silently alive (an erasure violation)
    val mods = victims.map(d => Math.floorMod(d, nMods.toLong).toInt).distinct
      .map(Integer.valueOf)
    val vc = col("doc_id").isin(vIds: _*)
    // did_mod-partitioned tables: conjoin the partition prune so the
    // victim scan reads only the ids' own partitions
    val vcMod = vc && col("did_mod").isin(mods: _*)
    eraseIndexTables(spark, idxDir) { (t, dir, opName, partitionCols, cluster) =>
      deleteRowsFromStore(spark, dir, opName, if (t == "bands") vc else vcMod,
        partitionCols, cluster)
    }
  }

  /** The band-index erasure over its three tables, `erase` applying one
    * victim form to one table `(name, dir, opName, partitionCols,
    * clusterCols)`. Every table pre-flights before any erases, so a
    * leftover on one refuses the whole erasure with the store unchanged.
    * The tables are independent (no cross-table derivation — each erases
    * its own rows through its own swap), so their pricing scans and
    * rewrites OVERLAP on the writer pool instead of running back to back;
    * a crash leaving a subset erased is the same conservative,
    * idempotently-retryable state the serial order left (victims without
    * band rows can never be matched against). Returns the doc rows
    * deleted, from the 1-row-per-doc sigs table.
    */
  private def eraseIndexTables(spark: org.apache.spark.sql.SparkSession, idxDir: String)(
      erase: (String, String, String, Seq[String], Seq[String]) => Long): Long = {
    val tables = Seq(("bands", "bh_mod", Seq("band_hash", "doc_id")),
      ("sigs", "did_mod", Seq("doc_id")), ("shingles", "did_mod", Seq("doc_id")))
    tables.foreach { case (t, _, _) =>
      StoredTable.preflightErasure(spark, s"$idxDir/$t", s"deleteFromMinhashIndex($t)")
    }
    StoredTable.inParallel(tables.map { case (t, mod, cluster) =>
      () => erase(t, s"$idxDir/$t", s"deleteFromMinhashIndex($t)", Seq("batch", mod), cluster)
    }).apply(1)
  }

  /** BULK-victim form of the band-index erasure: the victim set is a
    * TABLE, applied through [[StoredTable.deleteRowsFromStoreJoin]] (broadcast
    * semi/anti — plan size constant in |victims|; the literal form
    * above stops scaling around 10⁴ ids). The did_mod partition prune
    * survives: the victims' own partitions derive from a bounded
    * distinct-mods collect (≤ nMods ints), not from the id list.
    */
  def deleteFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      idxDir: String,
      victims: DataFrame): Long = {
    import spark.implicits._
    val nMods = storeNMods(idxDir)
    val v = victims.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .persist() // released below; shared by the three tables' passes
    try {
      // pmod, matching the writer's did_mod — see the floorMod note above
      val mods = v.select(pmod(col("doc_id"), lit(nMods)).cast("int").as("m"))
        .distinct().as[Int].collect().sorted // bounded: ≤ nMods ints
        .toIndexedSeq.map(Integer.valueOf)
      val modPrune = col("did_mod").isin(mods: _*)
      eraseIndexTables(spark, idxDir) { (t, dir, opName, partitionCols, cluster) =>
        deleteRowsFromStoreJoin(spark, dir, opName, v, "doc_id", partitionCols, cluster,
          prune = if (t == "bands") lit(true) else modPrune)
      }
    } finally v.unpersist()
  }

  /** RETENTION for the stored MinHash band index — TTL aging by INGEST
    * BATCH, the index-store analogue of [[Layout.dropPartitions]]: every
    * `batch <= cutoff` partition of all THREE tables (bands, sigs,
    * shingles) drops as a PURE METADATA operation — no data file read,
    * planned, or rewritten; surviving batches byte-untouched. Ingest
    * batches ARE the index's time axis (monotone ids from the stream),
    * so "age out documents indexed more than N batches ago" is exactly a
    * batch-directory drop; the three tables age TOGETHER because a doc's
    * rows span all three (a partial drop would leave band rows pointing
    * at missing signatures — the erasure family's consistency invariant).
    * The `batch=-1` layout seed never ages (it is discovery metadata,
    * not data).
    *
    * Post-retention probes see exactly the index of the retained docs
    * WHEN append-time bucket caps never bound against aged members (the
    * caps' usual regime — [[MaxBucket]] exists for adversarial bucket
    * pileups): a capped bucket admits at most MaxBucket members counting
    * aged ones, so aging can leave a bucket below cap that a fresh build
    * would have filled — the same conservative-admission semantics the
    * cap itself already has, now with a smaller member set. Compose with
    * [[compactIndex]] the usual way: compact FIRST only if the
    * fold's target batch is younger than the cutoff (a fold into
    * `batch=upTo <= cutoff` would merge young rows into an age-droppable
    * partition); aging then drops whole source batches. Returns the
    * dropped batch ids per table name.
    */
  def retainMinhashIndexBatches(
      spark: org.apache.spark.sql.SparkSession,
      idxDir: String,
      cutoff: Long): Map[String, Seq[Long]] = {
    def age(dir: String): Seq[Long] =
      Layout.dropPartitions(spark, dir, "batch",
        v => v != "-1" && v.toLong <= cutoff).map(_.toLong)
    Map(
      "bands" -> age(bandsDir(idxDir)),
      "sigs" -> age(sigsDir(idxDir)),
      "shingles" -> age(shsDir(idxDir)))
  }

  /** Right-to-erasure for the STORED semantic-dedup index: remove
    * `vecIds` from the cell store (`cells/batch=/cell_mod=`) by
    * file-targeted rewrite; the trained centroids are untouched (deletion
    * never moves a surviving row's cell). Returns rows deleted.
    */
  def deleteFromSemStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      vecIds: Seq[Long]): Long = {
    require(vecIds.nonEmpty, "deleteFromSemStore: empty id set")
    deleteRowsFromStore(spark, s"$storeDir/cells", "deleteFromSemStore",
      col("vec_id").isin(vecIds.distinct.map(java.lang.Long.valueOf): _*),
      Seq("batch", "cell_mod"), Seq("cell", "vec_id"))
  }

  /** Bulk-victim form of the sem-store erasure (victims as a table —
    * see [[StoredTable.deleteRowsFromStoreJoin]] for why literal `isin` stops
    * scaling at compliance-batch sizes).
    */
  def deleteFromSemStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      victims: DataFrame): Long =
    deleteRowsFromStoreJoin(spark, s"$storeDir/cells", "deleteFromSemStore",
      victims, "vec_id", Seq("batch", "cell_mod"), Seq("cell", "vec_id"))

  /** Right-to-erasure for the STORED substring census — semantically a
    * DECREMENT, not a row delete: census rows are `(win, n_docs)`
    * aggregates, so erasing documents means re-deriving their
    * content-defined windows (windows are a pure function of (text,
    * width) — the erasure request must carry the victim docs' text),
    * subtracting each victim's holder count, and REMOVING windows whose
    * net count hits zero (the probe is an existence test — a zero-count
    * row would keep reporting corpus duplication against erased text).
    *
    * Physically partition-targeted: the victims' windows can only live in
    * their own `win_mod` hash partitions (≤ nMods — the probe's prune
    * applied to the delete), so ONLY those slices re-read and rewrite;
    * every other partition stays byte-identical. Handles both stored
    * layouts: the flat [[writeCensusStore]] table and the streamed
    * delta store (`batch=/win_mod=`) — for the latter the affected
    * slices' deltas CONSOLIDATE into the newest batch partition (a
    * scoped compaction; the probe asks existence over the summed deltas,
    * which netting preserves). Same checked swap as every maintenance op.
    * Returns the number of census windows fully erased.
    */
  def deleteFromCensusStore(
      spark: org.apache.spark.sql.SparkSession,
      censusPath: String,
      victimDocs: DataFrame,
      width: Int = 40): Long = {
    import org.apache.hadoop.fs.Path
    val nm = CensusManifest.checkAndNMods(censusPath, width)
    val root = new Path(censusPath)
    val fs = StoredTable.fileSystem(spark, root)
    val (swap, stageRoot) = StoredTable.preflightBeside(fs, root, "deleteFromCensusStore", "delete")
    val decs = windowTable(victimDocs, width)
      .select(col("doc_id"), col("win")).distinct()
      .groupBy(col("win")).agg(count(lit(1)).as("dec"))
      .withColumn("win_mod", winMod(nm))
      .persist() // mods collect + net join + erased count
    val mods = decs.select(col("win_mod")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded: ≤ nMods ints
    if (mods.isEmpty) { decs.unpersist(); return 0L }
    val modSet = mods.map(m => s"win_mod=$m").toSet
    val topDirs = fs.listStatus(root).filter(_.isDirectory)
    val batchDirs = topDirs.filter(_.getPath.getName.startsWith("batch="))
    val hasBatch = batchDirs.nonEmpty
    val affectedDirs: Seq[org.apache.hadoop.fs.Path] =
      if (hasBatch)
        batchDirs.toSeq.flatMap(b => fs.listStatus(b.getPath)
          .filter(d => d.isDirectory && modSet(d.getPath.getName)).map(_.getPath))
      else topDirs.toSeq.filter(d => modSet(d.getPath.getName)).map(_.getPath)
    if (affectedDirs.isEmpty) { decs.unpersist(); return 0L }
    val qualifiedBase = fs.makeQualified(root).toString
    val affected = spark.read.option("basePath", qualifiedBase)
      .parquet(affectedDirs.map(_.toString): _*)
    // net per-window count across every affected delta, subtract the
    // victims' holder counts, keep survivors only
    val agg = affected.groupBy(col("win"), col("win_mod"))
      .agg(sum(col("n_docs")).as("nd")).persist()
    val erased = agg.join(decs.select(col("win"), col("dec")), Seq("win"))
      .where(col("nd") <= col("dec")).count()
    val netted = agg.join(decs.select(col("win"), col("dec")), Seq("win"), "left")
      .select(col("win"),
        (col("nd") - coalesce(col("dec"), lit(0L))).as("n_docs"),
        col("win_mod"))
      .where(col("n_docs") > 0)
    val affectedBytes = affectedDirs
      .map(d => fs.getContentSummary(d).getLength).sum
    StoredTable.clusteredStage(netted, Seq("win_mod", "win"), Seq("win_mod"),
      stageRoot.toString, Some(StoredTable.sizedSlices(affectedBytes,
        floor = spark.sparkContext.defaultParallelism)))
    agg.unpersist(); decs.unpersist()
    swap.verify(stageRoot)
    // streamed layout: consolidated slices promote into the NEWEST batch
    // dir (scoped compaction); flat layout promotes into the root
    val targetBase =
      if (hasBatch) {
        val maxBatch = batchDirs.map(_.getPath.getName.stripPrefix("batch=").toLong).max
        new Path(root, s"batch=$maxBatch")
      } else root
    val stagedDirs = fs.listStatus(stageRoot)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("win_mod=")).toSeq
    val promotes = stagedDirs.map(d =>
      (d.getPath, new Path(targetBase, d.getPath.getName)))
    swap.commit(asides = affectedDirs, promotes = promotes, cleanup = Seq(stageRoot))
    erased
  }

  /** Set/restore of the SESSION-GLOBAL shuffle-partitions knob, held for
    * the duration of `body` under one lock: per-batch joins in the
    * streaming tiers move ≤ corpus-index rows, and at the session's width
    * each micro-batch pays dozens of near-empty tasks — so each streaming
    * run sizes the knob to the batch (the upsertUserTotals discipline).
    * Two concurrent runs in one session could otherwise interleave
    * set/restore and clobber each other's setting or leak the override
    * session-wide ([[StoredTable.readStore]]'s lock, same hazard class). Because the knob is
    * session-global it must stay set for the run's whole planning life, so
    * the lock is held for the full run: concurrent streaming dedup runs on
    * ONE session serialize — production gives each pipeline its own
    * session (cheap; they share the SparkContext).
    */
  private val shufflePartsLock = new Object
  private def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T =
    shufflePartsLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }

  /** Seed the stream stores with an empty `batch=-1` partition so
    * partition discovery (and the first batch's index read) resolves.
    * The seed writes into explicit `bh_mod=0` / `did_mod=0` leaf dirs so
    * the two-level partition layout is discoverable before any real batch.
    *
    * The per-doc artifact is stored as TWO tables — `sigs` (doc_id, sig:
    * 32 longs) and `shingles` (doc_id, sh: the full shingle set, roughly
    * text-sized) — because the probe's est-filter needs only signatures
    * while exact verification needs shingles only for the (tiny)
    * est-passing pair set: a combined table forced every candidate fetch
    * to drag the fat shingle column through the scan, and at a 500k-doc
    * index that column WAS the probe's cost.
    */
  private[graft] def seedStreamStores(static: DataFrame, idxDir: String,
      accDir: String, keepCols: Seq[String], n: Int, perms: Int,
      nMods: Int = NMods, bands: Int = 8): Unit = {
    val empty = indexTable(static, n, perms).limit(0)
    bandRows(empty, perms, bands).select(col("band"), col("band_hash"), col("doc_id"))
      .storeWrite.mode("overwrite").parquet(s"${bandsDir(idxDir)}/batch=-1/bh_mod=0")
    empty.select(col("doc_id"), col("sig"))
      .storeWrite.mode("overwrite").parquet(s"${sigsDir(idxDir)}/batch=-1/did_mod=0")
    empty.select(col("doc_id"), col("sh"))
      .storeWrite.mode("overwrite").parquet(s"${shsDir(idxDir)}/batch=-1/did_mod=0")
    static.select(keepCols.map(col): _*).limit(0)
      .storeWrite.mode("overwrite").parquet(s"$accDir/batch=-1")
    // pin the store's fanout so every later probe/append partitions with
    // the modulus the store was built with
    nModsIo.write(idxDir, nMods.toString)
    // ... and the full parameter set, asserted by every probe/append
    IndexManifest.write(idxDir, n, perms, bands, nMods)
    ()
  }

  /** Probe the STORED pre-banded index with one batch; returns the
    * materialized drop set and the batch's capped band-append set.
    *
    * The four structural properties the 100 TB steady state needs, in
    * order of appearance:
    *   1. PARTITION-PRUNED read — only `bh_mod` partitions the batch's own
    *      band hashes can touch are listed (the bounded driver collect is
    *      ≤ [[NMods]] ints), then a broadcast SEMI-join narrows to exactly
    *      the colliding buckets. The index is never shuffled.
    *   2. APPEND-TIME CAP — stored buckets already hold ≤ [[MaxBucket]]
    *      rows, so counting existing members touches ≤ MaxBucket ×
    *      |batch band keys| rows; batch rows ranked by arrival (id) order
    *      fill each bucket only up to the cap. With arrival = id order the
    *      retained members are exactly the bucket's MaxBucket smallest
    *      ids — the batch tier's cap rule, enforced once, at write time.
    *   3. CANDIDATES — every batch doc (capped or not — capping bounds who
    *      can be MATCHED AGAINST, never who gets checked) probes the
    *      retained members: all stored arrivals plus this batch's own
    *      append set; batch-internal pairs keep-first by id.
    *   4. ARTIFACT FETCH — candidate signatures/shingles come from the doc
    *      store pruned to the candidates' `did_mod` partitions and
    *      semi-joined to the candidate ids; non-candidate history is never
    *      deserialized.
    */
  private[graft] def storedProbe(
      s2: org.apache.spark.sql.SparkSession, idxDir: String, batchId: Long,
      bIdx: DataFrame,    // (doc_id, sig, sh) of the batch, persisted by caller
      bBands: DataFrame,  // (doc_id, band, band_hash) of the batch, persisted
      perms: Int, minEstJaccard: Double,
      verifyJaccard: Option[Double]): (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val dbgP = sys.env.contains("GRAFT_DEDUP_DEBUG")
    var tP = System.nanoTime()
    def lapP(tag: String): Unit = if (dbgP) {
      println(f"[spdbg] $tag ${(System.nanoTime() - tP) / 1e9}%.2f s")
      tP = System.nanoTime()
    }
    val nm = storeNMods(idxDir)
    val mods = bBands.select(pmod(col("band_hash"), lit(nm)).cast("int").as("m"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
    lapP("mods")
    val keys = bBands.select(col("band"), col("band_hash")).distinct()
    val stored = (if (mods.isEmpty) bBands.limit(0)
      else readStore(s2, bandsDir(idxDir))
        .where(col("batch") < batchId && col("bh_mod").isin(mods: _*))
        .join(broadcast(keys), Seq("band", "band_hash"), "left_semi")
        .select(col("doc_id"), col("band"), col("band_hash")))
      .persist() // colliding-bucket members: feed the cap count AND the pairing
    val n0 = stored.groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("n0"))
    val byArrival = Window.partitionBy(col("band"), col("band_hash")).orderBy(col("doc_id"))
    val appendBands = bBands
      .withColumn("rk", row_number().over(byArrival))
      .join(broadcast(n0), Seq("band", "band_hash"), "left")
      .where(coalesce(col("n0"), lit(0L)) + col("rk") <= MaxBucket)
      .select(col("doc_id"), col("band"), col("band_hash"))
      .persist() // candidate join + band-store write; freed by cleanup()
    val members = stored
      .select(col("doc_id").as("doc_a"), lit(false).as("a_inc"), col("band"), col("band_hash"))
      .unionByName(appendBands
        .select(col("doc_id").as("doc_a"), lit(true).as("a_inc"), col("band"), col("band_hash")))
    val probe = bBands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    val cand = broadcast(probe).join(members, Seq("band", "band_hash"))
      .where(col("doc_a") =!= col("doc_b") &&
        (!col("a_inc") || col("doc_a") < col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
      .persist() // feeds the did_mod collect + est join
    val aMods = cand.select(pmod(col("doc_a"), lit(nm)).cast("int").as("m"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
    lapP("cand")
    // est fetch is SIGNATURES ONLY — the narrow store. The fat shingle
    // column is deferred to the verify step below, which touches it for
    // the est-PASSING pairs alone (the true-duplicate set, batch-bounded
    // in any healthy corpus), not for every band collision.
    val storedSigs = if (aMods.isEmpty) bIdx.select(col("doc_id"), col("sig")).limit(0)
      else readStore(s2, sigsDir(idxDir))
        .where(col("batch") < batchId && col("did_mod").isin(aMods: _*))
        .select(col("doc_id"), col("sig"))
    val aSig = storedSigs
      .unionByName(bIdx.select(col("doc_id"), col("sig")))
      .join(broadcast(cand.select(col("doc_a").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .persist()
    val est = cand
      .join(aSig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(bIdx.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .where(TF.sigEqCount(col("sig_a"), col("sig_b")).cast("double") / perms >= minEstJaccard)
      .select(col("doc_a"), col("doc_b"))
    val verified = verifyJaccard.fold(est) { t =>
      // materialize the (tiny) est-passing set so the shingle store can
      // be pruned to exactly its partitions before the exact-Jaccard join
      val estC = est.localCheckpoint(true)
      lapP("est")
      val vMods = estC.select(pmod(col("doc_a"), lit(nm)).cast("int").as("m"))
        .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
      val storedShs = if (vMods.isEmpty) bIdx.select(col("doc_id"), col("sh")).limit(0)
        else readStore(s2, shsDir(idxDir))
          .where(col("batch") < batchId && col("did_mod").isin(vMods: _*))
          .select(col("doc_id"), col("sh"))
      val aSh = storedShs
        .unionByName(bIdx.select(col("doc_id"), col("sh")))
        .join(broadcast(estC.select(col("doc_a").as("doc_id")).distinct()),
          Seq("doc_id"), "left_semi")
      estC
        .join(aSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(bIdx.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= t)
        .select(col("doc_a"), col("doc_b"))
    }
    // eager: materializes the drop set (and, through it, every persisted
    // intermediate above) — the caller's writes then reuse the caches and
    // call cleanup() when done, so nothing leaks per batch
    val drops = verified.select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    lapP("drops")
    val cleanup = () => Seq(stored, cand, aSig, appendBands).foreach { df =>
      df.unpersist(); ()
    }
    (drops, appendBands, cleanup)
  }

  /** Scan-shaped probe for the SMALL-index regime (index ≲
    * [[StoredProbeRatio]] × batch — bootstrap, bulk build, proportional
    * re-ingest): reads the whole stored doc index once and runs ONE
    * aggregation over (stored ∪ batch) band rows that yields BOTH the
    * retained bucket members and the batch's capped append set — the
    * member rule (stored arrivals first, then batch by id, sliced at
    * [[MaxBucket]]) is identical to [[storedProbe]]'s, so the two regimes
    * produce the same drops and the same stored buckets, and the switch
    * between them is purely a cost decision.
    */
  private def scanProbe(
      s2: org.apache.spark.sql.SparkSession, idxDir: String, batchId: Long,
      bIdx: DataFrame, bBands: DataFrame,
      perms: Int, bands: Int, minEstJaccard: Double,
      verifyJaccard: Option[Double]): (DataFrame, DataFrame, () => Unit) = {
    val storedSigs = readStore(s2, sigsDir(idxDir))
      .where(col("batch") < batchId)
      .select(col("doc_id"), col("sig"))
      .persist() // band derivation + est side
    val allBands = bandRows(storedSigs, perms, bands).withColumn("a_inc", lit(false))
      .unionByName(bBands.withColumn("a_inc", lit(true)))
    val grouped = allBands
      .groupBy(col("band"), col("band_hash"))
      .agg(slice(sort_array(collect_list(struct(col("a_inc"), col("doc_id")))),
        1, MaxBucket).as("members"))
      .persist() // candidate explode + append-set derivation
    val appendBands = grouped
      .select(col("band"), col("band_hash"), explode(col("members")).as("m"))
      .where(col("m.a_inc"))
      .select(col("m.doc_id").as("doc_id"), col("band"), col("band_hash"))
    val probe = bBands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    val cand = broadcast(probe).join(grouped, Seq("band", "band_hash"))
      .select(col("doc_b"), explode(col("members")).as("m"))
      .select(col("m.doc_id").as("doc_a"), col("m.a_inc").as("a_inc"), col("doc_b"))
      .where(col("doc_a") =!= col("doc_b") &&
        (!col("a_inc") || col("doc_a") < col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
    val allSigs = storedSigs.unionByName(bIdx.select(col("doc_id"), col("sig")))
    val est = cand
      .join(allSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(bIdx.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .where(TF.sigEqCount(col("sig_a"), col("sig_b")).cast("double") / perms >= minEstJaccard)
      .select(col("doc_a"), col("doc_b"))
    val verified = verifyJaccard.fold(est) { t =>
      // the shingle store is read only here — and in this (small-index)
      // regime a full read of it is by definition batch-proportional
      val allShs = readStore(s2, shsDir(idxDir))
        .where(col("batch") < batchId)
        .select(col("doc_id"), col("sh"))
        .unionByName(bIdx.select(col("doc_id"), col("sh")))
      est
        .join(allShs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(bIdx.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= t)
        .select(col("doc_a"), col("doc_b"))
    }
    val drops = verified.select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    val cleanup = () => Seq(storedSigs, grouped).foreach { df =>
      df.unpersist(); ()
    }
    (drops, appendBands, cleanup)
  }

  /** Pick the probe regime by measured sizes (both counts are
    * metadata/cache-cheap): the stored pruned probe only pays off once
    * the index meaningfully outgrows the batch.
    */
  private def adaptiveProbe(
      s2: org.apache.spark.sql.SparkSession, idxDir: String, batchId: Long,
      bIdx: DataFrame, bBands: DataFrame,
      perms: Int, bands: Int, minEstJaccard: Double,
      verifyJaccard: Option[Double]): (DataFrame, DataFrame, () => Unit) = {
    val nBatch = math.max(1L, bIdx.count()) // also materializes the persists
    val nStored = readStore(s2, sigsDir(idxDir))
      .where(col("batch") < batchId).count() // parquet footer row counts
    if (nStored > StoredProbeRatio * nBatch)
      storedProbe(s2, idxDir, batchId, bIdx, bBands, perms, minEstJaccard, verifyJaccard)
    else
      scanProbe(s2, idxDir, batchId, bIdx, bBands, perms, bands, minEstJaccard, verifyJaccard)
  }

  /** Batch `batchId`'s three index appends (bands, sigs, shingles) as
    * independent writes for [[StoredTable.inParallel]]. coalesce(1): a
    * micro-batch's index rows are one small file per mod partition —
    * without it every shuffle partition emits a file per mod and the
    * store drowns in footers. At production batch sizes, size output
    * partitions to batch bytes instead.
    */
  private def indexAppends(idxDir: String, batchId: Long, appendBands: DataFrame,
                           bIdx: DataFrame): Seq[() => Unit] = Seq(
    () => appendBands
      .withColumn("bh_mod", pmod(col("band_hash"), lit(storeNMods(idxDir))).cast("int"))
      .select(col("band"), col("band_hash"), col("doc_id"), col("bh_mod"))
      .coalesce(1)
      .storeWrite.mode("overwrite").partitionBy("bh_mod")
      .parquet(s"${bandsDir(idxDir)}/batch=$batchId"),
    () => bIdx.select(col("doc_id"), col("sig"))
      .withColumn("did_mod", pmod(col("doc_id"), lit(storeNMods(idxDir))).cast("int"))
      .coalesce(1)
      .storeWrite.mode("overwrite").partitionBy("did_mod")
      .parquet(s"${sigsDir(idxDir)}/batch=$batchId"),
    () => bIdx.select(col("doc_id"), col("sh"))
      .withColumn("did_mod", pmod(col("doc_id"), lit(storeNMods(idxDir))).cast("int"))
      .coalesce(1)
      .storeWrite.mode("overwrite").partitionBy("did_mod")
      .parquet(s"${shsDir(idxDir)}/batch=$batchId"))

  /** One micro-batch of the streaming dedup — REPLAY-IDEMPOTENT: the
    * batch's accepted, band-index and doc-index rows land in its OWN
    * `batch=<id>` partitions with overwrite, so a checkpoint replay
    * (crash after the appends, before the checkpoint commit) replaces its
    * previous partial output instead of double-appending — the same
    * own-version-overwrite contract as the MERGE sink
    * (`EventStreams.upsertUserTotals`). The probe reads only `batch < id`
    * partitions (partition-pruned), so a replayed batch never sees its own
    * stale index rows — without the filter, a stale copy of a LATER batch
    * doc on the corpus side would spuriously drop an earlier-id doc of the
    * replayed batch. The append-time cap recomputes deterministically on
    * replay (same earlier partitions, same batch, same ranks).
    */
  private[graft] def minhashStreamBatch(
      batch: DataFrame, batchId: Long, idxDir: String, accDir: String,
      keepCols: Seq[String], n: Int, perms: Int, bands: Int,
      minEstJaccard: Double, verifyJaccard: Option[Double]): Unit = {
    val dbg = sys.env.contains("GRAFT_DEDUP_DEBUG")
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = if (dbg) {
      println(f"[sdbg] batch=$batchId $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
    }
    // loud drift guard: a batch computing signatures/bands with different
    // params than the store was seeded with would probe wrong buckets
    IndexManifest.check(idxDir, n, perms, bands)
    val bIdx = indexTable(batch, n, perms)
      .persist() // probe side, artifact fetch union, doc-store append
    val bBands = bandRows(bIdx, perms, bands)
      .persist() // size check, cap ranking, probe, band-store append
    val (drops, appendBands, cleanup) = adaptiveProbe(batch.sparkSession, idxDir,
      batchId, bIdx, bBands, perms, bands, minEstJaccard, verifyJaccard)
    lap("probe")
    // the three per-batch outputs (accepted rows, band-index append,
    // doc-index append) are independent files — submit them as CONCURRENT
    // jobs so the micro-batch pays the slowest write, not the sum (the
    // partitioned index writes each commit NMods small files; serially
    // they dominated the batch)
    StoredTable.inParallel(Seq(
      () => batch.join(broadcast(drops), Seq("doc_id"), "left_anti") // drops <= batch
        .select(keepCols.map(col): _*)
        .storeWrite.mode("overwrite").parquet(s"$accDir/batch=$batchId")) ++
      indexAppends(idxDir, batchId, appendBands, bIdx))
    lap("writes")
    cleanup()
    bBands.unpersist()
    bIdx.unpersist()
  }

  /** Compact a pre-banded dedup index: rewrite every `batch <= upTo`
    * partition of all three store tables into one consolidated `batch=upTo`
    * partition (size-targeted files per mod). The append-only layout trades write
    * cheapness for file count — at one small file per (batch × mod), a
    * year of micro-batches is millions of parquet footers, and every
    * probe's pruned listing grows with batch count. Compaction is pure
    * LAYOUT: the per-bucket [[MaxBucket]] cap is a GLOBAL invariant of
    * the append rule (each batch filled buckets only up to the cap given
    * prior counts), so the compacted store holds byte-identical logical
    * rows and probes with `batchId > upTo` see exactly the same index —
    * spec-asserted.
    *
    * Each table compacts through [[StoredTable.compactStore]]: a
    * parallel, size-targeted rewrite (one task per output file, so a
    * 100 TB index compacts across the cluster, not through one executor)
    * promoted by the store-mutation protocol documented on
    * [[StoredTable]]. The three tables are independent, so they compact
    * CONCURRENTLY on the writer pool, each through its own swap, after
    * every table has pre-flighted: a leftover on any refuses the call
    * before a file changes. At
    * object-store scale the promote step becomes a manifest commit
    * (`Layout.commitVersion`'s protocol) rather than a directory rename.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      idxDir: String,
      upTo: Long): Unit = {
    val nm = storeNMods(idxDir)
    // three independent tables, each behind its own sentinel and swap —
    // every one pre-flights first, so a leftover on one refuses before
    // any compacts; then they compact concurrently, as
    // [[deleteFromMinhashIndex]] erases them
    val tables =
      Seq(bandsDir(idxDir) -> "bh_mod", sigsDir(idxDir) -> "did_mod", shsDir(idxDir) -> "did_mod")
    tables.foreach { case (dir, _) => StoredTable.preflightCompaction(spark, dir) }
    StoredTable.inParallel(tables.map { case (dir, modCol) =>
      () => StoredTable.compactStore(spark, dir, modCol, "doc_id", nm, upTo)
    })
    ()
  }

  /** Batch-incremental dedup against a STORED pre-banded index — the
    * production form of [[minhashIncremental]] once the index artifact
    * exists: probes the [[minhashStreamKeep]] store layout (pruned bucket
    * lookup, no re-banding, no index shuffle), appends the increment as
    * batch `batchId`, and returns the increment doc_ids to DROP. Per-call
    * cost is bounded by the increment and its bucket collisions, not by
    * the index.
    */
  def minhashIncrementalStored(
      spark: org.apache.spark.sql.SparkSession,
      idxDir: String,
      increment: DataFrame,
      batchId: Long,
      n: Int = 3,
      perms: Int = 32,
      bands: Int = 8,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None): DataFrame = {
    IndexManifest.check(idxDir, n, perms, bands)
    val bIdx = indexTable(increment, n, perms).persist()
    val bBands = bandRows(bIdx, perms, bands).persist()
    val (drops, appendBands, cleanup) = adaptiveProbe(spark, idxDir, batchId,
      bIdx, bBands, perms, bands, minEstJaccard, verifyJaccard)
    StoredTable.inParallel(indexAppends(idxDir, batchId, appendBands, bIdx))
    cleanup()
    bBands.unpersist()
    bIdx.unpersist()
    drops
  }

  /** Ground-truth near-dup pairs by EXACT n-gram Jaccard with NO hashing
    * anywhere — the AllPairs/ppjoin prefix-filtered similarity join
    * (Bayardo et al. 2007; Xiao et al. 2008):
    *
    *   1. canonical order = global (document-frequency, shingle) ascending;
    *   2. each doc indexes only its `|s| - ⌈t·|s|⌉ + 1` FIRST shingles in
    *      that order (rarest first) — a pair with J ≥ t has overlap
    *      ≥ ⌈t·|s|⌉ on each side, and two sets with overlap o must collide
    *      within their (|s|-o+1)-prefixes, so no true pair is lost;
    *   3. candidates also pass the length filter (min size ≥ t·max size),
    *      then verify with exact set intersection.
    *
    * Prefix filtering is what makes this scale: a plain inverted index
    * joins on EVERY shingle, and on low-diversity corpora (boilerplate,
    * templated text — or this testdata's ~30-word vocabulary) bucket sizes
    * grow with the corpus and the join goes quadratic (measured exp 1.4 at
    * 10×). Prefixes touch only globally-rare shingles, so buckets stay
    * small as the corpus grows.
    */
  def exactJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.7,
      art: Option[Artifacts] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = art.map(_.shingles).getOrElse(shingleTable(docs, n).persist())
      .where(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
      .persist() // feeds the prefix build AND both verify join sides
    val ex = sh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // exact Bayardo/Xiao threshold ⌈t·|s|⌉ in decimal arithmetic: the double
    // form needs a safety epsilon (FP can push 0.7*10 to 7.000000000000001,
    // ceil → 8), but a blanket -1e-9 lengthens the prefix by one whenever
    // t·|s| IS integral, measurably inflating candidates on low-diversity
    // corpora. DecimalType multiply + ceil is exact — no epsilon either way.
    // `min_len` (= ⌈t·|s|⌉, the Arasu/Xiao length filter: |a| ≥ t·|b| ⟺
    // |a| ≥ ⌈t·|b|⌉ for integer |a|) is computed ONCE per doc here so the
    // pair-join condition below compares plain longs, keeping the decimal
    // math off the per-candidate hot path.
    val t = lit(BigDecimal.decimal(minJaccard))
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(byRarity))
      .where(col("rk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("doc_id"), col("n_sh"), ceil(col("n_sh") * t).as("min_len"),
        col("rk"), col("s"))
    // ppjoin POSITIONAL filter (Xiao et al. 2008 §3.2): a collision at
    // canonical positions (rk_a, rk_b) caps the overlap at
    // 1 + min(n_a − rk_a, n_b − rk_b); J ≥ t needs overlap
    // α = ⌈t/(1+t)·(n_a+n_b)⌉. For a TRUE pair the bound holds at its
    // FIRST common prefix shingle, so keeping pairs where ANY collision
    // passes loses nothing. α in EXACT integer arithmetic: t = p/10^s
    // (the decimal's unscaled value), so α = ⌈p·(n_a+n_b)/(10^s+p)⌉ —
    // products ≪ 2^53, the double floor is exact (same discipline as the
    // decimal prefix threshold above). Cuts candidates ~an order of
    // magnitude on low-diversity corpora where the prefix filter alone
    // is weak — measured with a one-off all-pairs Jaccard microbenchmark.
    val td = BigDecimal.decimal(minJaccard)
    val p0 = td.underlying.unscaledValue.longValueExact
    val den = math.round(math.pow(10, td.scale)) + p0
    val sumN = col("a.n_sh") + col("b.n_sh")
    val alpha = floor(((lit(p0) * sumN + lit(den - 1)).cast("double")) / lit(den.toDouble))
      .cast("long")
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") >= col("b.min_len") &&
          col("b.n_sh") >= col("a.min_len") &&
          lit(1) + least(col("a.n_sh") - col("a.rk"), col("b.n_sh") - col("b.rk")) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact DIRECTED containment pairs: C(a→b) = |A∩B| / |A| ≥ t — catches
    * quote/subset copies (a short doc embedded verbatim in a long one) that
    * symmetric Jaccard misses, because the union in J's denominator dilutes
    * a small A inside a big B. The asymmetric twin of
    * [[exactJaccardPairs]], same Bayardo/Xiao prefix principle adapted to
    * containment:
    *
    *   - the CONTAINED side probes with its `|A| - ⌈t·|A|⌉ + 1` rarest
    *     shingles (an overlap of ⌈t·|A|⌉ must touch the prefix);
    *   - the CONTAINER side indexes ALL its shingles — containment puts no
    *     lower bound on how much of B is shared, so B cannot prefix-prune
    *     (the decontamination semi-join's shape, `Corpus.contamination`);
    *   - candidates also pass `|B| ≥ ⌈t·|A|⌉` (B must hold the overlap),
    *     then verify with exact intersection.
    *
    * Scale: join keys are only the probe side's globally-rare shingles, so
    * postings lists stay short on low-diversity corpora — the full index
    * is big but each LOOKUP touches little of it; at lake scale the
    * container index is the once-built inverted index, not a per-query
    * artifact.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, minContain: Double = 0.9,
      art: Option[Artifacts] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = art.map(_.shingles).getOrElse(shingleTable(docs, n).persist())
      .where(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
      .persist() // feeds prefix build, full index, and both verify sides
    val ex = sh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val t = lit(BigDecimal.decimal(minContain))
    val probe = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(byRarity))
      .where(col("rk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"),
        ceil(col("n_sh") * t).as("min_common"), col("s"))
    val index = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("s"))
    val cand = probe.join(index, "s")
      .where(col("doc_a") =!= col("doc_b") && col("n_b") >= col("min_common"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment",
        col("common").cast("double") / size(col("sh_a")))
      .where(col("containment") >= minContain)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Exact word-n-gram Jaccard over MinHash candidates — the verify pass.
    * Bucketed candidates keep the exact set intersection off the full cross
    * product.
    */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.5,
      minEstJaccard: Double = 0.3,
      art: Option[Artifacts] = None): DataFrame = {
    val cands = minhashCandidates(docs, n = n, minEstJaccard = minEstJaccard, art = art)
      .select("doc_a", "doc_b")
    // same materialization rationale as the signature cache above: shingle
    // sets feed both join sides of the verify pass
    val sh = art.map(_.shingles).getOrElse(shingleTable(docs, n).persist())
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= minJaccard)
      // floor(x·1e4+0.5)/1e4 instead of round(): the raw quotient is the
      // same double in every engine (two exact ints divided), so this pure-
      // double rounding is bit-reproducible cross-engine, while BigDecimal
      // HALF_UP vs binary-expansion rounding diverge on .xxxx5 boundaries
      .select(col("doc_a"), col("doc_b"),
        (floor(col("jaccard") * 10000 + 0.5) / 10000).as("jaccard"))
  }

  /** Materialize the deduplicated corpus: drop every doc that appears as the
    * larger id of a candidate pair (greedy keep-smallest representative).
    * One anti-join against the distinct drop set — the corpus never
    * shuffles by content. Chains (a~b, b~c, a≁c) collapse to `a` because
    * both b and c appear as a larger id; a full transitive-closure
    * (connected components) pass is deliberately out of scope for the
    * per-batch dedup this implements.
    */
  def minhashDeduped(
      docs: DataFrame,
      n: Int = 3,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None,
      art: Option[Artifacts] = None): DataFrame = {
    val drop = minhashCandidates(docs, n = n, minEstJaccard = minEstJaccard,
        verifyJaccard = verifyJaccard, art = art)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Duplicate-family clustering: iterative smallest-label propagation over
    * the candidate-pair graph until fixpoint (classic Spark connected
    * components). Each iteration is one join + aggregate; a min label
    * travels one hop per iteration, and near-dup graphs are dense clusters
    * that converge in 2-3. Returns (doc_id, cluster_id) for every doc that
    * appears in a pair; cluster_id = smallest doc_id in the component.
    *
    * At very large scale, checkpoint `labels` every few iterations to cut
    * lineage; at candidate-graph sizes (pairs are already LSH-filtered)
    * persist is enough.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the pair list FIRST: the union below reads it twice (one
    // per edge direction) and would otherwise run candidate generation twice
    val p = pairs.persist()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().persist()
    // seed with the 1-hop neighborhood minimum (incl. self): cliques — the
    // common near-dup family shape — are already converged before the loop
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(least(min(col("dst")), col("doc_id")).as("cluster_id")).persist()
    // labels only ever decrease, so the label SUM is strictly monotone and
    // "sum unchanged" == converged — convergence detection costs one cheap
    // aggregate on the cached frame instead of a join against the previous
    // iteration's labels
    // DECIMAL(38,0) sum: a Long sum could wrap on overflow (ANSI off) and
    // fake a fixpoint; decimal is exact at any graph size
    def labelSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head().get(0))
        .map(d => BigDecimal(d.asInstanceOf[java.math.BigDecimal]))
        .getOrElse(BigDecimal(0))
    var prevSum = labelSum(labels)
    var prevCached = labels // the cached DF backing `labels`, freed next round
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // new label = min(own, neighbors') via union + one groupBy — one
      // shuffle fewer than the join + left-join + least formulation
      val updated = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("cluster_id"))
        .union(labels.select(col("doc_id"), col("cluster_id")))
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
        .persist()
      val s = labelSum(updated)
      prevCached.unpersist()
      prevCached = updated
      // truncate lineage every few rounds: a long chain otherwise builds an
      // iteration-deep plan that slows planning and can overflow on
      // pathological graphs
      labels = if (i % 3 == 2) updated.localCheckpoint() else updated
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Full-corpus fuzzy dedup with transitive closure: cluster the MinHash
    * candidate pairs and keep each component's smallest doc_id (plus all
    * docs that never matched anything).
    */
  def minhashDedupedTransitive(
      docs: DataFrame,
      n: Int = 3,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None,
      art: Option[Artifacts] = None): DataFrame =
    docs.join(
      minhashTransitiveDrops(docs, n, minEstJaccard, verifyJaccard, art),
      Seq("doc_id"), "left_anti")

  /** The DROP set of the transitive fuzzy tier — `(doc_id)` for every doc
    * that is not its duplicate-component's smallest id. The form a curation
    * pipeline materializes (drops are small; survivors are the corpus).
    */
  def minhashTransitiveDrops(
      docs: DataFrame,
      n: Int = 3,
      minEstJaccard: Double = 0.5,
      verifyJaccard: Option[Double] = None,
      art: Option[Artifacts] = None): DataFrame =
    clusters(minhashCandidates(docs, n = n, minEstJaccard = minEstJaccard,
        verifyJaccard = verifyJaccard, art = art)
      .select("doc_a", "doc_b"))
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")

  /** SimHash near-dup: 64-bit signatures, blocked on 16-bit bands (a pair
    * within Hamming distance d<=3 per band pigeonholes into at least one
    * identical band of 4), verified with `bit_count(xor) <= maxHamming`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val sigs = docs
      .select(col("doc_id"), TF.simhash(col("text")).as("sig"))
      .persist() // feeds band explode + both verify join sides
    val banded = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    val pairs = bucketPairs(
      banded.groupBy(col("band"), col("band_val")).agg(collect_list(col("doc_id")).as("ids")))
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    pairs
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Embedding near-dup: random-hyperplane LSH buckets, then exact cosine on
    * in-bucket pairs. 32 hyperplane bits in 2 bands of 16: at cosine ≥ 0.95
    * a bit agrees w.p. ≈ 0.9, so a band collides w.p. ≈ 0.19 and either-band
    * recall ≈ 1-(1-0.19)² ≈ 0.35 per pass — the structural scale path; the
    * exact baseline is `Similarity.bruteForceTopK`. 16-bit bands keep bucket
    * occupancy ≈ n/65536, so bucket sizes stay small at 10⁸ rows.
    */
  /** Exact substring-window dedup — the document-pair form of exact-substring
    * deduplication (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", which finds verbatim repeated spans with a
    * suffix array): two documents sharing a verbatim `width`-character
    * window are flagged as sharing copied text, with the count of distinct
    * shared windows as evidence weight.
    *
    * Window selection is CONTENT-DEFINED (winnowing-family, Schleimer et al.
    * 2003): a window is kept iff the first hex nibble of `md5(window)` is
    * '0' — an expected 1/16 sample that depends only on the window's bytes,
    * so a span shared at DIFFERENT offsets in two documents still selects
    * identical windows on both sides (positional striding would need the
    * offsets to agree mod stride). Detection of a shared span with m
    * eligible windows fails w.p. (15/16)^m — ≈ 4e-4 at 120 chars —
    * documented probabilistic recall like the LSH tiers; the deterministic
    * alternative is stride=1 (index every position), which is exactly the
    * suffix-array cost this sampling avoids.
    *
    * Scale shape: one explode over positions (codegen'd, no array
    * materialization of the grams — `sequence` explodes 4-byte offsets and
    * the gram is sliced AFTER the explode), 15/16 of grams dropped before
    * any shuffle, then the same bucket-join + `MaxBucket` star-degradation
    * as every other dedup tier. Nothing is O(n²); shuffle bytes ≈
    * corpus_bytes × width/16. A rolling-hash native `Expression` replacing
    * the md5-per-window is the next constant-factor lever if profiles say
    * the CPU matters.
    */
  def substringDupPairs(
      docs: DataFrame,
      width: Int = 40,
      minShared: Long = 2,
      art: Option[Artifacts] = None): DataFrame = {
    val wins = selectedWindows(docs, width, art)
    val grouped = wins.groupBy(col("win")).agg(collect_list(col("doc_id")).as("ids"))
    val allPairs = flatten(transform(col("ids"),
      a => filter(col("ids"), b => b > a).pipe(bs => transform(bs, b => struct(a.as("a"), b.as("b"))))))
    val starPairs = transform(
      filter(col("ids"), b => b > array_min(col("ids"))),
      b => struct(array_min(col("ids")).as("a"), b.as("b")))
    grouped
      .where(size(col("ids")) > 1)
      .select(explode(when(size(col("ids")) <= MaxBucket, allPairs)
        .otherwise(starPairs)).as("pair"))
      .select(col("pair.a").as("doc_a"), col("pair.b").as("doc_b"))
      // (doc, win) is distinct and a window contributes a pair once, so the
      // count IS the number of distinct shared selected windows.
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Distinct content-defined windows per doc (the substring tier's shared
    * extraction): explode positions, slice the gram AFTER the explode,
    * keep the md5-nibble 1/16 sample map-side.
    */
  private def selectedWindows(docs: DataFrame, width: Int,
      art: Option[Artifacts] = None): DataFrame =
    art.map(_.winsPos).getOrElse(windowTable(docs, width))
      .select(col("doc_id"), col("win"))
      .distinct()

  /** Per-document duplicated-text mass: how many of a doc's sampled windows
    * are shared with ANY other document — the corpus-level "fraction of
    * text that is verbatim duplicate" statistic dedup papers headline
    * (×16/width ≈ duplicated chars, by the sampling rate). Two hash
    * aggregations and a semi-join on the window key; the doc×doc pair
    * space is never touched, so this is the cheap corpus-health dashboard
    * number, with `substringDupPairs` as the drill-down.
    */
  def substringDupMass(docs: DataFrame, width: Int = 40,
      art: Option[Artifacts] = None): DataFrame = {
    val wins = selectedWindows(docs, width, art).persist() // feeds census + semi-join probe
    val shared = wins.groupBy(col("win"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("win"))
    wins.join(shared, Seq("win"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
  }

  /** Pre-aggregated window census — `(win, n_docs)`: distinct-holder count
    * per content-defined window. THIS is the substring tier's stored
    * artifact for a growing lake: counts MERGE under append (sum per
    * `win`), and the incremental probe below asks only EXISTENCE of it,
    * so appended census deltas can even be consumed without re-summing.
    * Built once at ingest (or store-build) time; [[substringMassIncremental]]
    * then semi-joins into it instead of group-counting every stored corpus
    * window per batch.
    */
  def windowCensus(wins: DataFrame): DataFrame =
    wins.select(col("doc_id"), col("win")).distinct()
      .groupBy(col("win")).agg(count(lit(1)).as("n_docs"))

  /** The census store's partition key: windows fan out by hash so an
    * incremental probe prunes the stored census to the partitions its own
    * windows can live in — the `bh_mod` treatment applied to the substring
    * tier. A fixed-size batch holds a bounded set of distinct windows, so
    * its pruned scan reads ≈ min(batch·wins, nMods)/nMods of the census;
    * sizing nMods to the census keeps the probe's scan term flat as the
    * lake grows.
    */
  private def winMod(nMods: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("win")), lit(nMods)).cast("int")

  /** Manifest pinned next to a hash-fanned-out census store: the window
    * width (census rows are a pure function of (text, width)) and the
    * partition fanout a probe must prune with. Same loud-drift contract as
    * [[IndexManifest]].
    */
  object CensusManifest {
    // underscore-prefixed: the manifest lives INSIDE the census parquet
    // root, and Spark's file index skips `_`/`.`-prefixed names (the
    // _SUCCESS convention) — any other name would be read as a data file
    private val io = new ManifestIo("census store", "_census_manifest.json")
    def write(root: String, width: Int, nMods: Int): Unit =
      io.write(root, io.render("width" -> width, "nmods" -> nMods))
    /** Assert the consumer's width against the pinned build params and
      * return the store's fanout (a property of the store, like
      * [[storeNMods]]).
      */
    def checkAndNMods(root: String, width: Int): Int = {
      val nm = io.intField(root, "nmods")
      io.check(root, io.render("width" -> width, "nmods" -> nm))
      nm
    }
  }

  /** Write a [[windowCensus]] table as a hash-fanned-out census store:
    * rows land under `win_mod = hash(win) % nMods` with the build params
    * pinned in the manifest. The artifact [[substringMassIncrementalStored]]
    * prunes into.
    */
  def writeCensusStore(census: DataFrame, path: String, width: Int,
      nMods: Int = NMods): Unit = {
    census.withColumn("win_mod", winMod(nMods))
      .storeWrite.mode("overwrite").partitionBy("win_mod").parquet(path)
    CensusManifest.write(path, width, nMods)
  }

  /** INCREMENTAL substring dup-mass — the substring tier's sibling of
    * [[minhashIncremental]]: per-doc count of the increment's sampled
    * windows shared with ANY other doc (the standing corpus, or another
    * increment doc), computed WITHOUT touching corpus text OR corpus
    * windows at large. The corpus contributes only its PRE-AGGREGATED
    * census (`corpusCensus`, the [[windowCensus]] artifact — mergeable
    * under append); per-batch cost is the increment's window extraction
    * plus one broadcast semi-join, so a fixed-size batch pays a bounded
    * shuffle no matter how big the standing corpus is. The census scan
    * itself streams map-side past a broadcast of the increment's windows —
    * never shuffled, never re-aggregated.
    *
    * Equivalence: an increment doc's window is "shared" iff the total
    * distinct holders across corpus ∪ increment is ≥ 2 — i.e. the corpus
    * holds it at all (present in the census), or a second increment doc
    * does (ni ≥ 2) — so the result equals the full-corpus
    * [[substringDupMass]] restricted to increment docs, which is what the
    * oracle recomputes.
    */
  def substringMassIncremental(
      corpusCensus: DataFrame,   // (win [, n_docs]) from [[windowCensus]]
      increment: DataFrame,
      width: Int = 40): DataFrame = {
    val winsInc = windowTable(increment, width)
      .select(col("doc_id"), col("win")).distinct()
      .persist() // intra-increment census + corpus probe + per-doc count
    massAgainstCensus(winsInc, corpusCensus)
  }

  /** [[substringMassIncremental]] against a STORED hash-fanned-out census
    * (the [[writeCensusStore]] layout): the increment's window hashes are
    * collected (bounded: ≤ nMods ints) and the census read prunes to
    * exactly the `win_mod` partitions those windows can live in BEFORE the
    * broadcast semi-join — the stored scan term is
    * min(batch·wins, nMods)/nMods of the census instead of all of it.
    * Width drift against the store's manifest throws.
    */
  def substringMassIncrementalStored(
      spark: org.apache.spark.sql.SparkSession,
      censusPath: String,
      increment: DataFrame,
      width: Int = 40): DataFrame = {
    val nm = CensusManifest.checkAndNMods(censusPath, width)
    val winsInc = windowTable(increment, width)
      .select(col("doc_id"), col("win")).distinct()
      .persist() // mods collect + intra census + corpus probe + count
    val mods = winsInc.select(winMod(nm).as("m"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
    val census = if (mods.isEmpty) winsInc.select(col("win")).limit(0)
      else readStore(spark, censusPath).where(col("win_mod").isin(mods: _*))
    massAgainstCensus(winsInc, census)
  }

  /** Broadcast ceiling for the census existence probe: the build side is
    * the INCREMENT's distinct windows — bounded by batch size, not corpus,
    * so every declared scale broadcasts — but a bulk backfill increment
    * (~10⁸ windows) would blow the driver/exchange broadcast limit. Past
    * this many increment window rows the probe drops the broadcast hint
    * and lets the planner run the semi-join shuffled (same result, but
    * BOTH sides exchange — including the census scan — which is why the
    * ceiling is set generous rather than conservative). 2M window rows
    * ≈ tens of MB built — comfortably inside default broadcast budgets
    * with margin for row overhead.
    */
  private[graft] val CensusProbeBroadcastLimit = 2L * 1000 * 1000

  /** Shared probe core of the incremental substring tiers: `winsInc` is
    * the increment's distinct (doc_id, win) set, ALREADY persisted by the
    * caller (released here via the eager checkpoint); `corpusCensus` is
    * whatever slice of the standing census the caller scoped (full table,
    * mod-pruned store read, or earlier stream deltas).
    */
  private[graft] def massAgainstCensus(
      winsInc: DataFrame, corpusCensus: DataFrame,
      broadcastLimit: Long = CensusProbeBroadcastLimit): DataFrame = {
    val sharedIntra = winsInc
      .groupBy(col("win")).agg(count(lit(1)).as("ni"))
      .where(col("ni") >= 2).select(col("win"))
    // EXISTENCE probe into the pre-aggregated census: census rows that
    // match an increment window. Join direction matters at scale — the
    // (big, stored, column-pruned to `win`) census is the streamed side,
    // the increment's windows the broadcast build side, so the probe is
    // one map-side pass over the census with no census aggregation.
    // Sizing the hint: the (doc_id, win) row count of the persisted
    // increment is a cheap sound UPPER bound on the build side (distinct
    // wins ≤ rows) — the common micro-batch path decides on that alone;
    // only when the bound fails (bulk backfill) is the build side counted
    // exactly, so a many-docs-few-windows backfill still broadcasts. Past
    // both, fall back to the planner's shuffled semi-join rather than
    // force a broadcast that cannot build — same result, at the cost of
    // shuffling BOTH sides (the census exchange is the price of outgrowing
    // the broadcast; it is why the ceiling is generous).
    val probeWins = winsInc.select(col("win")).distinct()
    val fitsBroadcast = winsInc.count() <= broadcastLimit ||
      probeWins.count() <= broadcastLimit
    val sharedCorpus = corpusCensus.select(col("win"))
      .join(if (fitsBroadcast) broadcast(probeWins) else probeWins,
        Seq("win"), "left_semi")
    val shared = sharedIntra.unionByName(sharedCorpus).distinct()
    // eager: the per-doc result (<= increment docs) is materialized so the
    // cached increment windows release immediately — a long-running caller
    // (per-batch invocation) leaks no cache entries
    val out = winsInc.join(shared, Seq("win"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
      .localCheckpoint(true)
    winsInc.unpersist()
    out
  }

  /** Materialized substring-clean corpus (the excision step of Lee et al.
    * 2021's "Deduplicating Training Data Makes Language Models Better"):
    * every sampled window shared with ANOTHER document marks its char span;
    * overlapping/adjacent spans merge into runs (relational gaps-and-
    * islands — `max(e) over preceding` then run-id prefix sums); runs are
    * excised and the surviving text fingerprinted. Returns per doc: run
    * count, removed chars, cleaned md5 + length.
    *
    * Scale shape: the window pass is the same content-defined 1/16 sample
    * as [[substringDupMass]] (map-side filter before any shuffle); islands
    * are per-doc windows over FLAGGED spans only (bounded by dup mass, not
    * text length); the one JVM UDF splices each doc's own runs — O(doc
    * length), embarrassingly parallel, no pair space anywhere.
    */
  def substringClean(docs: DataFrame, width: Int = 40,
      art: Option[Artifacts] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val winsPos = art.map(_.winsPos).getOrElse(windowTable(docs, width)
      .persist()) // feeds the shared-window census AND the flagged probe
    // cross-DOC sharing only: a window repeated inside one document is
    // self-similarity, not corpus duplication
    val shared = winsPos.select(col("doc_id"), col("win")).distinct()
      .groupBy(col("win")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("win"))
    val flagged = winsPos.join(shared, Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + width - 1).as("e"))
    val prior = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val runs = flagged
      .withColumn("pmax", max(col("e")).over(prior))
      .withColumn("newRun",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("run", sum(col("newRun")).over(ordered))
      .groupBy(col("doc_id"), col("run"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val excise = udf { (text: String, starts: Seq[Long], ends: Seq[Long]) =>
      val sb = new java.lang.StringBuilder
      var from = 0 // 0-based exclusive end of last removed run
      var i = 0
      while (i < starts.length) {
        sb.append(text.substring(from, starts(i).toInt - 1))
        from = ends(i).toInt
        i += 1
      }
      sb.append(text.substring(from))
      sb.toString
    }
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("rs"),
        count(lit(1)).as("n_runs"),
        sum(col("e") - col("s") + 1).as("removed_chars"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("cleaned",
        when(col("rs").isNull, col("text"))
          .otherwise(excise(col("text"),
            transform(col("rs"), r => r.getField("s")),
            transform(col("rs"), r => r.getField("e")))))
      .select(col("doc_id"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        length(col("cleaned")).cast("long").as("cleaned_chars"),
        md5(col("cleaned")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** STREAMING substring-census ingest — the substring tier's
    * [[minhashStreamKeep]]: documents arrive as an id-ordered file
    * stream; each micro-batch extracts its content-defined windows,
    * scores its own docs' duplicated-text mass against the census so far
    * (EXISTENCE in any earlier batch's delta, or a second holder within
    * the batch), appends its own census delta `(win, n_docs)` as its own
    * partition, and writes its per-doc mass rows.
    *
    * Arrival-time semantics: a window is DUP iff some OTHER doc holding
    * it arrived in an earlier-or-same batch — an arrival is judged
    * against the corpus as of its arrival and never retro-updated (the
    * ingest-monitoring shape; the full-corpus retrospective number is
    * [[substringDupMass]]). Census deltas MERGE under append (sum per
    * win), but the probe asks only existence, so a batch reads the stored
    * deltas PARTITION-PRUNED to its own windows' `win_mod` hash
    * partitions, COLUMN-PRUNED to `win`, and streamed past a broadcast of
    * its own windows — the census is never re-aggregated, and a fixed
    * batch scans min(batch·wins, nMods)/nMods of it rather than all of
    * it. Replay-idempotent: own-partition overwrite, probe reads
    * `batch < id` only.
    */
  def substringStreamMass(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      width: Int = 40,
      nMods: Int = NMods): DataFrame = {
    val censusDir = s"$workDir/census"
    val outDir = s"$workDir/mass"
    val static = spark.read.parquet(inputDir)
    // seed both stores so partition discovery resolves before batch 0; the
    // census deltas are hash-fanned-out by window ([[winMod]]) so each
    // batch's existence probe prunes to its own windows' partitions
    windowCensus(windowTable(static.limit(0), width))
      .storeWrite.mode("overwrite").parquet(s"$censusDir/batch=-1/win_mod=0")
    CensusManifest.write(censusDir, width, nMods)
    static.limit(0).select(col("doc_id"))
      .withColumn("n_dup_windows", lit(0L))
      .storeWrite.mode("overwrite").parquet(s"$outDir/batch=-1")
    withShufflePartitions(spark, 8) {
      val q = spark.readStream
        .schema(static.schema)
        .option("maxFilesPerTrigger", 1) // one arrival slice per micro-batch
        .parquet(inputDir)
        .writeStream
        .option("checkpointLocation", s"$workDir/_chk")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          substringStreamBatch(batch, batchId, censusDir, outDir, width)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(outDir).drop("batch")
  }

  private[graft] def substringStreamBatch(batch: DataFrame, batchId: Long,
      censusDir: String, outDir: String, width: Int): Unit = {
    val s2 = batch.sparkSession
    val nm = CensusManifest.checkAndNMods(censusDir, width)
    val winsInc = windowTable(batch, width)
      .select(col("doc_id"), col("win")).distinct()
      .persist() // mods collect + intra census + prior probe + count + delta
    val sharedIntra = winsInc
      .groupBy(col("win")).agg(count(lit(1)).as("ni"))
      .where(col("ni") >= 2).select(col("win"))
    // PARTITION-PRUNED existence probe: the batch's windows can only live
    // in their own hash partitions of the stored deltas, so only those
    // `win_mod` dirs are listed/scanned (bounded driver collect, ≤ nMods
    // ints) — then column-pruned to `win` and streamed past the broadcast
    val mods = winsInc.select(winMod(nm).as("m"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
    val prior = (if (mods.isEmpty) winsInc.select(col("win")).limit(0)
      else readStore(s2, censusDir)
        .where(col("batch") < batchId && col("win_mod").isin(mods: _*))
        .select(col("win")))
      .join(broadcast(winsInc.select(col("win")).distinct()), Seq("win"), "left_semi")
    val shared = sharedIntra.unionByName(prior).distinct()
    winsInc.join(shared, Seq("win"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
      .storeWrite.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // delta append under the store's fanout, own-partition overwrite
    // (replay-idempotent); coalesce(1) for the same small-file reason as
    // the band-store appends
    windowCensus(winsInc)
      .withColumn("win_mod", winMod(nm))
      .coalesce(1)
      .storeWrite.mode("overwrite").partitionBy("win_mod")
      .parquet(s"$censusDir/batch=$batchId")
    winsInc.unpersist()
    ()
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embedding space coarsely, then search for near-duplicate pairs ONLY
    * within each cluster — pairs above `minCosine` drop the later vec_id,
    * keeping one representative per semantic duplicate group. The
    * published recipe for pruning web-scale corpora by meaning (paraphrase
    * mirrors, templated rewrites) where exact/MinHash tiers see distinct
    * strings. Complements `embeddingNearDup`: hyperplane-LSH blocks by
    * random projections, SemDeDup by learned cluster structure — the
    * latter keeps recall when near-dups straddle band boundaries, at the
    * cost of one index build.
    *
    * Scale shape: clustering reuses the cached bounded-sample k-means
    * index (`Similarity.buildCentroids` — the only collect, nlist×dim
    * doubles); assignment is one map pass. The pair space is Σ|cellᵢ|² —
    * with nlist grown ∝ corpus (FAISS's √N rule or coarser), expected
    * cell size is constant and the join stays linear; the cell equi-join
    * hash-partitions by cell, so no executor ever sees the full corpus.
    */
  def semDedup(embeddings: DataFrame, minCosine: Double = 0.95,
               nlist: Int = 16, sampleRows: Int = 2048): DataFrame = {
    // empty corpus: nothing to cluster or drop — and the k-means index
    // build requires a non-empty sample
    if (embeddings.isEmpty) return embeddings
    val assigned = Similarity.assignCells(embeddings, nlist, sampleRows)
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    // persisted: when the input is a union, Catalyst pushes the anti join
    // below it and would otherwise evaluate the within-cell pair join once
    // per branch
    val drops = a.join(b, "cell")
      .where(col("vec_a") < col("vec_b") &&
        VectorOps.cosine(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
      .persist()
    embeddings.join(drops, Seq("vec_id"), "left_anti")
  }

  /** INCREMENTAL semantic dedup — the embedding tier's sibling of
    * [[minhashIncremental]], riding the FAISS add-vs-train split: the
    * coarse quantizer trains on the STANDING corpus only (the cached
    * bounded-sample k-means — in production the persisted centroids);
    * the increment is assigned to the existing cells in one map pass and
    * compared WITHIN ITS CELL against the corpus members and earlier
    * increment arrivals. Cosine ≥ `minCosine` drops the increment vector
    * (keep-first by vec_id within the increment). The corpus×corpus pair
    * space is never touched and the k-means never re-runs — per-batch
    * cost is the increment's assignment plus its cells' membership.
    * Returns the increment vec_ids to DROP.
    *
    * This form receives the corpus as RAW embeddings and re-assigns it
    * per call — the declared one-shot shape, kept as the contrast line.
    * The production twin is [[semDedupIncrementalStored]]: corpus cell
    * assignments persisted once, probes pruned to the increment's cells,
    * the corpus never re-assigned or shuffled.
    */
  def semDedupIncremental(
      corpus: DataFrame,
      increment: DataFrame,
      minCosine: Double = 0.95,
      nlist: Int = 16,
      sampleRows: Int = 2048): DataFrame = {
    if (increment.isEmpty)
      return increment.select(col("vec_id"))
    val corpusA = Similarity
      .assignCellsTrainedOn(corpus, corpus, nlist, sampleRows)
      .select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), lit(false).as("a_inc"))
    val incA = Similarity
      .assignCellsTrainedOn(corpus, increment, nlist, sampleRows)
      .persist() // standing-member union + probe side
    val members = corpusA.unionByName(incA
      .select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), lit(true).as("a_inc")))
    val probe = incA.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    val drops = members.join(probe, "cell")
      .where(col("vec_a") =!= col("vec_b") &&
        (!col("a_inc") || col("vec_a") < col("vec_b")) &&
        VectorOps.cosine(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
      .localCheckpoint(true) // release the cached assignment before returning
    incA.unpersist()
    drops
  }

  /** Manifest pinned next to a stored semantic-dedup index: the quantizer
    * build params (cells are a pure function of (corpus sample, nlist,
    * sampleRows)) and the store's cell-hash fanout. Same loud-drift
    * contract as [[IndexManifest]].
    */
  object SemManifest {
    private val io = new ManifestIo("semantic dedup store", "sem_manifest.json")
    // `quantized` is rendered only when set, so pre-field stores (which
    // are all full-precision) stay verifiable without migration
    private def render(nlist: Int, sampleRows: Int, nMods: Int,
        quantized: Boolean): String =
      if (quantized)
        io.render("nlist" -> nlist, "sampleRows" -> sampleRows,
          "nmods" -> nMods, "quantized" -> 1)
      else io.render("nlist" -> nlist, "sampleRows" -> sampleRows, "nmods" -> nMods)
    def write(root: String, nlist: Int, sampleRows: Int, nMods: Int,
        quantized: Boolean = false): Unit =
      io.write(root, render(nlist, sampleRows, nMods, quantized))
    def exists(root: String): Boolean = io.exists(root)
    /** The store's pinned `(nlist, sampleRows, nmods)` — for consumers
      * that FOLLOW the quantizer as maintenance evolves it (the streaming
      * tier across [[requantizeSemStore]] runs) rather than declaring it.
      */
    def read(root: String): (Int, Int, Int) =
      (io.intField(root, "nlist"), io.intField(root, "sampleRows"),
        io.intField(root, "nmods"))
    /** Whether the store holds SQ8 codes (`qvec`/`qscale`) instead of the
      * full-precision `embedding` column — a property OF the store every
      * consumer reads, never declares.
      */
    def quantized(root: String): Boolean = io.intFieldOr(root, "quantized", 0) == 1
    def checkAndNMods(root: String, nlist: Int, sampleRows: Int): Int = {
      val nm = io.intField(root, "nmods")
      io.check(root, render(nlist, sampleRows, nm, quantized(root)))
      nm
    }
  }

  /** Seed the STORED semantic-dedup index — the minhash band-store
    * treatment applied to embeddings: the coarse quantizer trains ONCE on
    * the standing corpus and persists as the centroid artifact
    * (`Similarity.saveIvfIndex` — the only collect is the bounded training
    * sample); the corpus's cell assignments `(cell, vec_id, embedding)`
    * persist under `cells/batch=0/cell_mod=<cell % nMods>`. From then on
    * the corpus is NEVER re-assigned or re-shuffled: increments append
    * their own assignments as their own batch partitions and probes prune
    * to the increment's cells ([[semDedupIncrementalStored]]).
    */
  def seedSemStore(corpus: DataFrame, storeDir: String, nlist: Int = 16,
      sampleRows: Int = 2048, nMods: Int = NMods,
      quantized: Boolean = false): Unit = {
    Similarity.saveIvfIndex(corpus, s"$storeDir/centroids", nlist, sampleRows)
    val assignedF = Similarity.assignStored(corpus, s"$storeDir/centroids")
      .select(col("cell"), col("vec_id"), col("embedding"))
    // the SQ8 store drops the fat float column — the minhash store's
    // column-weight lesson applied to the sem tier: cells persist
    // (cell, vec_id, qvec int8, qscale) at ~1/4 the bytes; cosine probes
    // need only the codes (per-vector scale cancels), maintenance
    // reconstructs via qvec*qscale
    val assigned =
      if (quantized) Similarity.quantizeWithScale(assignedF)
        .select(col("cell"), col("vec_id"), col("qvec"), col("qscale"))
      else assignedF
    // empty batch=-1 partition: discovery resolves before any real append
    assigned.limit(0)
      .storeWrite.mode("overwrite").parquet(s"$storeDir/cells/batch=-1/cell_mod=0")
    assigned
      .withColumn("cell_mod", pmod(col("cell"), lit(nMods)).cast("int"))
      .storeWrite.mode("overwrite").partitionBy("cell_mod")
      .parquet(s"$storeDir/cells/batch=0")
    SemManifest.write(storeDir, nlist, sampleRows, nMods, quantized)
  }

  /** INCREMENTAL semantic dedup against a STORED cell-assignment index —
    * the production form of [[semDedupIncremental]]: the standing corpus
    * contributes only its persisted `(cell, vec_id, embedding)` rows,
    * PARTITION-PRUNED to the increment's cells' `cell_mod` dirs and
    * semi-joined to exactly the increment's cells — the corpus is never
    * re-read in full, never re-assigned, and never shuffled (the pruned
    * store streams past a broadcast of the batch). The increment assigns
    * to the persisted centroids in one map pass (no k-means anywhere),
    * compares within-cell against the pruned members plus earlier
    * increment arrivals, appends its own assignments as batch `batchId`
    * (own-partition overwrite: replay-idempotent), and returns the
    * increment vec_ids to DROP. Per-call cost is the increment's
    * assignment plus its cells' membership — with nlist grown ∝ corpus
    * (cell size constant, the SemDeDup/FAISS sizing rule) that is
    * O(batch), independent of corpus size.
    */
  def semDedupIncrementalStored(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      increment: DataFrame,
      batchId: Long,
      minCosine: Double = 0.95,
      nlist: Int = 16,
      sampleRows: Int = 2048): DataFrame = {
    val nm = SemManifest.checkAndNMods(storeDir, nlist, sampleRows)
    val qz = SemManifest.quantized(storeDir)
    if (increment.isEmpty)
      return increment.select(col("vec_id"))
    val incA = Similarity.assignStored(increment, s"$storeDir/centroids")
      .select(col("cell"), col("vec_id"), col("embedding"))
      .persist() // mods collect + member union + probe + append
    val mods = incA.select(pmod(col("cell"), lit(nm)).cast("int").as("m"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded: <= nMods values
    val stored = if (mods.isEmpty) incA.limit(0)
      else {
        val pruned = readStore(spark, s"$storeDir/cells")
          .where(col("batch") < batchId && col("cell_mod").isin(mods: _*))
          .join(broadcast(incA.select(col("cell")).distinct()), Seq("cell"), "left_semi")
        // SQ8 store: the codes ARE the comparison vector — cosine is
        // scale-invariant, so the cast-up codes stand in for the embedding
        if (qz) pruned.select(col("cell"), col("vec_id"),
          col("qvec").cast("array<float>").as("embedding"))
        else pruned.select(col("cell"), col("vec_id"), col("embedding"))
      }
    val members = stored
      .select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), lit(false).as("a_inc"))
      .unionByName(incA.select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), lit(true).as("a_inc")))
    val probe = incA.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    // broadcast the PROBE side (the batch), stream the pruned store past it
    val drops = broadcast(probe).join(members, Seq("cell"))
      .where(col("vec_a") =!= col("vec_b") &&
        (!col("a_inc") || col("vec_a") < col("vec_b")) &&
        VectorOps.cosine(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("vec_b").as("vec_id")).distinct()
      .localCheckpoint(true)
    val append =
      if (qz) Similarity.quantizeWithScale(incA)
        .select(col("cell"), col("vec_id"), col("qvec"), col("qscale"))
      else incA
    append.withColumn("cell_mod", pmod(col("cell"), lit(nm)).cast("int"))
      .coalesce(1)
      .storeWrite.mode("overwrite").partitionBy("cell_mod")
      .parquet(s"$storeDir/cells/batch=$batchId")
    incA.unpersist()
    drops
  }

  /** RE-QUANTIZATION maintenance for the stored semantic-dedup index —
    * the op that lets `nlist` grow with the corpus WITHOUT the full
    * re-seed the stored probe exists to avoid. At a pinned nlist every
    * cell's membership grows linearly with the corpus, and with it every
    * batch's within-cell compare; the SemDeDup/FAISS sizing rule keeps
    * cell size constant by growing nlist ∝ corpus. This turns that knob
    * in place:
    *
    *   1. TRAIN `newNlist` centroids from the stored rows' deterministic
    *      bounded sample (`Similarity.saveIvfIndex` over the store itself;
    *      the only collect is the sample) into a staged artifact;
    *   2. RE-ASSIGN every stored `(cell, vec_id, embedding)` row to the
    *      staged centroids in ONE parallel job — a map pass plus a
    *      size-targeted (batch, cell_mod, slice) shuffle write, never a
    *      pair space — PRESERVING each row's `batch` provenance, so
    *      probe/replay semantics (`batch < batchId`, own-partition
    *      overwrite) are untouched. Requantize re-LABELS cells;
    *      [[StoredTable.compactStore]] collapses batches — orthogonal maintenance ops
    *      that compose;
    *   3. SWAP cells + centroids through the store-mutation protocol
    *      ([[StoredTable]]; sentinel in the cells dir): batch partitions
    *      and the centroid artifact move aside, the stage promotes, and
    *      the manifest bumps to `newNlist` and the JVM's centroid cache
    *      for the live path invalidates before the sentinel drops.
    *
    * Single-writer contract (the same one compaction carries): no
    * concurrent probes from OTHER JVMs during the swap window — in-JVM
    * the sentinel plus cache invalidation covers the ordering.
    */
  def requantizeSemStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      newNlist: Int,
      sampleRows: Int = 2048): Unit = {
    import org.apache.hadoop.fs.Path
    val (_, _, nm) = SemManifest.read(storeDir) // asserts the store is verifiable
    val qz = SemManifest.quantized(storeDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val cellsDir = s"$storeDir/cells"
    val centDir = s"$storeDir/centroids"
    val fs = StoredTable.fileSystem(conf, new Path(storeDir))
    val stageRoot = s"$storeDir/.requant_stage"
    val swap = StoredTable.preflight(fs, "requantizeSemStore", new Path(cellsDir),
      new Path(storeDir, ".requant_old"), new Path(stageRoot))
    // SQ8 store: reconstruct qvec*qscale (within half a quantization step
    // per component) for training + re-assignment; the codes themselves
    // rewrite through LOSSLESSLY — maintenance never re-quantizes
    val rows = (if (qz)
        readStore(spark, cellsDir)
          .select(col("batch"), col("vec_id"), col("qvec"), col("qscale"),
            transform(col("qvec"), x => (x.cast("float") * col("qscale")))
              .as("embedding"))
      else readStore(spark, cellsDir)
        .select(col("batch"), col("vec_id"), col("embedding")))
      .persist() // train sample + emptiness check + rewrite
    if (rows.isEmpty) {
      rows.unpersist()
      throw new IllegalArgumentException(
        s"requantizeSemStore: store at $storeDir holds no vectors — nothing to train on")
    }
    // stage the new quantizer + relabeled cells (old store fully readable
    // throughout). The staged-centroids cache entry is dropped first: the
    // stage path is REUSED across requantizes of one store, and the JVM
    // cache would otherwise serve a previous run's centroids.
    Similarity.invalidateIvfIndex(s"$stageRoot/centroids")
    Similarity.saveIvfIndex(rows.select(col("vec_id"), col("embedding")),
      s"$stageRoot/centroids", nlist = newNlist, sampleRows = sampleRows)
    val totalBytes = fs.getContentSummary(new Path(cellsDir)).getLength
    val slices = StoredTable.sizedSlices(totalBytes, perSlice = nm * StoredTable.TargetFileBytes)
    val payload: Seq[org.apache.spark.sql.Column] =
      if (qz) Seq(col("qvec"), col("qscale")) else Seq(col("embedding"))
    Similarity.assignStored(rows, s"$stageRoot/centroids")
      .select(Seq(col("batch"), col("cell"), col("vec_id")) ++ payload :+
        pmod(col("cell"), lit(nm)).cast("int").as("cell_mod"): _*)
      .repartition(nm * slices, col("batch"), col("cell_mod"),
        pmod(xxhash64(col("vec_id")), lit(slices)))
      .storeWrite.mode("overwrite").partitionBy("batch", "cell_mod")
      .parquet(s"$stageRoot/cells")
    rows.unpersist()
    val stagedCells = new Path(s"$stageRoot/cells")
    val stagedCent = new Path(s"$stageRoot/centroids")
    swap.verify(stagedCells, stagedCent)
    // the cells dir itself stays put (it holds the sentinel readers
    // watch); its batch partitions move aside individually, and the
    // staged batch partitions + centroid artifact promote into place
    val oldParts = fs.listStatus(new Path(cellsDir))
      .filter(_.getPath.getName.startsWith("batch=")).map(_.getPath).toSeq
    val stagedParts = fs.listStatus(stagedCells)
      .filter(_.getPath.getName.startsWith("batch=")).map(_.getPath).toSeq
    swap.commit(
      asides = oldParts :+ new Path(centDir),
      promotes = stagedParts.map(p => (p, new Path(cellsDir, p.getName))) :+
        ((stagedCent, new Path(centDir))),
      cleanup = Seq(new Path(stageRoot)),
      afterPromote = () => {
        SemManifest.write(storeDir, newNlist, sampleRows, nm, qz)
        Similarity.invalidateIvfIndex(centDir)
      })
  }

  /** STREAMING semantic dedup — the embedding tier's [[minhashStreamKeep]],
    * completing tier symmetry (exact/fuzzy/substring/ANN already stream):
    * vector drops arrive as an id-ordered file stream; the quantizer
    * BOOTSTRAPS on the first batch (train-if-absent — the one k-means of
    * the pipeline's life, `Similarity.streamIngestIvf`'s contract) over an
    * EMPTY cell store; every micro-batch then runs the stored incremental
    * probe ([[semDedupIncrementalStored]]): assign to the persisted
    * centroids in one map pass, compare within-cell against every earlier
    * arrival (partition-pruned to its own cells), append its own
    * assignments, and write its accepted (non-dropped) rows as its own
    * partition. A vector drops iff cosine ≥ `minCosine` to an
    * earlier-or-same-batch-smaller-id arrival — arrival-ordered greedy
    * keep-first, the rule every streaming tier shares. Replay-idempotent
    * throughout: own-partition overwrites, probe reads `batch < id`, and
    * the bootstrap re-trains to identical centroids (deterministic sample,
    * seed-free k-means).
    *
    * QUANTIZER AGING is handled by in-place maintenance, not by freezing
    * the bootstrap's nlist for the stream's life: when `targetCellRows`
    * is set, a batch whose append leaves mean cell membership above it
    * triggers [[requantizeSemStore]] to `nlist × growFactor` BETWEEN
    * batches — every later batch then reads the evolved quantizer from
    * the manifest (`nlist`/`sampleRows` params here are the BOOTSTRAP
    * values only). The trigger is threshold-based and therefore
    * replay-safe: a replayed batch re-checks the threshold against the
    * already-grown nlist and re-fires only if membership still exceeds it.
    */
  def semDedupStreamKeep(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      workDir: String,
      keepCols: Seq[String],
      minCosine: Double = 0.95,
      nlist: Int = 16,
      sampleRows: Int = 2048,
      nMods: Int = NMods,
      targetCellRows: Int = Int.MaxValue,
      growFactor: Int = 4,
      quantized: Boolean = false): DataFrame = {
    val accDir = s"$workDir/accepted"
    val static = spark.read.parquet(inputDir)
    static.select(keepCols.map(col): _*).limit(0)
      .storeWrite.mode("overwrite").parquet(s"$accDir/batch=-1")
    withShufflePartitions(spark, 8) {
      val q = spark.readStream
        .schema(static.schema)
        .option("maxFilesPerTrigger", 1) // one arrival slice per micro-batch
        .parquet(inputDir)
        .writeStream
        .option("checkpointLocation", s"$workDir/_chk")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          semDedupStreamBatch(batch, batchId, s"$workDir/semstore", accDir,
            keepCols, minCosine, nlist, sampleRows, nMods,
            targetCellRows, growFactor, quantized)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(accDir).drop("batch")
  }

  private[graft] def semDedupStreamBatch(batch: DataFrame, batchId: Long,
      storeDir: String, accDir: String, keepCols: Seq[String],
      minCosine: Double, nlist: Int, sampleRows: Int, nMods: Int,
      targetCellRows: Int = Int.MaxValue, growFactor: Int = 4,
      quantized: Boolean = false): Unit = {
    val s2 = batch.sparkSession
    // bootstrap, train-if-absent: centroids from the FIRST arrivals, an
    // EMPTY batch=-1 cell seed (batch 0 probes nothing earlier). Idempotent
    // on replay: if the manifest exists the store stands; if the crash hit
    // between index write and manifest, the retrain is deterministic.
    if (!SemManifest.exists(storeDir)) {
      Similarity.saveIvfIndex(batch, s"$storeDir/centroids", nlist, sampleRows)
      val shape = Similarity.assignStored(batch, s"$storeDir/centroids")
      (if (quantized) Similarity.quantizeWithScale(shape)
          .select(col("cell"), col("vec_id"), col("qvec"), col("qscale"))
        else shape.select(col("cell"), col("vec_id"), col("embedding")))
        .limit(0)
        .storeWrite.mode("overwrite").parquet(s"$storeDir/cells/batch=-1/cell_mod=0")
      SemManifest.write(storeDir, nlist, sampleRows, nMods, quantized)
    }
    // probe with the quantizer the store CURRENTLY pins — after an
    // in-stream requantize the manifest's nlist has outgrown the bootstrap
    // params, and declaring those would (rightly) drift-throw
    val (curNlist, curSample, _) = SemManifest.read(storeDir)
    val drops = semDedupIncrementalStored(s2, storeDir,
      batch.select(col("vec_id"), col("embedding")), batchId,
      minCosine, curNlist, curSample)
    batch.join(broadcast(drops), Seq("vec_id"), "left_anti") // drops <= batch
      .select(keepCols.map(col): _*)
      .storeWrite.mode("overwrite").parquet(s"$accDir/batch=$batchId")
    // index maintenance BETWEEN batches: if this append pushed mean cell
    // membership past the target, grow the quantizer in place — the knob
    // that keeps per-batch within-cell compare O(batch · targetCellRows)
    // as the stream ages, instead of O(batch · corpus/nlist) under a
    // frozen bootstrap quantizer. The count is one metadata-cheap parquet
    // count, paid only when maintenance is enabled.
    if (targetCellRows < Int.MaxValue) {
      val total = readStore(s2, s"$storeDir/cells").count()
      if (total > targetCellRows.toLong * curNlist)
        requantizeSemStore(s2, storeDir, curNlist * growFactor, curSample)
    }
    ()
  }

  def embeddingNearDup(embeddings: DataFrame, minCosine: Double = 0.95): DataFrame = {
    val sigs = embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"),
        VectorOps.lshSignature(col("embedding"), bits = 32).as("sig"))
      .persist() // feeds band explode + both verify join sides
    val banded = sigs.select(
      col("doc_id"),
      posexplode(array((0 until 2).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    val pairs = bucketPairs(
      banded.groupBy(col("band"), col("band_val")).agg(collect_list(col("doc_id")).as("ids")))
    val ea = sigs.select(col("doc_id").as("doc_a"), col("embedding").as("emb_a"))
    val eb = sigs.select(col("doc_id").as("doc_b"), col("embedding").as("emb_b"))
    pairs
      .join(ea, "doc_a").join(eb, "doc_b")
      .withColumn("cosine", VectorOps.cosine(col("emb_a"), col("emb_b")))
      .where(col("cosine") >= minCosine)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"), round(col("cosine"), 4).as("cosine"))
  }
}
