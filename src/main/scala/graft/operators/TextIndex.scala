package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import StoredTable.StoreWriter

/** STORED INVERTED INDEX for lexical (BM25) retrieval — the last serve
  * path that still scanned the raw corpus per query
  * ([[Corpus.bm25TopK]] tokenizes every document for every query). At
  * 100 TB a per-query corpus scan is the wrong physics: search engines
  * serve from a term-keyed postings store built once at ingest, and a
  * query touches only its own terms' slice of it. This family gives the
  * engine that store with the same lifecycle every other stored-index
  * family has (band index, census, sem store, IVF cells): incremental
  * batch append, pruned serve, impact-bounded serve, compaction (with
  * erasure folded in), right-to-erasure (literal and bulk victim
  * forms), and batch-TTL retention through the shared core.
  *
  * Layout (`idxDir/`) — the Lucene decomposition (postings + norms +
  * term dictionary + segment stats), each table `batch=`-partitioned so
  * incremental ingest, TTL aging, and compaction all stay
  * partition-local:
  *   - `postings/batch=<b>/tm_mod=<m>/` — rows `(term, doc_id, tf, dl)`
  *     where `tm_mod = pmod(hash(term), nMods)`. A query's scan prunes
  *     to ≤ |query terms| of the nMods hash partitions — the census
  *     store's win_mod discipline applied to terms. `dl` (the document's
  *     token length) is DENORMALIZED into the posting row, so the serve
  *     path needs no doc-length join at all: at lake scale the doc-length
  *     table is corpus-sized and its join would shuffle candidates
  *     against billions of rows for one long each. 8 bytes per posting
  *     buys a join-free serve (the Lucene norms trade).
  *   - `docs/batch=<b>/did_mod=<m>/` — ONE row per indexed document
  *     `(doc_id, dl)`, `did_mod = pmod(doc_id, nMods)` (the band index's
  *     sigs-table discipline). This is the index's MEMBERSHIP record:
  *     it includes zero-token documents (which have no postings rows but
  *     DO count in N/avgdl), it lets the erasure pre-scan prune to the
  *     victims' own partitions instead of scanning term-scattered
  *     postings, and it is the durable record a crashed erasure retry
  *     re-derives its victim set from (which is why erasure rewrites it
  *     LAST).
  *   - `terms/batch=<b>/tm_mod=<m>/` — one row per distinct term per
  *     batch `(term, df, max_tf, min_dl)` — the term dictionary plus
  *     the per-term MAX-IMPACT statistics ([[bm25TopKStoredBounded]]):
  *     df is the term's exact document frequency in the batch; `max_tf`
  *     / `min_dl` bound any single posting's BM25 contribution from
  *     above (score_t is increasing in tf, decreasing in dl). Vocab-
  *     sized, not corpus-sized.
  *   - `stats/batch=<b>/` — ONE row per batch `(n_docs, total_toks)`.
  *     The global N and avgdl the scorer needs are the SUM over batch
  *     rows: O(batches) tiny files at serve, never a corpus scan. The
  *     INVARIANT every maintenance op preserves: a batch's stats row
  *     equals the aggregate `(count, sum(dl))` of its `docs/` rows —
  *     which is what lets erasure RECOMPUTE stats (idempotent, staged,
  *     swapped) instead of decrementing in place (a crash mid-decrement
  *     would silently skew every later score).
  *   - `text_index_manifest.json` — pins `nMods`; every consumer
  *     re-renders and throws on drift ([[StoredTable.ManifestIo]] contract).
  *
  * Append contract: each `doc_id` is indexed by exactly ONE batch (the
  * incremental-ingest discipline every stored family shares); postings
  * for a (doc, term) pair therefore live in exactly one row, and serve
  * needs no cross-batch re-aggregation.
  *
  * Single-writer contract: like every store family here, maintenance
  * (delete/compact/retain) assumes one writer; concurrent maintenance
  * collides on the shared swap sentinel ([[StoredTable]]) and fails
  * loudly rather than corrupting. Retention routes through
  * [[StoredTable.retainStoreBatches]], so the sentinel refusal and the
  * drop-everything refusal hold for this family exactly as for the
  * band/census/sem/IVF stores.
  */
object TextIndex {

  /** Term-hash fanout (partition count of each batch's postings). A
    * query prunes to ≤ |terms| of these regardless of corpus size;
    * sizing nMods ∝ index keeps per-partition bytes flat — 16 keeps
    * test-scale file counts sane, a 100 TB index uses thousands (same
    * sizing note as [[Dedup.NMods]]).
    */
  val DefaultNMods = 16

  private def postingsDir(idxDir: String)  = s"$idxDir/postings"
  private def statsDir(idxDir: String)     = s"$idxDir/stats"
  private def docsDir(idxDir: String)      = s"$idxDir/docs"
  private def termsDir(idxDir: String)     = s"$idxDir/terms"
  private def positionsDir(idxDir: String) = s"$idxDir/positions"

  /** Pinned store parameters — fanout is a property OF the store;
    * appends after the first, and every serve, read it back rather than
    * declare it. Version 2 = the four-table layout (v1 had no docs/terms
    * tables); a v1 store fails the render check loudly instead of
    * serving with silently-absent membership.
    */
  private val manifest =
    new StoredTable.ManifestIo("text index store", "text_index_manifest.json")
  private def renderManifest(nMods: Int, positions: Boolean): String =
    manifest.render("version" -> 2, "nmods" -> nMods,
      "positions" -> (if (positions) 1 else 0))
  private def storeNMods(idxDir: String): Int =
    manifest.intField(idxDir, "nmods")
  /** Whether this store carries the positional tier (pinned at creation;
    * byte-equality of the manifest render makes a flag-drifting append
    * fail loudly). Absence in an old manifest means no positions — the
    * pre-field behavior, no migration needed.
    */
  private def storeHasPositions(idxDir: String): Boolean =
    manifest.intFieldOr(idxDir, "positions", 0) == 1

  /** The query terms' tm_mod partitions, computed ON THE DRIVER by
    * evaluating the exact Catalyst expression the writer fanned with
    * (`pmod(hash(term), nMods)` — Murmur3, seed 42) against each term
    * literal. The serve paths used to run a |terms|-row Spark job for
    * these ints; a job launch per query is pure scheduler overhead on a
    * value that is a pure function of the query string — at serve-path
    * cadence that is one fewer driver→cluster round trip per query.
    * Interpreted `eval` of a foldable expression = the same codegen
    * semantics, so the mods can never drift from the written fanout.
    */
  private[graft] def queryTermMods(terms: Seq[String], nMods: Int): Seq[Int] =
    terms.map { t =>
      // the resolved catalyst node itself (the Column API would hand back
      // an UnresolvedFunction, which cannot eval without an analyzer);
      // Murmur3Hash(seed 42) IS functions.hash, floorMod IS pmod for a
      // positive modulus — the exact writer-fanout arithmetic
      val h = org.apache.spark.sql.catalyst.expressions
        .Murmur3Hash(Seq(org.apache.spark.sql.catalyst.expressions.Literal(t)), 42)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Int]
      Math.floorMod(h, nMods)
    }.distinct.sorted

  /** Append one ingest batch of documents to the index: tokenize, count
    * per-(doc, term) tf with `dl` carried from the scan (= size of the
    * token array the generator explodes — tokens partition exactly into
    * terms, so that size IS Σ tf; no window re-derivation, no second
    * pass over the fat text column), hash-fan by term and write
    * `postings/batch=<batchId>/tm_mod=*` term-clustered; then from the
    * SAME one-pass postings frame (persisted for the append's duration —
    * batch-sized, released before return) derive the batch's term
    * dictionary (`terms/`: df + max-impact stats per term) without
    * re-tokenizing. Membership (`docs/`) and the one-row stats
    * partition come from a single cheap regexp-count scan of the batch
    * (`dl` via the codegen'd token counter, which equals the token-array
    * size) — and BOTH count zero-token documents: N must match
    * the full-scan scorer's doc count exactly, and the membership row
    * is what makes such documents erasable at all.
    *
    * Shuffle budget: one tokenize-explode aggregation (the tf groupBy —
    * the dl window exchange it used to chain is GONE, round 17),
    * range-partitioned staging exchanges (parallel across the
    * cluster — a single-task funnel here was measured at 200+ s for a
    * 400k-doc batch; range partitioning on (tm_mod, term) keeps each
    * output dir fed by the few tasks owning its contiguous range, so
    * files stay term-clustered AND few; the COLUMN-only repartition
    * form, never an explicit count, so AQE sizes each shuffle — a bulk
    * batch stays parallel at the advisory partition width while a
    * streaming micro-batch's tiny tables coalesce to one or two write
    * tasks instead of paying 32 fixed task overheads apiece), one
    * vocab-sized terms
    * aggregate off the persisted postings, and one batch scan for
    * membership+stats. Nothing corpus-sized: an append touches its
    * batch only; the independent table pipelines overlap on the writer
    * pool so one pipeline's straggler tail back-fills with the next's
    * tasks.
    */
  def appendTextIndexBatch(docs: DataFrame, idxDir: String, batchId: Long,
                           nMods: Int = DefaultNMods,
                           withPositions: Boolean = false): Unit =
    appendTextIndexBatches(Seq(docs -> batchId), idxDir, nMods, withPositions)

  /** Append SEVERAL independent ingest batches concurrently — the bulk
    * backfill shape (a lake-scale bootstrap indexes many arrival slices
    * at once, not one at a time). Each batch writes ONLY its own
    * `batch=<id>/` dirs in every table (the incremental-append
    * contract), so appends of distinct batch ids commute: the store is
    * byte-identical to running them one at a time, whatever the
    * interleaving. The manifest is written (or checked) ONCE up front —
    * concurrent first-appends can't race it — and every batch's table
    * pipelines are submitted to the shared writer pool TOGETHER, so one
    * batch's straggler tail back-fills with the next batch's tasks
    * (guide-§2.6 overlap, applied across batches instead of only within
    * one). The single-writer contract is about maintenance (swap ops)
    * vs writers; same-store maintenance must still not race this call.
    *
    * Failure: every batch's pipelines are planned inside the `try` and
    * run through [[StoredTable.inParallel]], which waits out every
    * pipeline before it rethrows; so when a later batch fails to plan
    * (e.g. it lacks `text`) or any write fails, the `finally` releases
    * every planned batch's append-scoped caches before the exception
    * propagates — no orphaned writer keeps running on a `batch=` dir a
    * same-process retry would write again.
    */
  def appendTextIndexBatches(batches: Seq[(DataFrame, Long)], idxDir: String,
                             nMods: Int = DefaultNMods,
                             withPositions: Boolean = false): Unit = {
    require(batches.nonEmpty, "appendTextIndexBatches: no batches")
    require(batches.map(_._2).distinct.length == batches.length,
      "appendTextIndexBatches: duplicate batch ids — each batch overwrites " +
        "its own batch= dirs, so duplicates would race each other")
    if (manifest.exists(idxDir))
      manifest.check(idxDir, renderManifest(nMods, withPositions))
    else manifest.write(idxDir, renderManifest(nMods, withPositions))
    val planned = scala.collection.mutable.ArrayBuffer.empty[(Seq[() => Unit], () => Unit)]
    try {
      batches.foreach { case (docs, batchId) =>
        planned += appendPipelines(docs, idxDir, batchId, nMods, withPositions)
      }
      StoredTable.inParallel(planned.toSeq.flatMap(_._1))
    } finally planned.foreach(_._2())
    ()
  }

  /** One batch's table pipelines, planned (not run): returns the writes
    * plus a release hook for the two append-scoped caches. Callers run
    * every write to completion before releasing.
    */
  private def appendPipelines(docs: DataFrame, idxDir: String,
                              batchId: Long, nMods: Int,
                              withPositions: Boolean): (Seq[() => Unit], () => Unit) = {
    val spark = docs.sparkSession
    // `dl` rides along FROM THE SCAN as size() OF THE SAME TOKEN ARRAY
    // the generator explodes (identical by construction to Σ tf over the
    // doc's postings — tokens partition exactly into terms — and to the
    // membership pass's \S+-run count). Carrying it through the tf
    // groupBy (doc_id functionally determines dl, so the extra key
    // changes no group) deletes the doc_id-keyed window exchange + sort
    // this pipeline used to pay to re-derive a number the scan already
    // knew — one shuffle less per ingest batch, at every scale. The
    // two-step select matters: the token array materializes in a project
    // BELOW the Generate (once per doc) and dl is an O(1) size() above
    // it — deriving dl from the TEXT column instead lands the expression
    // above the Generate, re-running a full-text regex per token row
    // (measured +0.6 s per append at the bench SF).
    val tf = docs
      .select(col("doc_id"), TF.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        coalesce(size(col("toks")).cast("long"), lit(0L)).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    // persisted for the append only: postings feed their own write AND
    // the terms-dictionary aggregate — without it the tokenize+groupBy
    // pipeline runs twice per append
    val postings = tf
      .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
      .persist()
    // persisted for the append only: ONE token-count scan of the batch
    // feeds both the membership write and the stats aggregate (the
    // stats row IS the membership aggregate — the invariant erasure
    // relies on)
    val membership = docs.select(col("doc_id"),
        coalesce(TF.tokenCount(col("text")).cast("long"), lit(0L)).as("dl"))
      .withColumn("did_mod", pmod(col("doc_id"), lit(nMods)).cast("int"))
      .persist()
    // The three table pipelines are INDEPENDENT of each other
    // (postings→terms share one cache, membership→stats another, the
    // positional tier recomputes from the batch), and each append used
    // to run them strictly back to back — so every pipeline's straggler
    // tail left the cluster idle before the next even started. They
    // overlap on the shared writer pool (the minhashIncrementalStored
    // pattern; actions are thread-safe, job descriptions thread-local),
    // which is exactly the guide's "overlap independent jobs" move: the
    // next pipeline's tasks back-fill executors the previous one's tail
    // frees. Within a pipeline, order is preserved (the dependent table
    // reads its parent's cache).
    val wPostings = () => {
        postings
          .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("tm_mod"))
          .repartitionByRange(col("tm_mod"), col("term"), col("doc_id"))
          .sortWithinPartitions(col("tm_mod"), col("term"), col("doc_id"))
          .storeWrite.mode("overwrite").partitionBy("tm_mod")
          .parquet(s"${postingsDir(idxDir)}/batch=$batchId")
        postings.groupBy(col("term"))
          .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
            min(col("dl")).as("min_dl"))
          .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
          .repartitionByRange(col("tm_mod"), col("term"))
          .sortWithinPartitions(col("tm_mod"), col("term"))
          .storeWrite.mode("overwrite").partitionBy("tm_mod")
          .parquet(s"${termsDir(idxDir)}/batch=$batchId")
      }
      val wMembership = () => {
        membership
          .repartitionByRange(col("did_mod"), col("doc_id"))
          .sortWithinPartitions(col("did_mod"), col("doc_id"))
          .storeWrite.mode("overwrite").partitionBy("did_mod")
          .parquet(s"${docsDir(idxDir)}/batch=$batchId")
        membership.agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("total_toks"))
          .coalesce(1)
          .storeWrite.mode("overwrite").parquet(s"${statsDir(idxDir)}/batch=$batchId")
      }
      // the OPTIONAL positional tier (the Lucene positions-enabled trade:
      // one extra tokenize pass + a token-stream-sized table buys phrase
      // and proximity serves that prune exactly like the postings do).
      // Same term-hash fanout, so a phrase query's scan lists ≤ |terms|
      // of the nMods dirs; (doc_id, pos) clusters inside each term run
      // for row-group pruning on the anchor join.
      val wPositions =
        if (!withPositions) Nil
        else Seq(() => {
          docs
            .select(col("doc_id"),
              posexplode(TF.tokens(lower(col("text")))).as(Seq("pos", "term")))
            .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
            .repartitionByRange(col("tm_mod"), col("term"), col("doc_id"), col("pos"))
            .sortWithinPartitions(col("tm_mod"), col("term"), col("doc_id"), col("pos"))
            .storeWrite.mode("overwrite").partitionBy("tm_mod")
            .parquet(s"${positionsDir(idxDir)}/batch=$batchId")
        })
    (Seq(wPostings, wMembership) ++ wPositions,
      () => { postings.unpersist(); membership.unpersist(); () })
  }

  /** BM25 top-k served FROM THE STORE — same scoring discipline as the
    * full-scan [[Corpus.bm25TopK]] (ln rounded at 6 dp, per-term
    * DECIMAL(18,8) fixing, final 4 dp; identical operation order), so on
    * the same corpus the two return byte-identical rows — which is what
    * makes every gate over this family an EXACT value oracle rather
    * than a recall bound.
    *
    * Serve shape: global (N, Σdl) from the per-batch stats rows —
    * O(batches) rows, no corpus scan; the postings scan prunes by
    * `tm_mod IN (mods of query terms)` (partition dirs skipped at
    * listing) AND `term IN (terms)` (row groups skipped by the
    * term-clustered layout's min/max stats). The matching candidates
    * (≤ Σ df(term) rows — bounded by the query's document frequencies,
    * not the store) are PERSISTED so the df aggregate and the scoring
    * pass share ONE store scan; df itself is a map-side-combined
    * aggregate broadcast back (a term-keyed window would collapse
    * parallelism to |terms| tasks — measured 2× slower than the scan at
    * 1.6M docs). One per-doc sum and a TakeOrderedAndProject finish —
    * and the ≤ k result rows MATERIALIZE before return, so the
    * candidate cache is released per query instead of accreting one
    * cached slice per query over a serving session's lifetime (the
    * serve returns k rows by construction; pinning them driver-side is
    * bounded by the query, not the data).
    *
    * `docFilter` (one `doc_id` column) is the Lucene FILTER-clause
    * composition: it restricts which docs are scored — semi-joined onto
    * the candidate slice — while df/N/avgdl stay corpus-level, so a
    * filtered search ranks by the same idf the unfiltered one does.
    * Compose with [[booleanSearchStored]] for filtered ranking.
    */
  def bm25TopKStored(spark: SparkSession, idxDir: String, terms: Seq[String],
                     k: Int = 20, k1: Double = 1.2, b: Double = 0.75,
                     docFilter: Option[DataFrame] = None): DataFrame = {
    val nMods = storeNMods(idxDir)
    // the query terms' own hash partitions: the SAME catalyst hash the
    // writer fanned with, evaluated driver-side (no per-query job)
    val mods = queryTermMods(terms, nMods)
    val stats = StoredTable.readStore(spark, statsDir(idxDir))
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
           sum(col("total_toks")).cast("double").as("total_toks"))
    // persisted: candidates feed the df aggregate AND the scoring join —
    // without it the pruned store slice is read twice (same discipline
    // as bm25TopK's tf)
    val cand = StoredTable.readStore(spark, postingsDir(idxDir))
      .where(col("tm_mod").isin(mods.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
      .persist()
    try {
      val dfreq = cand.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
      // FILTERED SEARCH (the Lucene filter-clause semantics): the filter
      // restricts which docs are SCORED, never the scoring statistics —
      // df/N/avgdl stay corpus-level, exactly as a boolean filter clause
      // leaves idf untouched. Applied as a semi join on the candidate
      // slice (each side ∝ the query, never corpus-sized).
      val scoredCand = docFilter match {
        case Some(f) => cand.join(f.select(col("doc_id")), Seq("doc_id"), "left_semi")
        case None    => cand
      }
      val out = scoredCand.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("idf", round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
        .withColumn("score_t",
          (col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl") / (col("total_toks") / col("n_docs")))))
            .cast("decimal(18,8)"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("score_t")).cast("double"), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(k)
      // bounded collect: ≤ k rows — the serve's declared result size
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally cand.unpersist()
  }

  /** Per-query-term impact statistics from the `terms/` dictionary: one
    * tm_mod-pruned, vocab-sized (never postings-sized) scan, aggregated
    * across batches — df sums (each doc is indexed by exactly one
    * batch), max_tf maxes, min_dl mins. Bounded collect: ≤ |terms| rows.
    */
  private def termImpactStats(spark: SparkSession, idxDir: String,
                              terms: Seq[String]): Map[String, (Long, Long, Long)] = {
    val nMods = storeNMods(idxDir)
    val mods = queryTermMods(terms, nMods)
    StoredTable.readStore(spark, termsDir(idxDir))
      .where(col("tm_mod").isin(mods.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), max(col("max_tf")).as("max_tf"),
        min(col("min_dl")).as("min_dl"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** IMPACT-BOUNDED BM25 serve — the WAND/MaxScore posture for
    * stopword-bearing queries. The exact serve's candidate set is
    * ∝ Σ df(term): one high-df term ("the") makes the postings scan
    * corpus-sized no matter how selective the rest of the query is.
    * Lucene-family engines bound this with per-term max-impact
    * statistics; this store carries them in the `terms/` dictionary
    * (df, max_tf, min_dl per term — vocab-sized), so the serve can
    * decide, BEFORE touching any postings, which terms' postings it
    * refuses to read:
    *
    *  - terms with df ≤ `dfCeiling` DRIVE: their postings are scanned
    *    and scored exactly as [[bm25TopKStored]] does;
    *  - terms with df > `dfCeiling` are CAPPED: their postings are
    *    never read — bytes stay bounded by the driver terms' df sum.
    *
    * CONTRACT (the documented recall bound): every per-term BM25
    * contribution is nonnegative, so each returned score UNDERSTATES
    * the true score by at most `cappedImpactBound` = Σ over capped
    * terms of idf(df) · (max_tf·(k1+1)) / (max_tf + k1·(1−b+b·min_dl/
    * avgdl)) — each factor monotone (score_t increases in tf, decreases
    * in dl), all inputs exact from the dictionary. Therefore: (a) for a
    * query whose terms ALL sit at or under the ceiling, the result is
    * bit-identical to the exact serve (it IS the exact serve); (b) any
    * document whose true score exceeds the returned k-th score plus the
    * bound is guaranteed present in the result. A query whose terms are
    * ALL capped has no driver leg and refuses loudly — raise the
    * ceiling or use the exact serve.
    *
    * Erasure keeps the bound sound: [[deleteFromTextIndex]] recomputes
    * affected batches' dictionary rows exactly, and between maintenance
    * the stats only move conservatively (removing postings can only
    * lower max_tf and raise min_dl).
    */
  def bm25TopKStoredBounded(spark: SparkSession, idxDir: String,
                            terms: Seq[String], k: Int = 20, dfCeiling: Long = Long.MaxValue,
                            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = termImpactStats(spark, idxDir, terms)
    val driver = terms.filter(t => stats.get(t).forall(_._1 <= dfCeiling))
    require(driver.nonEmpty,
      s"bm25TopKStoredBounded: every query term exceeds dfCeiling=$dfCeiling — " +
        "no driver terms remain; raise the ceiling or use bm25TopKStored")
    bm25TopKStored(spark, idxDir, driver, k, k1, b)
  }

  /** The bounded serve's error budget: (capped terms, Σ max possible
    * per-doc contribution of the capped terms + DECIMAL-fixing slack).
    * See [[bm25TopKStoredBounded]]'s contract. Reads the vocab-sized
    * dictionary and the O(batches) stats rows only.
    */
  def cappedImpactBound(spark: SparkSession, idxDir: String,
                        terms: Seq[String], dfCeiling: Long,
                        k1: Double = 1.2, b: Double = 0.75): (Seq[String], Double) = {
    val stats = termImpactStats(spark, idxDir, terms)
    val g = StoredTable.readStore(spark, statsDir(idxDir))
      .agg(sum(col("n_docs")).cast("double").as("n"),
        sum(col("total_toks")).cast("double").as("t"))
      .head() // 1-row global stats read
    val (n, avgdl) = (g.getDouble(0), g.getDouble(1) / g.getDouble(0))
    val capped = terms.filter(t => stats.get(t).exists(_._1 > dfCeiling))
    val bound = capped.map { t =>
      val (df, maxTf, minDl) = stats(t)
      val idf = math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6 + 0.5) / 1e6
      idf * (maxTf * (k1 + 1.0)) /
        (maxTf + k1 * (1.0 - b + b * minDl / avgdl)) +
        1e-6 // DECIMAL(18,8) per-term fixing slack
    }.sum
    // the serve rounds each doc's total at 4 dp — both the bounded and
    // the exact side can move up to half a step, so the bound over the
    // DISPLAYED scores carries one full 1e-4 step of slack
    (capped, if (capped.isEmpty) 0.0 else bound + 1e-4)
  }

  /** BOOLEAN retrieval from the stored postings — the filter half of a
    * production search engine (Lucene's BooleanQuery MUST / MUST_NOT),
    * served without touching the corpus: docs containing ALL `must`
    * terms and NONE of the `mustNot` terms. Each clause leg scans the
    * postings pruned to the query terms' tm_mod partitions (the same
    * listing-time discipline as [[bm25TopKStored]]): the MUST leg is
    * a doc-grouped distinct-term count equal to |must| (each (doc, term)
    * pair lives in exactly one posting row by the append contract, so
    * `count` ≡ `count distinct` — no distinct shuffle needed), the
    * MUST_NOT leg is a left-anti join against the excluded terms'
    * doc set. Candidates are ∝ Σ df over the query's terms, never
    * corpus-sized; output is the full match set (a filter, not a top-k,
    * so no driver-side collect — callers compose ranking on top, see
    * `q_bool_and_stored` / the filtered-rank form in TextIndexQueries).
    */
  def booleanSearchStored(spark: SparkSession, idxDir: String,
                          must: Seq[String], mustNot: Seq[String] = Nil): DataFrame = {
    require(must.nonEmpty, "booleanSearchStored: at least one MUST term")
    val nMods = storeNMods(idxDir)
    val mods = queryTermMods((must ++ mustNot).distinct, nMods)
    // the pruned slice — each clause leg re-derives it (≤2 pruned scans,
    // each ∝ its own terms' df; NOT persisted because the result is a
    // lazy unbounded filter the caller composes on, and a cache released
    // here would be gone before they run it)
    def cand(terms: Seq[String]): DataFrame =
      StoredTable.readStore(spark, postingsDir(idxDir))
        .where(col("tm_mod").isin(mods.toIndexedSeq.map(Integer.valueOf): _*) &&
          col("term").isin(terms: _*))
        .select(col("term"), col("doc_id"))
    val hits = cand(must.distinct)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"))
      .where(col("nt") === must.distinct.size)
      .select(col("doc_id"))
    val out =
      if (mustNot.isEmpty) hits
      else hits.join(cand(mustNot.distinct).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    out.orderBy(col("doc_id"))
  }

  /** The positional tier's pruned slice: positions rows for `terms`,
    * tm_mod partition-pruned at listing exactly like the postings
    * serves. Refuses loudly on a store built without positions — a
    * silent empty result would read as "no matches".
    */
  private def positionsSlice(spark: SparkSession, idxDir: String,
                             terms: Seq[String]): DataFrame = {
    require(storeHasPositions(idxDir),
      s"store at $idxDir was built without positions (withPositions=false) — " +
        "phrase/proximity serves need the positional tier; rebuild with it")
    val nMods = storeNMods(idxDir)
    val mods = queryTermMods(terms.distinct, nMods)
    StoredTable.readStore(spark, positionsDir(idxDir))
      .where(col("tm_mod").isin(mods.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("term").isin(terms.distinct: _*))
      .select(col("term"), col("doc_id"), col("pos"))
  }

  /** PHRASE search from the stored positional tier — the exact-match
    * query class the flat postings cannot answer (Lucene PhraseQuery):
    * docs where `phrase`'s terms occur CONSECUTIVELY, with the
    * occurrence count per doc. One tm_mod-pruned positions scan
    * (∝ Σ term frequency over the phrase's terms, never corpus-sized),
    * then the classic anchor trick: a row for term i at position p
    * anchors a candidate occurrence at `start = p − i`; a (doc, start)
    * holding ALL |phrase| slots is a match. Each (doc, pos) row is
    * unique by construction, so the slot count is a plain `count` —
    * no distinct shuffle. Repeated phrase terms work unchanged (the
    * broadcast term→slot map fans a row into every slot it fills).
    */
  def phraseSearchStored(spark: SparkSession, idxDir: String,
                         phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    require(phrase.length >= 2, "phraseSearchStored: need at least 2 terms")
    val slots = phrase.zipWithIndex.toDF("term", "slot")
    positionsSlice(spark, idxDir, phrase)
      .join(broadcast(slots), "term")
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"), col("slot"))
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("nt"))
      .where(col("nt") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("doc_id"))
  }

  /** PROXIMITY search from the stored positional tier (Lucene
    * SpanNearQuery): docs where `a` and `b` occur within `window` token
    * positions of each other — either order by default, or `a` strictly
    * BEFORE `b` with `ordered = true` (the inOrder=true span). One
    * pruned positions scan feeds both sides; the pair join is doc-keyed
    * (hash join) with the distance predicate as a residual — never a
    * position-cross-product across documents.
    */
  def proximitySearchStored(spark: SparkSession, idxDir: String,
                            a: String, b: String, window: Int,
                            ordered: Boolean = false): DataFrame = {
    require(a != b && window >= 1,
      s"proximitySearchStored: need two distinct terms and window >= 1")
    val slice = positionsSlice(spark, idxDir, Seq(a, b))
    val pa = slice.where(col("term") === a).select(col("doc_id"), col("pos").as("pa"))
    val pb = slice.where(col("term") === b).select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, "doc_id")
      .where(if (ordered) (col("pb") - col("pa")).between(1, window)
             else abs(col("pa") - col("pb")) <= window)
      .select(col("doc_id")).distinct()
      .orderBy(col("doc_id"))
  }

  /** REAL streaming ingest of the text index: document drops arrive as
    * a file stream and each micro-batch appends its own postings batch
    * (`batch=<streaming batch id>`) plus its membership/dictionary/stats
    * partitions — the incremental-append contract, driven by Structured
    * Streaming. Idempotent under micro-batch replay (foreachBatch may
    * re-run a batch after a crash): the append overwrites its OWN
    * `batch=` dirs only, so a replay converges to the same store.
    * Serves during ingest see a consistent prefix (a batch's postings
    * land before its stats only transiently; the scorer's stats sum is
    * conservative in that window). Runs the stream to completion of
    * available input.
    */
  def streamIngestTextIndex(spark: SparkSession, inputDir: String,
                            idxDir: String, nMods: Int = DefaultNMods,
                            withPositions: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = StoredTable.fileSystem(spark, new Path(idxDir))
    val static = spark.read.parquet(inputDir)
    val q = spark.readStream
      .schema(static.schema)
      .option("maxFilesPerTrigger", 2) // two arrival slices per micro-batch
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", s"$idxDir/_textidx_chk")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        appendTextIndexBatch(batch.select(col("doc_id"), col("text")),
          idxDir, batchId, nMods, withPositions)
        // RIGHT-TO-ERASURE SLOT (the IVF stream's discipline applied to
        // the lexical tier): requests enqueued by
        // [[enqueueTextIndexErasure]] drain HERE, in the between-batch
        // window where the stream IS the single writer — an external
        // deleteFromTextIndex racing the stream's appends is out of the
        // single-writer contract. EXTERNAL-WRITER GUARD as everywhere:
        // a foreign swap holding any table's sentinel defers the drain
        // to the next trigger instead of killing the stream (the append
        // above is safe regardless — it writes only its own new batch=
        // dirs). Idle path = four metadata existence checks + one queue
        // dir check per trigger.
        val foreignSwap = Seq(postingsDir(idxDir), termsDir(idxDir),
            docsDir(idxDir), statsDir(idxDir))
          .exists(StoredTable.swapInProgress(fs, _))
        if (!foreignSwap) drainTextIndexErasures(spark, idxDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Enqueue a right-to-erasure request against a (possibly live)
    * streaming text index — literal id form. See [[ErasureQueue]] for
    * the protocol; the stream drains in its between-batch slot.
    */
  def enqueueTextIndexErasure(spark: SparkSession, idxDir: String,
                              ids: Seq[Long]): Unit =
    ErasureQueue.enqueueIds(spark, idxDir, ids, "enqueueTextIndexErasure")

  /** Bulk (victim-table) form of the text-index erasure request — the
    * compliance-batch shape: the ids ride as a parquet payload written
    * distributed, never through driver memory.
    */
  def enqueueTextIndexErasure(spark: SparkSession, idxDir: String,
                              victims: DataFrame): Unit =
    ErasureQueue.enqueueTable(spark, idxDir, victims, "doc_id",
      "enqueueTextIndexErasure")

  /** Drain the pending-erasure queue against the text index — called
    * from the ingest stream's between-batch slot (and safe to call on a
    * quiesced store directly). Returns victim docs erased.
    */
  def drainTextIndexErasures(spark: SparkSession, idxDir: String): Long =
    ErasureQueue.drain(spark, idxDir,
      applyIds = ids => deleteFromTextIndex(spark, idxDir, ids),
      applyTable = victims => deleteFromTextIndex(spark, idxDir, victims))

  /** Right-to-erasure from the text index, literal-victim form (a
    * handful of ids). Runs the DataFrame form's protocol — see there —
    * but works out the victims' did_mods on the driver (`floorMod`
    * equals the writer's `pmod` for a positive nMods) and leaves its
    * local victim relation uncached, so it pays no job for either.
    */
  def deleteFromTextIndex(spark: SparkSession, idxDir: String,
                          docIds: Seq[Long]): Long = {
    require(docIds.nonEmpty, "deleteFromTextIndex: empty id set")
    import spark.implicits._
    val nMods = storeNMods(idxDir)
    val ids = docIds.distinct
    eraseVictims(spark, idxDir, ids.toDF("doc_id"),
      ids.map(d => Math.floorMod(d, nMods.toLong).toInt).distinct.sorted)
  }

  /** Right-to-erasure from the text index, BULK-victim form: the victim
    * set is a TABLE (a compliance batch is 10⁵–10⁷ ids — a literal
    * `isin` stops scaling around 10⁴; see
    * [[StoredTable.deleteRowsFromStoreJoin]]), applied to all four tables in
    * an order chosen for CRASH-SAFE RETRY:
    *
    *  1. PRE-SCAN the membership table (`docs/`), pruned to the
    *     victims' own did_mod partitions — never the term-scattered
    *     postings — for what the later stages need, one row per
    *     affected batch: (batch, victims present, any victim with
    *     dl > 0). This is also what makes ZERO-TOKEN documents erasable:
    *     they have no postings rows, but they hold a membership row and
    *     count in N/avgdl, so skipping them would leave the stored N
    *     permanently one high per such victim.
    *  2. POSTINGS: file-targeted rewrite through the shared erasure
    *     core (cold files byte-identical; moved bytes track victim
    *     placement). A doc's terms hash across all tm_mods, so this
    *     scan cannot partition-prune — the honest physics of erasing a
    *     row scattered by design.
    *  3. TERMS dictionary: the affected batches' rows RECOMPUTE from
    *     their post-delete postings (exact df/max_tf/min_dl — keeps the
    *     bounded serve's error bound sound), staged one file per
    *     (batch, tm_mod) directory and promoted behind the checked
    *     swap ([[StoredTable]]).
    *  4. STATS: the affected batches' rows RECOMPUTE as the aggregate
    *     of membership-minus-victims, staged and swapped — NOT
    *     decremented in place: recomputation is idempotent under retry,
    *     and the swap means a crash can never leave a half-written
    *     stats row silently skewing every later score (a batch left
    *     fully erased simply loses its stats row, which sums as zero).
    *  5. MEMBERSHIP last: `docs/` is the durable record steps 2-4
    *     derive their victim set from on a crashed retry — postings
    *     delete re-prices to 0 (no-op), terms/stats recompute to the
    *     same values, and only then does the membership row go. Pruned
    *     victim scan (did_mod), file-targeted rewrite.
    *
    * Single-writer contract as everywhere; each swap raises the shared
    * sentinel, so probes refuse during any window. Every table
    * pre-flights before the first is touched, so a leftover of a crashed
    * swap on ANY table refuses the whole erasure with the store
    * unchanged. Within the ordering
    * above, steps that touch DIFFERENT tables and share no derivation
    * edge overlap on the writer pool (postings ∥ positions ∥ stats —
    * stats reads membership, never postings; the dictionary chains on
    * the postings swap): the crash-retry argument only needs membership
    * LAST and the dictionary recomputed from post-delete postings, both
    * of which the future graph preserves. The overlap does open one
    * ANTI-CONSERVATIVE window: stats may finish their swap before the
    * postings delete lands, and a crash between the two (no sentinel
    * held) leaves a servable store whose stats already exclude the
    * victims while postings still hold them — n_docs/total_toks
    * under-count, so idf and avgdl skew the opposite way from the serial
    * order's window (which over-counted) until the retry, which still
    * converges because membership goes last. Returns the number of
    * victim documents actually present (the sum of the per-batch
    * counts).
    */
  def deleteFromTextIndex(spark: SparkSession, idxDir: String,
                          victims: DataFrame): Long = {
    val nMods = storeNMods(idxDir)
    val v = victims.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .persist() // released below; shared by all five stages
    try {
      import spark.implicits._
      val mods = v.select(pmod(col("doc_id"), lit(nMods)).cast("int").as("m"))
        .distinct().as[Int].collect().sorted // bounded: ≤ nMods ints
      eraseVictims(spark, idxDir, v, mods.toIndexedSeq)
    } finally v.unpersist()
  }

  /** The erasure protocol of [[deleteFromTextIndex]] for a distinct
    * victim table `v` whose ids live in membership partitions `mods`.
    */
  private def eraseVictims(spark: SparkSession, idxDir: String,
                           v: DataFrame, mods: Seq[Int]): Long = {
    val modPrune = col("did_mod").isin(mods.map(Integer.valueOf): _*)
    // bounded collect: one row per batch holding a victim —
    // (batch, victims present, any victim with dl > 0), so driver
    // memory scales with batches, not victims
    val perBatch = StoredTable.readStore(spark, docsDir(idxDir))
      .where(modPrune)
      .join(broadcast(v), Seq("doc_id"), "left_semi")
      .groupBy(col("batch").cast("long"))
      .agg(count(lit(1)), max(col("dl")) > 0L)
      .collect()
    if (perBatch.isEmpty) return 0L
    val affected = perBatch.map(_.getLong(0)).sorted.toIndexedSeq
    // batches that actually hold victim POSTINGS (dl > 0) — a
    // zero-token victim changes membership and stats but no postings,
    // so its batch's dictionary is already exact
    val postingBatches =
      perBatch.filter(_.getBoolean(2)).map(_.getLong(0)).sorted.toIndexedSeq
    // Stages 2-4 overlap to the full extent their derivation edges
    // allow: postings, the positional tier, AND the stats recompute
    // are mutually independent (postings/positions are different
    // tables through the same file-targeted core; stats recomputes
    // from the STILL-UNTOUCHED membership minus victims — it never
    // reads postings), so all three submit together. Only the TERM
    // DICTIONARY has a real edge — it recomputes from the POST-delete
    // postings — so it runs right after the postings erasure, in the
    // same writer, instead of waiting for everything. Crash-retry stays
    // intact whatever subset completed: every stage idempotently
    // re-derives from membership (rewritten strictly LAST below),
    // postings re-prices to the still-present victims, and the
    // recomputing swaps produce the same values on retry. Every table
    // pre-flights first, so a leftover on one refuses before any moves.
    val positions = storeHasPositions(idxDir)
    (Seq("postings" -> postingsDir(idxDir), "docs" -> docsDir(idxDir)) ++
        (if (positions) Seq("positions" -> positionsDir(idxDir)) else Nil))
      .foreach { case (t, dir) => StoredTable.preflightErasure(spark, dir, s"deleteFromTextIndex($t)") }
    rewriteSwap(spark, statsDir(idxDir), "rewriteStats")
    if (postingBatches.nonEmpty) rewriteSwap(spark, termsDir(idxDir), "rewriteTermDictionary")
    StoredTable.inParallel(Seq(
      () => {
        StoredTable.deleteRowsFromStoreJoin(spark, postingsDir(idxDir),
          "deleteFromTextIndex(postings)", v, "doc_id",
          partitionCols = Seq("batch", "tm_mod"),
          clusterCols = Seq("term", "doc_id"))
        if (postingBatches.nonEmpty) rewriteTermDictionary(spark, idxDir, postingBatches)
      },
      () => rewriteStats(spark, idxDir, affected, v)) ++
      (if (!positions) Nil else Seq(() => {
        StoredTable.deleteRowsFromStoreJoin(spark, positionsDir(idxDir),
          "deleteFromTextIndex(positions)", v, "doc_id",
          partitionCols = Seq("batch", "tm_mod"),
          clusterCols = Seq("term", "doc_id", "pos"))
        ()
      })))
    StoredTable.deleteRowsFromStoreJoin(spark, docsDir(idxDir),
      "deleteFromTextIndex(docs)", v, "doc_id",
      partitionCols = Seq("batch", "did_mod"),
      clusterCols = Seq("doc_id"),
      prune = modPrune)
    perBatch.map(_.getLong(1)).sum
  }

  /** Recompute the `terms/` dictionary rows of `batches` from their
    * CURRENT postings (one batch-pruned postings scan — erasure-cadence
    * work, not serve-path), staged and promoted behind the checked
    * swap. A batch whose postings are now empty simply loses its
    * dictionary partition (no staged dir promotes over the set-aside
    * one) — consistent with a term dictionary that has nothing to
    * describe.
    */
  private def rewriteTermDictionary(spark: SparkSession, idxDir: String,
                                    batches: Seq[Long]): Unit =
    swapBatches(spark, termsDir(idxDir), "rewriteTermDictionary", batches) { stage =>
      // one shuffle, one file per (batch, tm_mod) directory: the postings
      // already carry their term's tm_mod, so hash-partitioning on
      // (batch, tm_mod) clusters every group the aggregation needs
      StoredTable.readStore(spark, postingsDir(idxDir))
        .where(col("batch").isin(batches.map(java.lang.Long.valueOf): _*))
        .repartition(col("batch"), col("tm_mod"))
        .groupBy(col("batch"), col("tm_mod"), col("term"))
        .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
          min(col("dl")).as("min_dl"))
        .sortWithinPartitions(col("batch"), col("tm_mod"), col("term"))
        .storeWrite.mode("overwrite").partitionBy("batch", "tm_mod")
        .parquet(stage)
    }

  /** Recompute the `stats/` rows of `batches` as the aggregate of
    * membership-minus-victims (the invariant: stats(batch) ==
    * agg(docs(batch))), staged and promoted behind the checked swap —
    * idempotent under retry, never a partial in-place overwrite.
    */
  private def rewriteStats(spark: SparkSession, idxDir: String,
                           batches: Seq[Long], victims: DataFrame): Unit =
    swapBatches(spark, statsDir(idxDir), "rewriteStats", batches) { stage =>
      StoredTable.readStore(spark, docsDir(idxDir))
        .where(col("batch").isin(batches.map(java.lang.Long.valueOf): _*))
        .join(broadcast(victims), Seq("doc_id"), "left_anti")
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_toks"))
        .coalesce(1)
        .storeWrite.mode("overwrite").partitionBy("batch")
        .parquet(stage)
    }

  /** The pre-flighted swap of [[swapBatches]] on table `dir` (trash and
    * stage beside it, tag `rewrite`), with the file system and stage.
    */
  private def rewriteSwap(spark: SparkSession, dir: String, opName: String)
      : (org.apache.hadoop.fs.FileSystem, StoredTable.Swap, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = StoredTable.fileSystem(spark, root)
    val (swap, stage) = StoredTable.preflightBeside(fs, root, opName, "rewrite")
    (fs, swap, stage)
  }

  /** Replace the `batch=` partitions of table `dir` for `batches`:
    * `write` stages their recomputed rows (partitioned by `batch`) at
    * the path it is given, and the store-mutation protocol
    * ([[StoredTable]]) promotes each staged partition over the old one.
    * A batch that stages no rows loses its partition.
    */
  private def swapBatches(spark: SparkSession, dir: String, opName: String,
                          batches: Seq[Long])(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val (fs, swap, stage) = rewriteSwap(spark, dir, opName)
    write(stage.toString)
    def part(base: Path, b: Long) = new Path(base, s"batch=$b")
    swap.commit(
      asides = batches.map(part(root, _)).filter(fs.exists(_)),
      promotes = batches.map(b => (part(stage, b), part(root, b)))
        .filter { case (src, _) => fs.exists(src) },
      cleanup = Seq(stage))
  }

  /** Batch-TTL retention for the text index: drop `batch <= cutoff`
    * partitions of ALL FOUR tables as pure metadata through the SHARED
    * retention core ([[StoredTable.retainStoreBatches]] — no data file read,
    * planned, or rewritten), which brings this family the same two
    * refusals every other stored family has: a maintenance-swap
    * sentinel on any table refuses retention (dropping dirs under a
    * half-swapped store would corrupt the restore path), and a cutoff
    * that would age out EVERY batch refuses loudly (an empty store is
    * unseedable — rebuild instead). Stats drop LAST: between tables a
    * crash leaves N at-or-above the surviving postings' doc count, so
    * scores err conservative, never inflated. Aging is EXACT for this
    * family: a batch's docs contribute nothing outside their own
    * partitions, so post-retention serves equal a corpus that never
    * held the aged docs. Returns dropped batch ids per table.
    */
  def retainTextIndexBatches(spark: SparkSession, idxDir: String,
                             cutoff: Long): Map[String, Seq[Long]] =
    (Seq("postings" -> postingsDir(idxDir), "terms" -> termsDir(idxDir),
         "docs" -> docsDir(idxDir), "stats" -> statsDir(idxDir)) ++
      (if (storeHasPositions(idxDir))
         Seq("positions" -> positionsDir(idxDir)) else Nil))
      .map { case (name, dir) =>
        name -> StoredTable.retainStoreBatches(spark, dir,
          s"retainTextIndexBatches($name)", cutoff)
      }.toMap

  /** Fold all batches `<= upTo` of every table into ONE consolidated
    * `batch=upTo` — the small-batches maintenance op (every micro-batch
    * append adds nMods files; steady-state ingest compacts
    * periodically, exactly like the band index's [[Dedup.compactIndex]])
    * — optionally FOLDING ERASURE IN: `dropIds` victims simply drop out
    * of the fold's reads, so a compliance batch large enough to
    * saturate file-targeted deletion (V ≫ F touches ~every file:
    * 1−(1−1/F)^V) costs ONE rewrite instead of two back-to-back
    * store-scale rewrites — the same argument as
    * [[Similarity.compactIvfStore]]'s dropIds leg, with the stats
    * decrement folded in FOR FREE (the folded stats row is the
    * aggregate of the folded membership, which already excludes
    * victims; the folded dictionary recomputes from the folded
    * postings, keeping the impact bounds exact).
    *
    * Victims in batches NEWER than `upTo` would silently survive the
    * fold, so the op prices them first — one did_mod-equivalent pruned
    * membership count, never a postings scan — and refuses. A fold+
    * erase that would leave the WHOLE STORE empty refuses too (empty
    * store unseedable — rebuild). Rewrites ONLY the folded batches —
    * younger batches stay byte-identical — each table behind the
    * checked recoverable swap. Compose with retention the usual way:
    * compact first only if `upTo` is younger than the retention cutoff.
    * Returns (source batches folded, victim docs erased by the fold).
    */
  def compactTextIndexBatches(spark: SparkSession, idxDir: String,
                              upTo: Long, dropIds: Seq[Long] = Nil): (Long, Long) = {
    val victims: Option[DataFrame] =
      if (dropIds.isEmpty) None
      else {
        import spark.implicits._
        Some(dropIds.distinct.toDF("doc_id"))
      }
    compactTextIndexBatchesBy(spark, idxDir, upTo, victims)
  }

  /** Bulk-victim form of the erasure-folding compaction — the fold is
    * exactly where a saturating compliance batch should land, so the
    * victim set scales like the delete's bulk form: a TABLE through the
    * broadcast semi/anti joins, never a driver-built literal list.
    */
  def compactTextIndexBatches(spark: SparkSession, idxDir: String,
                              upTo: Long, dropVictims: DataFrame): (Long, Long) =
    compactTextIndexBatchesBy(spark, idxDir, upTo,
      Some(dropVictims.select(col("doc_id").cast("long").as("doc_id")).distinct()))

  private def compactTextIndexBatchesBy(
      spark: SparkSession, idxDir: String,
      upTo: Long, victims: Option[DataFrame]): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val nMods = storeNMods(idxDir) // manifest-presence assert (the fold keeps the fanout)
    def dropV(df: DataFrame): DataFrame = victims match {
      case Some(v) => df.join(broadcast(v), Seq("doc_id"), "left_anti")
      case None    => df
    }
    // price the erasure leg off the membership table (never postings):
    // refuse victims the fold would not rewrite, count what it will erase,
    // refuse a fold that empties the store
    val erased = victims match {
      case None => 0L
      case Some(v) =>
        val docs = StoredTable.readStore(spark, docsDir(idxDir))
        val newer = docs.where(col("batch") > upTo)
          .join(broadcast(v), Seq("doc_id"), "left_semi").count()
        require(newer == 0L,
          s"compactTextIndexBatches: $newer victim docs live in batches > $upTo — " +
            "the fold would not rewrite them and they would silently survive " +
            "erasure; widen upTo past their batches or use deleteFromTextIndex")
        val hit = docs.where(col("batch") <= upTo)
          .join(broadcast(v), Seq("doc_id"), "left_semi").count()
        if (hit > 0L) {
          val survivors = dropV(docs).limit(1).count()
          require(survivors > 0L,
            "compactTextIndexBatches: the fold would erase every remaining " +
              "document — an empty store is unseedable; rebuild instead")
        }
        hit
    }
    // per-table fold recipes: (dir, staged writer to a target path). The
    // dictionary and stats tables RECOMPUTE from the folded postings/
    // membership rather than folding their own rows, so an erasure fold
    // keeps them exact. Every table but stats (one coalesced row) stages
    // through the range-clustered restage at Spark's default count.
    val recipes: Seq[(String, (DataFrame, String) => Unit)] = Seq(
      postingsDir(idxDir) -> { (src: DataFrame, out: String) =>
        StoredTable.clusteredStage(
          dropV(src)
            .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("tm_mod")),
          Seq("tm_mod", "term", "doc_id"), Seq("tm_mod"), out, None)
      },
      termsDir(idxDir) -> { (src: DataFrame, out: String) =>
        // pure fold: df SUMS across batches (each doc indexed by exactly
        // one batch), max_tf maxes, min_dl mins — a vocab-sized scan of
        // the dictionary itself, never the postings. With victims the
        // stats must RECOMPUTE from the folded postings (a victim's tf
        // could have been the max) — erasure-cadence cost only.
        val folded =
          if (victims.isEmpty)
            src.groupBy(col("term"))
              .agg(sum(col("df")).as("df"), max(col("max_tf")).as("max_tf"),
                min(col("min_dl")).as("min_dl"))
          else
            dropV(StoredTable.readStore(spark, postingsDir(idxDir))
                .where(col("batch") <= upTo))
              .groupBy(col("term"))
              .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
                min(col("dl")).as("min_dl"))
        StoredTable.clusteredStage(
          folded.withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int")),
          Seq("tm_mod", "term"), Seq("tm_mod"), out, None)
      },
      docsDir(idxDir) -> { (src: DataFrame, out: String) =>
        StoredTable.clusteredStage(
          dropV(src).select(col("doc_id"), col("dl"), col("did_mod")),
          Seq("did_mod", "doc_id"), Seq("did_mod"), out, None)
      },
      statsDir(idxDir) -> { (src: DataFrame, out: String) =>
        // pure fold: the serving value is the SUM over batch rows, which
        // folding preserves — O(batches) rows read. With victims the row
        // recomputes from the folded membership (decrement for free).
        val folded =
          if (victims.isEmpty)
            src.agg(sum(col("n_docs")).as("n_docs"),
              sum(col("total_toks")).as("total_toks"))
          else
            dropV(StoredTable.readStore(spark, docsDir(idxDir))
                .where(col("batch") <= upTo))
              .agg(count(lit(1)).as("n_docs"),
                coalesce(sum(col("dl")), lit(0L)).as("total_toks"))
        folded.coalesce(1).storeWrite.mode("overwrite").parquet(out)
      }) ++ (if (!storeHasPositions(idxDir)) Nil else Seq(
      positionsDir(idxDir) -> { (src: DataFrame, out: String) =>
        // positional tier folds like the postings: pure row fold with
        // victims anti-joined out; positions are doc-local so a fold
        // never renumbers anything
        StoredTable.clusteredStage(
          dropV(src)
            .select(col("term"), col("doc_id"), col("pos"), col("tm_mod")),
          Seq("tm_mod", "term", "doc_id", "pos"), Seq("tm_mod"), out, None)
      }))
    // TWO-PHASE fold: STAGE every table's folded output first — all in
    // parallel on the shared writer pool, and against the UNTOUCHED
    // pre-swap stores, which also removes the cross-table read-vs-swap
    // hazard the old one-table-at-a-time loop only avoided by being
    // serial (the erasure-fold recipes read postings/docs while folding
    // terms/stats) — then run the per-table swaps back to back (pure
    // renames). Values are unchanged either way: the serial loop's
    // later recipes read already-folded tables, and dropV(original) ==
    // the folded content by construction. The expensive half (the
    // staged rewrites) now overlaps, so one table's straggler tail
    // back-fills with the next table's tasks; each table keeps its own
    // recoverable swap, so crash recovery is per-table exactly as
    // before, and the store-inconsistent window shrinks to the rename
    // phase.
    // pre-flight EVERY table a fold touches before any staging starts:
    // (dir, stage writer, source batches, the table's swap and stage)
    val active = recipes.flatMap { case (dir, stageWriter) =>
      val root = new Path(dir)
      val fs = StoredTable.fileSystem(spark, root)
      val srcBatches = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .map(st => st.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ <= upTo).sorted
      if (srcBatches.length > 1 || (srcBatches.nonEmpty && erased > 0L))
        Some((dir, stageWriter, srcBatches, fs,
          StoredTable.preflightBeside(fs, root, "compactTextIndexBatches", "compact")))
      else None
    }
    StoredTable.inParallel(active.map { case (dir, stageWriter, _, _, (_, stage)) =>
      () => stageWriter(StoredTable.readStore(spark, dir).where(col("batch") <= upTo),
        new Path(stage, s"batch=$upTo").toString)
    })
    val folded = active.map { case (dir, _, srcBatches, fs, (swap, stage)) =>
      // a fold whose result is empty (every folded row was a victim)
      // emits no files: promote nothing — the batch dirs simply age out
      val stagedBatch = new Path(stage, s"batch=$upTo")
      val promotes =
        if (fs.exists(stagedBatch) &&
            fs.listStatus(stagedBatch).exists(st =>
              !st.getPath.getName.startsWith("_")))
          Seq((stagedBatch, new Path(dir, s"batch=$upTo")))
        else Seq.empty
      swap.commit(
        asides = srcBatches.map(b => new Path(dir, s"batch=$b")),
        promotes = promotes,
        cleanup = Seq(stage))
      srcBatches.length.toLong - 1L
    }
    ((0L +: folded).max, erased)
  }
}
