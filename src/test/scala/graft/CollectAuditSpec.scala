package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side materialization audit. `.collect()`/`.head()` in main
  * sources is the classic "not actually distributed" smell, so the allowed
  * call sites are pinned here as a CLOSED set (per-file counts) — the same
  * closed-set discipline as PlanAuditSpec's BNLJ whitelist. A new
  * driver-side collect cannot land unnoticed: it fails this spec until the
  * author consciously audits it for boundedness and extends the list.
  *
  * Why each current site is bounded:
  *  - Tables: 1-row min/max sniff deciding the physical `ts` encoding.
  *  - Similarity: k-means/IVF index builds — a fixed 2048-row training
  *    sample and nlist×dim centroid arrays (the FAISS driver-state shape);
  *    probe-set reads bounded by the declared probe count; the stored
  *    batch probe's cell-union collect (≤ nlist ints — the literal IN
  *    list that row-group-prunes the store scan); the stored IVF-PQ
  *    probes' float-vector lookups from the rerank corpus (1 row single-
  *    probe, N declared rows batch — codes-only stores hold no float to
  *    read, and the batch's LUTs/cell-union derive driver-side from the
  *    same collect, no extra job).
  *  - Dedup: six ≤ nMods-int partition-pruning collects (stored-index
  *    probe: batch band mods, candidate doc mods, est-passing doc mods;
  *    census probes: increment win mods ×2 — stored + streaming; semantic
  *    store probe: increment cell mods); the 1-value label-sum
  *    convergence check per clusters() iteration; and the round-15
  *    erasure op deleteFromCensusStore's victim win mods (≤ nMods ints).
  *  - StoredTable (the shared store-mutation core, moved out of Dedup):
  *    the erasure core deleteRowsFromStore's per-victim-file counts (≤
  *    the store's file count).
  *  - Layout: two 2-value min/max bounds for Z-order bit interleaving.
  *  - LogStore: getCombined's one gather collect — one document's chunk
  *    rows, at most total_splits rows of at most Chunker.MaxDocBytes
  *    archive bytes each, the document the caller collects anyway (it
  *    replaced the split-count peek, so the count stays 1).
  *  - Corpus: 1-value approx distinct-gram count sizing a Bloom filter,
  *    and the 1-row argmax merge-rule read per BPE training round (the
  *    rule IS the trained artifact; ≤ mergeRounds rows total).
  *  - SparkEntry (the query declarations under `graft/queries/`):
  *    bounded FIXTURE writes (≤ 96 rows of media/slices) and
  *    1-value max-id sniffs that size scratch layouts, census splits, and
  *    the streaming-semantic fixture's vec-id offset (a 1-row
  *    `agg(max(vec_id)).head()` — same idiom as the other sniffs); plus
  *    three 1-row fixture sniffs for the round-14 ANN lifecycle gates,
  *    the ≤20-row BPE merge-trajectory reads (the artifact q_bpe_encode
  *    serves; q_bpe_encode_heldout reads its own train-split trajectory —
  *    same ≤20-row artifact), the 3-id victim picks of q_sim_ivf_delete
  *    and q_sim_ivfpq_delete (round 16), and q_retention_drop's 1-row
  *    cutoff-day sniff.
  *  - Similarity (round-14 additions, each bounded by index width):
  *    hierarchical trainer's per-group masses (≤ nGroups rows) and
  *    sub-centroid concat (= nlist×dim, the index itself); hot-split's
  *    occupancy/hot-set reads (≤ nlist rows — the trained-subs collect
  *    also carries per-sub assignment counts, same ≤ hot×splitFactor
  *    bound) and affected-file listing (distinct input_file_name of hot
  *    rows — ≤ the store's file count, metadata); filtered serve's 1-row
  *    selectivity head. Round 16: deleteFromIvfStore routes through the
  *    shared StoredTable.deleteRowsFromStore core (its ONE pricing+owner
  *    collect is audited under StoredTable), dropping the former duplicate
  *    victim scan — Similarity 16 → 15.
  *  - TextIndex: the serve's ≤ k materializing collect (round 17 —
  *    releases the per-query candidate cache instead of accreting one
  *    cached slice per query over a serving session); the bulk
  *    delete's ≤ nMods victim-partition mods collect (the literal form
  *    computes its mods driver-side) and the membership pre-scan
  *    collect of one (batch, victims present, any dl > 0) row per
  *    affected batch (≤ the store's batch count — reads what the stats
  *    and dictionary recomputes need BEFORE the delete destroys it);
  *    the bounded serve's dictionary reads
  *    (termImpactStats: ≤ |query terms| rows; cappedImpactBound: 1-row
  *    global stats head). The four query-term tm_mod collects the
  *    serves used to run (round 16's hash-partition jobs) are GONE
  *    (optimization round 17): the mods are a pure function of the
  *    query literals, now evaluated driver-side through the same
  *    catalyst Murmur3 node — no job, no collect, identical ints
  *    (TextIndexSpec pins the equality). Maintenance
  *    (round 17): both planners' O(batches) stats collect — the
  *    planner's DECLARED input size, the same boundedness class as
  *    every serve-path stats read; the run step's ≤ 2 plan-row collect
  *    and q_maint_run's O(batches) post-state batch listing + 1-row mx
  *    head (gate fixtures, bounded by the 6-batch subject). Dedup
  *    round 17:
  *    the bulk band-index delete's ≤ nMods victim-mods collect (the
  *    same partition-prune bound as the literal form's driver-side
  *    mod computation).
  *  - Query declarations, round-16 additions: q_bm25_delete's two 1-row stats-
  *    equality heads (summed store stats vs a direct recount — the
  *    gate's decrement check) and its victim-file listing (distinct
  *    input_file_name of victim postings, ≤ the store's file count —
  *    the cold-file identity gate's ground truth for which files the
  *    delete was ALLOWED to touch); q_sim_ivf_retention's and
  *    q_census_retention's 1-row max-id sniffs (the same idiom as the
  *    other fixture sniffs — they derive the retained-half boundary
  *    their oracles recompute).
  */
class CollectAuditSpec extends AnyFunSuite {

  test("driver-side collect()/head() sites form a closed audited set") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
    val pat = java.util.regex.Pattern.compile("\\.collect\\(\\)|\\.head\\(\\)")
    val found = scala.collection.mutable.Map.empty[String, Int]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val m = pat.matcher(src)
        var n = 0
        while (m.find()) n += 1
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    val allowed = Map(
      "graft/Tables.scala"                -> 1,
      // PhaseProbe: dev-only per-phase profiler; its one collect is a
      // limit(20000) microbench sample, never on a query path
      "graft/PhaseProbe.scala"            -> 1,
      // the query declarations (28 sites, formerly all in SparkEntry.scala;
      // see the SparkEntry bullets above for why each is bounded)
      "graft/queries/Fixtures.scala"          -> 4,
      "graft/queries/ConnectorQueries.scala"  -> 1,
      "graft/queries/CorpusQueries.scala"     -> 2,
      "graft/queries/DedupQueries.scala"      -> 2,
      "graft/queries/LayoutQueries.scala"     -> 1,
      "graft/queries/LogQueries.scala"        -> 1,
      "graft/queries/MultimodalQueries.scala" -> 3,
      "graft/queries/SimilarityQueries.scala" -> 5,
      "graft/queries/TextIndexQueries.scala"  -> 9,
      "graft/operators/Maintenance.scala" -> 3,
      "graft/operators/Similarity.scala"  -> 15,
      // the erasure core's pricing collect moved with it: Dedup 10 → 9,
      // StoredTable 1 (total unchanged)
      "graft/operators/Dedup.scala"       -> 9,
      "graft/operators/StoredTable.scala" -> 1,
      "graft/operators/Layout.scala"      -> 2,
      "graft/operators/LogStore.scala"    -> 1,
      "graft/operators/Corpus.scala"      -> 2,
      "graft/operators/TextIndex.scala"   -> 5)
    assert(found.toMap == allowed,
      s"driver-side collect()/head() drift — audit the new site for " +
        s"boundedness before extending the closed set.\n  found:   " +
        s"${found.toMap.toSeq.sorted}\n  allowed: ${allowed.toSeq.sorted}")
  }
}
