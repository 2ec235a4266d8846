package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache-lifetime audit — the CollectAuditSpec discipline applied to
  * `.persist()`: every persist in main sources is pinned here as a
  * CLOSED per-file (persist, unpersist) count, so a new cache site
  * cannot land without a conscious decision about who releases it.
  *
  * The three legitimate categories (anything else is a leak):
  *
  *  1. OPERATOR-INTERNAL, PAIRED — persist → action(s) → unpersist
  *     inside one function, usually via try/finally; the cache never
  *     escapes. The model: `TextIndex.appendTextIndexBatch`'s postings
  *     frame, `bm25TopKStored`'s candidate slice (which MATERIALIZES
  *     its ≤ k result rows so it can release before returning — the
  *     serve-path rule), both bulk-delete victim tables.
  *
  *  2. RESULT-PLAN CACHES — the function returns a LAZY DataFrame
  *     whose plan references the persisted node (iterative dedup
  *     frontiers, multi-leg gate fixtures): an internal unpersist
  *     would silently recompute the shared subtree per downstream
  *     action. These are released by the session's cache discipline —
  *     Bench.clearCache between queries, Verify's per-query temp
  *     scopes; a long-lived serving session adopts its own cadence
  *     (documented in README). Most Dedup/query-module/Graph/Corpus
  *     sites are this category: gate fixtures feeding 2+ legs of one
  *     declared query's require().
  *
  *  3. APPEND-SCOPED — persisted across the several writes of ONE
  *     ingest batch (stream foreachBatch bodies), released when the
  *     batch's last table lands; bounded by the micro-batch, not the
  *     store.
  *
  * The pinned counts: unpersist < persist is EXPECTED (category 2
  * exists), but any drift in either number fails this spec until the
  * new site is audited into a category above.
  */
class PersistAuditSpec extends AnyFunSuite {

  test("persist()/unpersist() sites form a closed audited set") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
    val pPat = java.util.regex.Pattern.compile("\\.persist\\(")
    val uPat = java.util.regex.Pattern.compile("\\.unpersist\\(")
    val found = scala.collection.mutable.Map.empty[String, (Int, Int)]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        def n(pat: java.util.regex.Pattern): Int = {
          val m = pat.matcher(src); var c = 0; while (m.find()) c += 1; c
        }
        val (np, nu) = (n(pPat), n(uPat))
        if (np > 0 || nu > 0) found(root.relativize(p).toString) = (np, nu)
      }
    }
    val allowed = Map(
      // round 17: the two-direction exceptAll gates became one-pass
      // bag-equality aggregates (multisetEqual), so their probe/oracle
      // legs are consumed exactly once and no longer need cache barriers
      // — 4 persists + 4 unpersists retired from the gate fixtures
      // round 17 (second pass): hybridFusionOverlapGate persists its two
      // vector legs — each feeds both fusion modes of the one gate
      // action (category 2: result-plan caches, session-released)
      // the query declarations: 19 persists and 1 unpersist, formerly all
      // in SparkEntry.scala — gate fixtures (category 2) and the shared
      // dedup store build's paired artifact handles (category 1)
      "graft/queries/Fixtures.scala"          -> ((10, 1)),
      "graft/queries/DedupQueries.scala"      -> ((2, 0)),
      "graft/queries/RelationalQueries.scala" -> ((1, 0)),
      "graft/queries/SimilarityQueries.scala" -> ((1, 0)),
      "graft/queries/TextIndexQueries.scala"  -> ((5, 0)),
      // ExplainOps: dev-only plan renderer; its one persist exists to
      // PRINT the cached form of the seed pipeline, nothing executes
      "graft/ExplainOps.scala"            -> ((1, 0)),
      // one range-clustered restage: seedIvfStore, compactIvfStore,
      // splitHotCells, the census erasure and the text-index fold stage
      // through StoredTable.clusteredStage, whose one persist spans the
      // range write (category 1, released in a finally) — Similarity
      // (8, 6) → (5, 3), TextIndex (5, 5) → (4, 4), StoredTable (1, 1)
      "graft/operators/StoredTable.scala" -> ((1, 1)),
      "graft/operators/Similarity.scala"  -> ((5, 3)),
      // copy-on-write erasure: the erasure core's survivors and
      // rewriteTermDictionary's aggregated dictionary no longer cross a
      // range-staged write (map-only rewrite; one hash shuffle), so their
      // paired persist/unpersist sites are gone — Dedup (38, 22) → (37, 21),
      // TextIndex (6, 6) → (5, 5)
      // the store-mutation core (StoredTable.scala: erasure core, swap,
      // retention, compaction) moved out of Dedup with no cache site, so
      // Dedup keeps (37, 21)
      "graft/operators/Dedup.scala"       -> ((37, 21)),
      "graft/operators/Graph.scala"       -> ((4, 0)),
      "graft/operators/TextIndex.scala"   -> ((4, 4)),
      "graft/operators/Corpus.scala"      -> ((8, 1)))
    assert(found.toMap == allowed,
      s"persist/unpersist drift — audit the new cache site into a lifetime " +
        s"category (see scaladoc) before extending the closed set.\n  " +
        s"found:   ${found.toMap.toSeq.sorted}\n  allowed: ${allowed.toSeq.sorted}")
  }
}
