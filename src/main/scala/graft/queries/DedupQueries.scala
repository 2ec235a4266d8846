package graft
package queries

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Fixtures._

/** Dedup tiers and their stored indexes: exact, MinHash, SimHash,
  * substring census and semantic dedup — incremental, streamed, erased,
  * aged and compacted — plus graph analytics over the similarity edges.
  */
private[graft] object DedupQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] LLM-pipeline: dedup, similarity, text analysis --
    Query("q_dedup_exact", (s, d) =>
      Dedup.exact(documents(s, d)).orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
        |GROUP BY md5(text) ORDER BY doc_id""".stripMargin),

    Query("q_dedup_exact_norm", (s, d) =>
      Dedup.exactNormalized(documents(s, d)).orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
        |GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |ORDER BY doc_id""".stripMargin),

    // Candidate-then-EXACT-verify (the production contract): banded LSH at
    // est ≥ 0.4 proposes candidates (recall ~1 on this corpus's J ≥ 0.9
    // planted near-dups), then the tiny candidate set verifies against
    // real shingle sets at J ≥ 0.9 — so the output equals the exact-
    // Jaccard truth set at ANY scale, not just where the corpus's
    // est/exact separation gap happens to hold (at sf0.001 a single
    // unrelated pair estimating ≥ 0.4 used to break the est-only form).
    // The DuckDB twin computes the truth set hash-free from first
    // principles.
    Query("q_dedup_minhash", (s, d) =>
      Dedup.minhashCandidates(documents(s, d), minEstJaccard = 0.4,
          verifyJaccard = Some(0.9), art = Some(dedupArtifacts(s, d)))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b"),
      // Invariant-oracle family for the fuzzy-dedup path. All of these lean on
      // the corpus's clean separation (planted pairs at J ≥ 0.9, organic pairs
      // ≤ 0.07, empirically verified at the gate SF): the LSH candidate set at
      // est ≥ 0.4 equals the hash-free exact-Jaccard truth set, which DuckDB
      // derives from first principles below.
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),

    // SimHash band-blocking only *guarantees* recall at Hamming ≤ 3 (4×16
    // pigeonhole) and legitimately pairs unrelated word-salad docs at ≤ 6,
    // so set equality has no SQL twin. The invariant oracle instead plants
    // an exact clone (doc -1 = doc 0): identical text → identical simhash →
    // Hamming 0 → found in every band, deterministically. Declared result:
    // probe recall + the output's structural bounds.
    Query("q_dedup_simhash", (s, d) => {
      val docs = documents(s, d)
      val probe = docs.where(col("doc_id") === 0).withColumn("doc_id", lit(-1L))
      Dedup.simhashPairs(docs.unionByName(probe), maxHamming = 6)
        .agg(
          coalesce(bool_or(col("doc_a") === -1 && col("doc_b") === 0 && col("hamming") === 0),
            lit(false)).as("probe_found"),
          coalesce(bool_and(col("hamming") <= 6), lit(false)).as("all_ham_ok"),
          coalesce(bool_and(col("doc_a") < col("doc_b")), lit(false)).as("ordered_ok"))
    },
      // planted-clone probe recall + structural bounds (simhash itself has no
      // SQL twin; the Hamming-0 guarantee on an exact clone is deterministic)
      "SELECT true AS probe_found, true AS all_ham_ok, true AS ordered_ok"),

    // exact-verified pairs at J ≥ 0.7 over LSH candidates == the hash-free
    // DuckDB all-pairs truth (same clean-separation argument as above, and
    // the jaccard VALUES are plain double divisions both engines compute
    // identically) — the full fuzzy-dedup path oracled row-by-row
    Query("q_dedup_ngram", (s, d) =>
      Dedup.ngramJaccard(documents(s, d), minJaccard = 0.7, minEstJaccard = 0.35,
          art = Some(dedupArtifacts(s, d)))
        .orderBy("doc_a", "doc_b"),
      // exact-verified pairs at J >= 0.7 with their jaccard values — both
      // engines divide the same two integers and floor-round the quotient
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.s, b.s)) * 1.0 /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, floor(j * 10000 + 0.5) / 10000 AS jaccard
        |FROM p WHERE j >= 0.7 ORDER BY doc_a, doc_b""".stripMargin),

    // -- [NS] directed containment pairs (|A∩B|/|A| >= 0.9): the
    // quote/subset-copy detector Jaccard's union denominator misses;
    // asymmetric prefix filter (contained side probes rare shingles,
    // container side is a full inverted index) --
    Query("q_dedup_containment", (s, d) =>
      Dedup.containmentPairs(documents(s, d), n = 3, minContain = 0.9,
          art = Some(dedupArtifacts(s, d)))
        .orderBy("doc_a", "doc_b"),
      // brute-force containment twin: |A∩B|/|A| over distinct word 3-gram
      // shingles, both directions (a≠b), threshold 0.9
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),

    // -- [NS] INCREMENTAL fuzzy dedup: the new batch (doc_id >= 400)
    // deduped against the standing corpus without re-pairing corpus×corpus
    // — emits the increment ids to DROP (match in corpus or earlier
    // arrival); candidates propose at est >= 0.4, then exact-verify at
    // J >= 0.9 against shingle sets (same contract as q_dedup_minhash) --
    Query("q_dedup_incremental", (s, d) => {
      val docs0 = documents(s, d)
      Dedup.minhashIncremental(
        docs0.where(col("doc_id") < 400),
        docs0.where(col("doc_id") >= 400),
        minEstJaccard = 0.4, verifyJaccard = Some(0.9))
        .orderBy("doc_id")
    },
      // exact-Jaccard twin: an increment doc (>= 400) drops iff some partner
      // in the corpus (< 400) or an earlier increment doc matches at J >= 0.9
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT DISTINCT b.doc_id
        |FROM sh b JOIN sh a ON b.doc_id >= 400 AND (a.doc_id < 400 OR a.doc_id < b.doc_id)
        |  AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        |ORDER BY 1""".stripMargin),

    // -- [NS] the STORED-index form of the increment probe: the corpus is
    // indexed ONCE into the pre-banded, append-capped band/doc store
    // (scratch-cached across invocations — the artifact a pipeline owns),
    // and the increment reads only its colliding buckets (adaptive
    // regime: stored — 450 indexed docs vs a 50-doc batch). Same drop
    // semantics as q_dedup_incremental; regime parity is additionally
    // spec-pinned in DedupSpec --
    Query("q_dedup_incremental_stored", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDirs.getOrElseUpdate(s"dedupidxstore:$d", {
        val tmp = scratchDir("graft_dedupidx")
        val r = tmp + "/index"
        Dedup.seedStreamStores(docs0, r,
          tmp + "/acc", Seq("doc_id"), n = 3, perms = 32)
        Dedup.minhashIncrementalStored(s, r,
          docs0.where(col("doc_id") < 450).select("doc_id", "text"),
          batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
        r
      })
      Dedup.minhashIncrementalStored(s, idx,
          docs0.where(col("doc_id") >= 450).select("doc_id", "text"),
          batchId = 1L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
        .orderBy("doc_id")
    },
      // identical first-principles truth as q_dedup_incremental at the
      // stored-index query's 450-id split: drop iff ANY corpus doc (< 450)
      // or earlier increment doc matches at J >= 0.9
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT DISTINCT b.doc_id
        |FROM sh b JOIN sh a ON b.doc_id >= 450 AND (a.doc_id < 450 OR a.doc_id < b.doc_id)
        |  AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        |ORDER BY 1""".stripMargin),

    // -- [NS] index MAINTENANCE: three appended micro-batches of the
    // band/doc store COMPACTED into one consolidated partition (parallel
    // size-targeted rewrite; stage → rename-aside → promote with every
    // FileSystem boolean checked — the small-file control an append-only
    // index needs at lake scale), then probed. Compaction is pure layout:
    // the probe's drops still equal the first-principles truth (and a
    // spec asserts row-identity + file-count shrink + recoverable swap) --
    Query("q_dedup_index_compact", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDirs.getOrElseUpdate(s"dedupidxcompact:$d", {
        val tmp = scratchDir("graft_dedupcpt")
        val r = tmp + "/index"
        Dedup.seedStreamStores(docs0, r,
          tmp + "/acc", Seq("doc_id"), n = 3, perms = 32)
        (0 until 3).foreach { b =>
          Dedup.minhashIncrementalStored(s, r,
            docs0.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
              .select("doc_id", "text"),
            batchId = b.toLong, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
        }
        Dedup.compactIndex(s, r, upTo = 5L)
        r
      })
      Dedup.minhashIncrementalStored(s, idx,
          docs0.where(col("doc_id") >= 450).select("doc_id", "text"),
          batchId = 9L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
        .orderBy("doc_id")
    },
      // compaction is pure layout — the probe over the compacted store
      // answers the SAME first-principles truth as the stored-index probe
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT DISTINCT b.doc_id
        |FROM sh b JOIN sh a ON b.doc_id >= 450 AND (a.doc_id < 450 OR a.doc_id < b.doc_id)
        |  AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
        |ORDER BY 1""".stripMargin),

    // -- [NS] RIGHT-TO-ERASURE from the stored MinHash band index — the
    // dedup-tier analogue of q_sim_ivf_delete: victims vanish from all
    // THREE index tables (bands / sigs / shingles) by file-targeted
    // rewrite (no re-banding, no re-aggregation; the did_mod tables'
    // victim scans prune to the ids' own partitions), untouched files
    // byte-identical, and the erased docs no longer influence probes —
    // post-delete drops EQUAL the in-memory incremental over the corpus
    // WITHOUT the victims. --
    Query("q_dedup_index_delete", (s, d) => {
      val docs0 = documents(s, d)
      val tmp = scratchDir("graft_idxdel")
      val idx = tmp + "/index"
      Dedup.seedStreamStores(docs0, idx,
        tmp + "/acc", Seq("doc_id"), n = 3, perms = 32)
      Dedup.minhashIncrementalStored(s, idx,
        docs0.where(col("doc_id") < 400).select("doc_id", "text"),
        batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
      Dedup.minhashIncrementalStored(s, idx,
        docs0.where(col("doc_id") >= 400 && col("doc_id") < 450).select("doc_id", "text"),
        batchId = 1L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
      val before = snapStoreFiles(idx)
      val victims = Seq(410L, 420L)
      val nDel = Dedup.deleteFromMinhashIndex(s, idx, victims)
      val after = snapStoreFiles(idx)
      val survivors = before.keySet intersect after.keySet
      val coldOk = survivors.nonEmpty && survivors.forall(f => after(f) == before(f))
      val vLits = victims.map(java.lang.Long.valueOf)
      val erasedOk = Seq("bands", "sigs", "shingles").forall { sub =>
        s.read.parquet(s"$idx/$sub")
          .where(col("doc_id").isin(vLits: _*)).isEmpty
      }
      // semantics: post-delete probe == in-memory incremental over the
      // corpus minus the victims (set equality, both directions)
      val probe = docs0.where(col("doc_id") >= 450 && col("doc_id") < 500)
        .select("doc_id", "text")
      // one-pass bag equality: each probe leg (shingling + probe — the
      // expensive side) executes exactly once inside the net-sum gate
      // (the exceptAll-pair form ran both legs twice; measured 12 s →
      // ~7 s with persists, and the single-pass gate drops the second
      // action entirely)
      val got = Dedup.minhashIncrementalStored(s, idx, probe,
        batchId = 2L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      val expect = Dedup.minhashIncremental(
        docs0.where(col("doc_id") < 450 && !col("doc_id").isin(vLits: _*))
          .select("doc_id", "text"),
        probe, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      val probeOk = multisetEqual(got, expect)
      s.range(1).select(
        lit(nDel).as("n_deleted"),
        lit(erasedOk).as("erased_ok"),
        lit(coldOk).as("cold_ok"),
        lit(probeOk).as("probe_ok"))
    },
      // band-index erasure: both victims deleted from all three tables,
      // untouched files byte-identical, post-delete probe equals the
      // in-memory incremental over corpus-minus-victims
      """SELECT CAST(2 AS BIGINT) AS n_deleted, true AS erased_ok,
        |  true AS cold_ok, true AS probe_ok""".stripMargin),

    // -- [NS] RETENTION for the stored band index — TTL aging by ingest
    // batch (retainMinhashIndexBatches): every `batch <= cutoff`
    // partition of ALL THREE tables (bands/sigs/shingles — a doc's rows
    // span all three, so they age together or the index dangles) drops
    // as a PURE METADATA operation; the batch=-1 layout seed never ages.
    // Declared: exactly batch 0 dropped from each table (dropped_ok),
    // every aged doc's rows gone from all three tables (aged_ok), every
    // surviving file byte-identical — no data was read or rewritten
    // (cold_ok) — and a post-retention probe EQUALS the in-memory
    // incremental over only the RETAINED docs (probe_ok: set equality,
    // both directions). Own store (retention mutates). --
    Query("q_dedup_index_retention", (s, d) => {
      val docs0 = documents(s, d)
      val tmp = scratchDir("graft_idxret")
      val idx = tmp + "/index"
      Dedup.seedStreamStores(docs0, idx,
        tmp + "/acc", Seq("doc_id"), n = 3, perms = 32)
      Dedup.minhashIncrementalStored(s, idx,
        docs0.where(col("doc_id") < 400).select("doc_id", "text"),
        batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
      Dedup.minhashIncrementalStored(s, idx,
        docs0.where(col("doc_id") >= 400 && col("doc_id") < 450).select("doc_id", "text"),
        batchId = 1L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
      val before = snapStoreFiles(idx)
      val dropped = Dedup.retainMinhashIndexBatches(s, idx, cutoff = 0L)
      val after = snapStoreFiles(idx)
      val droppedOk = dropped == Map(
        "bands" -> Seq(0L), "sigs" -> Seq(0L), "shingles" -> Seq(0L))
      // pure metadata: EVERY surviving file byte-identical, and the set
      // of survivors is exactly before-minus-the-aged-batch
      val coldOk = after.nonEmpty && after.keySet == before.keySet
        .filterNot(_.contains("batch=0")) &&
        after.forall { case (f, sig) => before(f) == sig }
      val agedOk = Seq("bands", "sigs", "shingles").forall { sub =>
        s.read.parquet(s"$idx/$sub").where(col("doc_id") < 400).isEmpty
      }
      // semantics: post-retention probe == in-memory incremental over the
      // RETAINED corpus (docs 400-449) only
      val probe = docs0.where(col("doc_id") >= 450 && col("doc_id") < 500)
        .select("doc_id", "text")
      val got = Dedup.minhashIncrementalStored(s, idx, probe,
        batchId = 2L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      val expect = Dedup.minhashIncremental(
        docs0.where(col("doc_id") >= 400 && col("doc_id") < 450)
          .select("doc_id", "text"),
        probe, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      val probeOk = multisetEqual(got, expect)
      s.range(1).select(
        lit(droppedOk).as("dropped_ok"),
        lit(agedOk).as("aged_ok"),
        lit(coldOk).as("cold_ok"),
        lit(probeOk).as("probe_ok"))
    },
      // band-index retention: batch-TTL aging is metadata-only across all
      // three tables, aged docs gone everywhere, survivors byte-identical,
      // post-retention probe equals the incremental over retained docs
      """SELECT true AS dropped_ok, true AS aged_ok,
        |  true AS cold_ok, true AS probe_ok""".stripMargin),

    // -- [NS] INCREMENTAL substring dup-mass: the new batch's windows
    // (the top 20% of doc ids — a batch-sized increment at EVERY scale,
    // where a fixed id split would make the "batch" most of a larger
    // corpus) semi-join the standing corpus's STORED pre-aggregated
    // window CENSUS (win, n_docs) — corpus text and corpus windows are
    // never re-scanned or re-counted per batch, and the census read is
    // PARTITION-PRUNED to the increment's windows' win_mod hash dirs
    // before the broadcast semi-join; result == full-corpus dup mass
    // restricted to the increment, which the oracle recomputes with the
    // same floor-div threshold --
    Query("q_dedup_substring_incremental", (s, d) => {
      val docs0 = documents(s, d)
      val thr = dedupStoreParams(s, d).censusThr
      Dedup.substringMassIncrementalStored(s, dedupCensusPath(s, d),
          docs0.where(col("doc_id") >= thr), width = 40)
        .orderBy("doc_id")
    },
      // incremental == full-corpus dup mass restricted to the increment;
      // the split threshold is the same floor-div both engines compute
      // exactly on integers
      """WITH w AS (
        |  SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |  WHERE length(text) >= 40
        |    AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |shared AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2)
        |SELECT w.doc_id, count(*) AS n_dup_windows
        |FROM w JOIN shared USING (win)
        |WHERE w.doc_id >= (SELECT (max(doc_id) * 4) // 5 FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] RIGHT-TO-ERASURE from the stored substring census — the
    // DECREMENT analogue (census rows are aggregates): the victim doc's
    // content-defined windows re-derive, holder counts subtract, and
    // windows hitting zero VANISH (the probe is an existence test — a
    // zero-count row would keep reporting corpus duplication against
    // erased text). Physically pruned to the victim's win_mod slices
    // (nMods 64 so one doc's windows hit a real subset); untouched
    // slices byte-identical; the decremented census EQUALS a census
    // rebuilt on corpus-minus-victim. Own store (erasure mutates). --
    Query("q_census_delete", (s, d) => {
      val docs0 = documents(s, d)
      val corpus = docs0.where(col("doc_id") < 250L)
      val path = scratchDir("graft_censdel") + "/census"
      Dedup.writeCensusStore(
        Dedup.windowCensus(Dedup.windowTable(corpus)), path,
        width = 40, nMods = 64)
      val before = snapStoreFiles(path)
      val erased = Dedup.deleteFromCensusStore(s, path,
        docs0.where(col("doc_id") === 3L), width = 40)
      val after = snapStoreFiles(path)
      val survivors = before.keySet intersect after.keySet
      val coldOk = survivors.nonEmpty &&
        survivors.forall(f => after(f) == before(f))
      val got = s.read.parquet(path).groupBy(col("win"))
        .agg(sum(col("n_docs")).as("n"))
      val want = Dedup.windowCensus(
        Dedup.windowTable(corpus.where(col("doc_id") =!= 3L)))
        .select(col("win"), col("n_docs").as("n"))
      // one-pass bag equality: the rebuilt-census twin (the expensive
      // leg) executes once, not twice per exceptAll direction
      val censusOk = multisetEqual(got, want)
      s.range(1).select(
        lit(erased > 0L).as("erased_some"),
        lit(coldOk).as("cold_ok"),
        lit(censusOk).as("census_ok"))
    },
      // census erasure: decrement semantics — zero-count windows vanish,
      // untouched win_mod slices byte-identical, decremented census equals
      // a rebuilt census on corpus-minus-victim
      "SELECT true AS erased_some, true AS cold_ok, true AS census_ok"),

    // -- [NS] batch-TTL retention for the streamed substring-census DELTA
    // store: aged delta batches drop as pure metadata (survivors
    // byte-identical; the batch=-1 seed never ages). The census the
    // probes read is the SUM over batch deltas and each batch's delta
    // counts only its own docs' windows, so the retained sum EQUALS the
    // census rebuilt over the retained docs — exact aging, asserted by
    // two-direction exceptAll. --
    Query("q_census_retention", (s, d) => {
      val w = scratchDir("graft_censret")
      // the streamed delta layout: 4 id-ordered slices, one per batch
      Dedup.substringStreamMass(s, docSlices(s, d), w, width = 40).count()
      val censusDir = s"$w/census"
      val mx = documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1
      val half = 2L * mx / 4L
      val before = snapStoreFiles(censusDir)
      val dropped = Dedup.retainCensusStoreBatches(s, censusDir, cutoff = 1L)
      val after = snapStoreFiles(censusDir)
      val droppedOk = dropped == Seq(0L, 1L)
      val coldOk = after.nonEmpty &&
        after.keySet == before.keySet
          .filterNot(f => f.contains("batch=0/") || f.contains("batch=1/")) &&
        after.forall { case (f, sig) => before(f) == sig }
      val got = s.read.parquet(censusDir).groupBy(col("win"))
        .agg(sum(col("n_docs")).as("n"))
      val want = Dedup.windowCensus(
        Dedup.windowTable(documents(s, d).where(col("doc_id") >= half)))
        .select(col("win"), col("n_docs").as("n"))
      // one-pass bag equality: the rebuilt-census twin executes once,
      // not twice per exceptAll direction
      val censusOk = multisetEqual(got, want)
      s.range(1).select(
        lit(droppedOk).as("dropped_ok"),
        lit(coldOk).as("cold_ok"),
        lit(censusOk).as("census_equal"))
    },
      """SELECT true AS dropped_ok, true AS cold_ok,
        |  true AS census_equal""".stripMargin),

    // -- [NS] the dedup FUNNEL: every tier composed into one curation
    // dashboard — raw → byte-exact → normalized-exact → fuzzy-transitive
    // survivors → substring-clean docs. Each count exercises its tier's
    // full machinery; the oracle recomputes all five from first
    // principles (incl. the recursive-CTE closure twin). --
    Query("q_dedup_funnel", (s, d) => {
      // dashboard over a dedup RUN: the two expensive tier results
      // (transitive-fuzzy drop set, substring dup mass) come from the
      // materialized dedup store — the closure is not re-run per view;
      // the cheap exact tiers hash the (persisted) docs scan live
      val docs0 = documents(s, d).persist()
      val store = dedupStore(s, d)
      def stage(i: Int, tier: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage"), lit(tier).as("tier"), col("n_docs"))
      stage(0, "raw", docs0)
        .unionByName(stage(1, "exact", Dedup.exact(docs0)))
        .unionByName(stage(2, "exact_norm", Dedup.exactNormalized(docs0)))
        .unionByName(stage(3, "fuzzy_transitive",
          docs0.join(store.fuzzyDrops, Seq("doc_id"), "left_anti")))
        .unionByName(stage(4, "substring_clean",
          docs0.join(store.mass.select("doc_id"), Seq("doc_id"), "left_anti")))
        .orderBy("stage")
    },
      // five first-principles tier counts; fuzzy via the recursive closure
      """WITH RECURSIVE tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9),
        |e AS (SELECT da AS a, db AS b FROM tp UNION SELECT db AS a, da AS b FROM tp),
        |reach AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, min(b) AS mn FROM reach WHERE b <> a GROUP BY a),
        |fuzzy AS (SELECT count(*) AS n FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
        |          WHERE l.doc_id IS NULL OR l.mn > d.doc_id),
        |w AS (SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |      FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |      WHERE length(text) >= 40 AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |shared AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        |dup_docs AS (SELECT DISTINCT doc_id FROM w JOIN shared USING (win))
        |SELECT * FROM (
        |  SELECT 0 AS stage, 'raw' AS tier, count(*) AS n_docs FROM documents
        |  UNION ALL SELECT 1, 'exact', count(DISTINCT text) FROM documents
        |  UNION ALL SELECT 2, 'exact_norm', count(DISTINCT regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) FROM documents
        |  UNION ALL SELECT 3, 'fuzzy_transitive', (SELECT n FROM fuzzy)
        |  UNION ALL SELECT 4, 'substring_clean', (SELECT count(*) FROM documents) - (SELECT count(*) FROM dup_docs)
        |) ORDER BY stage""".stripMargin),

    // -- [NS] dedup explainability: per flagged document, WHICH tiers flag
    // it (exact / normalized / fuzzy-transitive / substring) — the "why was
    // my document dropped" audit a curation pipeline owes its users; same
    // tier machinery and thresholds as q_dedup_funnel, re-aimed from counts
    // to per-doc attribution --
    Query("q_dedup_explain", (s, d) => {
      val docs0 = documents(s, d).persist() // see q_dedup_funnel
      val store = dedupStore(s, d)
      def drops(survivors: DataFrame, tier: String) =
        docs0.join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id")).withColumn("tier", lit(tier))
      drops(Dedup.exact(docs0), "exact")
        .unionByName(drops(Dedup.exactNormalized(docs0), "exact_norm"))
        .unionByName(store.fuzzyDrops.select(col("doc_id"))
          .withColumn("tier", lit("fuzzy_transitive")))
        .unionByName(store.mass
          .select(col("doc_id")).withColumn("tier", lit("substring")))
        .groupBy(col("doc_id"))
        .agg(array_join(array_sort(collect_set(col("tier"))), ",").as("tiers"))
        .orderBy("doc_id")
    },
      // same tier CTEs as the funnel, re-aimed to per-doc attribution
      """WITH RECURSIVE tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9),
        |e AS (SELECT da AS a, db AS b FROM tp UNION SELECT db AS a, da AS b FROM tp),
        |reach AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, min(b) AS mn FROM reach WHERE b <> a GROUP BY a),
        |w AS (SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |      FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |      WHERE length(text) >= 40 AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |shared AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        |u AS (
        |  SELECT doc_id, 'exact' AS tier FROM documents d
        |  WHERE EXISTS (SELECT 1 FROM documents d2 WHERE d2.text = d.text AND d2.doc_id < d.doc_id)
        |  UNION ALL
        |  SELECT doc_id, 'exact_norm' FROM documents d
        |  WHERE EXISTS (SELECT 1 FROM documents d2
        |    WHERE regexp_replace(trim(lower(d2.text)), '\s+', ' ', 'g') = regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')
        |      AND d2.doc_id < d.doc_id)
        |  UNION ALL
        |  SELECT d.doc_id, 'fuzzy_transitive' FROM documents d JOIN lab l ON d.doc_id = l.doc_id
        |  WHERE l.mn < d.doc_id
        |  UNION ALL
        |  SELECT DISTINCT doc_id, 'substring' FROM w JOIN shared USING (win))
        |SELECT doc_id, string_agg(tier, ',' ORDER BY tier) AS tiers
        |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // -- [NS] the substring-clean corpus MATERIALIZED (Lee et al.'s
    // excision step): shared-window spans merged into runs and cut out,
    // survivors fingerprinted — run counts, removed chars, cleaned md5
    // all row-for-row against the relational twin --
    Query("q_substring_clean", (s, d) =>
      Dedup.substringClean(documents(s, d), width = 40,
        art = Some(dedupArtifacts(s, d))),
      // same window sample; cross-doc shared spans -> gaps-and-islands runs
      // -> string reconstruction from the kept segments
      """WITH wp AS (
        |  SELECT doc_id, i AS s, i + 39 AS e, substring(text, i::INT, 40) AS win
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |  WHERE length(text) >= 40
        |    AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |shared AS (
        |  SELECT win FROM (SELECT DISTINCT doc_id, win FROM wp)
        |  GROUP BY win HAVING count(*) >= 2),
        |fl AS (SELECT doc_id, s, e FROM wp JOIN shared USING (win)),
        |m AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM fl),
        |r AS (SELECT doc_id, s, e,
        |        sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY s) AS run
        |      FROM m),
        |runs AS (SELECT doc_id, run, min(s) AS s, max(e) AS e FROM r GROUP BY 1, 2),
        |k AS (SELECT doc_id, s, e,
        |        lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
        |      FROM runs),
        |pieces AS (
        |  SELECT k.doc_id,
        |    substring(d.text, (prev_e + 1)::INT, (s - prev_e - 1)::INT) AS piece,
        |    s AS ord
        |  FROM k JOIN documents d USING (doc_id)
        |  UNION ALL
        |  SELECT r2.doc_id,
        |    substring(d.text, (max_e + 1)::INT, 100000000) AS piece,
        |    2000000000 AS ord
        |  FROM (SELECT doc_id, max(e) AS max_e FROM runs GROUP BY 1) r2
        |  JOIN documents d USING (doc_id)),
        |cleaned AS (
        |  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS ct
        |  FROM pieces GROUP BY 1),
        |stats AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
        |    CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
        |  FROM runs GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(st.n_runs, 0) AS n_runs,
        |  coalesce(st.removed_chars, 0) AS removed_chars,
        |  length(coalesce(c.ct, d.text)) AS cleaned_chars,
        |  md5(coalesce(c.ct, d.text)) AS cleaned_md5
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // -- [NS] per-doc duplicated-text mass: windows shared with ANY other
    // doc — the corpus-health headline (no doc×doc pair space touched) --
    Query("q_dedup_substring_mass", (s, d) =>
      Dedup.substringDupMass(documents(s, d), width = 40,
          art = Some(dedupArtifacts(s, d)))
        .orderBy("doc_id"),
      // same window CTE, census form: windows held by >= 2 docs, counted per doc
      """WITH w AS (
        |  SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |  WHERE length(text) >= 40
        |    AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |shared AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2)
        |SELECT w.doc_id, count(*) AS n_dup_windows
        |FROM w JOIN shared USING (win)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] exact substring-window dedup (Lee et al. 2021 family):
    // content-defined 1/16 window sample (winnowing-style Karp-Rabin
    // anchor, alignment-independent, one rolling pass per doc), bucket
    // join, shared-window counts --
    Query("q_dedup_substring", (s, d) =>
      Dedup.substringDupPairs(documents(s, d), width = 40, minShared = 2,
          art = Some(dedupArtifacts(s, d)))
        .orderBy("doc_a", "doc_b"),
      // exact twin of Dedup.substringDupPairs: every 40-char window, kept iff
      // its Karp-Rabin hash ≡ 0 mod 16 — DuckDB re-derives the SAME fold
      // ((h*257 + codepoint) mod 2^31-1 over the window's characters) that
      // the engine's rolling KrWindowPositions expression computes, so the
      // selection is engine-independent — then distinct (doc, win),
      // self-join, shared-window counts >= 2
      """WITH w AS (
        |  SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |  WHERE length(text) >= 40
        |    AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),

    // the synthetic embeddings have no organic near-dups (max pairwise
    // cosine ≈ 0.51), so recall is made non-vacuous by planting one: vec -1
    // is a byte-identical clone of vec 0 — identical hyperplane signature →
    // same bucket in every band → the pair (-1, 0) at cosine 1.0 is found
    // deterministically, and it is the ONLY pair ≥ 0.9 in the augmented set
    // -- [NS] SemDeDup semantic dedup: cluster-then-pair inside IVF cells.
    // Same planted-clone discipline as q_neardup_embedding (organic max
    // pairwise cosine ≈0.51 « 0.95): three byte-identical clones at high
    // vec_ids land in their originals' cells at cosine 1.0 and are the
    // ONLY drops — survivors must be exactly the original corpus. --
    Query("q_semdedup", (s, d) => {
      val e = embeddings(s, d)
      val clones = e.where(col("vec_id") < 3)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      graft.operators.Dedup.semDedup(e.unionByName(clones), minCosine = 0.95)
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
      // the three planted clones are the only semantic duplicates (organic
      // max pairwise cosine ≈0.51 « 0.95), so SemDeDup's survivors are
      // exactly the original corpus
      """SELECT vec_id, label FROM embeddings ORDER BY vec_id""".stripMargin),

    // -- [NS] INCREMENTAL semantic dedup (FAISS add-vs-train): quantizer
    // trained on the standing corpus only; the increment assigns to the
    // existing cells in one map pass and compares within-cell against
    // corpus members and earlier increment arrivals. Planted increment:
    // three byte-identical clones of corpus vectors (cosine 1.0, same
    // cell under ANY quantizer) and two identical NEGATED vectors (fresh
    // direction — cosine -1 to the original, |cos| <= 0.51 organically —
    // whose later arrival is an intra-increment drop). The drop set is
    // therefore deterministic: the 3 clones + the later negated copy. --
    Query("q_semdedup_incremental", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val clones = e.where(col("vec_id") < 3)
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val negBase = e.where(col("vec_id") === 5)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val inc = clones
        .unionByName(negBase.select(lit(9000010L).as("vec_id"), col("embedding")))
        .unionByName(negBase.select(lit(9000011L).as("vec_id"), col("embedding")))
      graft.operators.Dedup.semDedupIncremental(e, inc, minCosine = 0.95)
        .orderBy("vec_id")
    },
      // deterministic drop set: the three planted corpus clones (identical
      // vectors share a cell under any quantizer, cosine 1.0) plus the
      // LATER of the two identical negated arrivals (9000011); the earlier
      // negated copy survives (cosine -1 to its source, organic |cos| <=
      // 0.51 << 0.95)
      """SELECT vec_id FROM (
        |  SELECT vec_id + 9000000 AS vec_id FROM embeddings WHERE vec_id < 3
        |  UNION ALL SELECT 9000011
        |) ORDER BY vec_id""".stripMargin),

    // -- [NS] the STORED-index form of incremental semantic dedup: the
    // corpus's cell assignments are persisted ONCE next to the persisted
    // centroids (scratch-cached — the artifact a pipeline owns), and a
    // batch reads only its own cells' cell_mod partitions: the corpus is
    // never re-assigned, never re-shuffled (round-10 verdict's #1). Same
    // planted fixture/drop semantics as q_semdedup_incremental at shifted
    // ids; stored==in-memory parity is additionally spec-pinned --
    Query("q_semdedup_incremental_stored", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val store = scratchDirs.getOrElseUpdate(s"semstore:$d", {
        val r = scratchDir("graft_semstore")
        graft.operators.Dedup.seedSemStore(e, r)
        r
      })
      val clones = e.where(col("vec_id") < 3)
        .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
      val negBase = e.where(col("vec_id") === 5)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val inc = clones
        .unionByName(negBase.select(lit(8000010L).as("vec_id"), col("embedding")))
        .unionByName(negBase.select(lit(8000011L).as("vec_id"), col("embedding")))
      graft.operators.Dedup.semDedupIncrementalStored(s, store, inc,
          batchId = 1L, minCosine = 0.95)
        .orderBy("vec_id")
    },
      // same deterministic planted-drop argument as q_semdedup_incremental
      // (clones at cosine 1.0 share a cell under any quantizer; the later of
      // the two identical negated arrivals is the only intra-increment drop),
      // at the stored-index fixture's shifted ids
      """SELECT vec_id FROM (
        |  SELECT vec_id + 8000000 AS vec_id FROM embeddings WHERE vec_id < 3
        |  UNION ALL SELECT 8000011
        |) ORDER BY vec_id""".stripMargin),

    // -- [NS] RIGHT-TO-ERASURE from the stored semantic index: victims
    // vanish from the cell store by file-targeted rewrite (centroids
    // untouched — deletion never moves a surviving row's cell), untouched
    // files byte-identical, and the semantics flip exactly: a fresh clone
    // of the ERASED vector no longer drops (nothing left to match) while
    // a clone of a SURVIVOR still does. Own store (erasure mutates — the
    // shared semstore fixture must not be touched). --
    Query("q_semdedup_delete", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val store = scratchDir("graft_semdel")
      graft.operators.Dedup.seedSemStore(e, store)
      // batch 1: exact clones of vec 0 and vec 7 land (and drop)
      val inc = e.where(col("vec_id").isin(0, 7))
        .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
      graft.operators.Dedup.semDedupIncrementalStored(s, store, inc,
        batchId = 1L).count()
      val before = snapStoreFiles(s"$store/cells")
      // erase vec 0 AND its already-ingested clone (both carry the
      // embedding the erasure request names)
      val n1 = graft.operators.Dedup.deleteFromSemStore(s, store, Seq(0L))
      val coldAfterFirst = snapStoreFiles(s"$store/cells")
      val survivors = before.keySet intersect coldAfterFirst.keySet
      val coldOk = survivors.nonEmpty &&
        survivors.forall(f => coldAfterFirst(f) == before(f))
      val n2 = graft.operators.Dedup.deleteFromSemStore(s, store, Seq(8000000L))
      // probe batch: fresh clones of the erased vec 0 and surviving vec 7
      val probe = e.where(col("vec_id").isin(0, 7))
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val drops = graft.operators.Dedup.semDedupIncrementalStored(s, store,
        probe, batchId = 2L)
      val erasedFree = drops.where(col("vec_id") === 9000000L).isEmpty
      val survivorDrops = !drops.where(col("vec_id") === 9000007L).isEmpty
      s.range(1).select(
        lit(n1 + n2).as("n_deleted"),
        lit(coldOk).as("cold_ok"),
        lit(erasedFree).as("erased_free"),
        lit(survivorDrops).as("survivor_drops"))
    },
      // sem-store erasure: victim + its ingested clone deleted, cold files
      // identical, a fresh clone of the erased vector no longer drops while
      // a clone of a survivor still does
      """SELECT CAST(2 AS BIGINT) AS n_deleted, true AS cold_ok,
        |  true AS erased_free, true AS survivor_drops""".stripMargin),

    // -- [NS] batch-TTL retention for the stored SEMANTIC-DEDUP index:
    // the aged corpus batch's cell partitions drop as pure metadata
    // (survivors byte-identical; the batch=-1 seed never ages), the
    // trained centroids stay (a quantizer is valid over any subset), and
    // the dedup semantics flip exactly as if the aged vectors were never
    // ingested: a fresh clone of an AGED vector passes free while a
    // clone of a RETAINED vector still drops — the q_semdedup_delete
    // gate's flip, driven by aging instead of erasure. --
    Query("q_semdedup_retention", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val store = scratchDir("graft_semret")
      // batch 0 = the old corpus half; batch 1 = the retained increment
      graft.operators.Dedup.seedSemStore(e.where(col("vec_id") < 250L), store)
      graft.operators.Dedup.semDedupIncrementalStored(s, store,
        e.where(col("vec_id") >= 250L), batchId = 1L).count()
      val before = snapStoreFiles(s"$store/cells")
      val dropped = graft.operators.Dedup.retainSemStoreBatches(s, store, cutoff = 0L)
      val after = snapStoreFiles(s"$store/cells")
      val droppedOk = dropped == Seq(0L)
      val coldOk = after.nonEmpty &&
        after.keySet == before.keySet.filterNot(_.contains("batch=0/")) &&
        after.forall { case (f, sig) => before(f) == sig }
      // probe: clones of an aged vec (0) and a retained vec (250)
      val probe = e.where(col("vec_id").isin(0L, 250L))
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val drops = graft.operators.Dedup.semDedupIncrementalStored(s, store,
        probe, batchId = 2L)
      val agedFree = drops.where(col("vec_id") === 9000000L).isEmpty
      val retainedDrops = !drops.where(col("vec_id") === 9000250L).isEmpty
      s.range(1).select(
        lit(droppedOk).as("dropped_ok"),
        lit(coldOk).as("cold_ok"),
        lit(agedFree).as("aged_free"),
        lit(retainedDrops).as("retained_drops"))
    },
      """SELECT true AS dropped_ok, true AS cold_ok,
        |  true AS aged_free, true AS retained_drops""".stripMargin),

    // -- [NS] in-place RE-QUANTIZATION maintenance of the stored semantic
    // index (the knob that grows nlist with the corpus WITHOUT a full
    // re-seed): the store seeds at nlist=16, requantizeSemStore trains 64
    // centroids from the stored rows' sample, re-assigns the stored cells
    // in one parallel job, swaps via the recoverable sentinel protocol and
    // bumps the manifest; the probe then runs against the evolved store.
    // Drop semantics are quantizer-invariant for the planted fixture
    // (clones at cosine 1.0 share a cell under ANY quantizer; organic max
    // pairwise cosine ≈0.51 « 0.95), so the oracle is the same
    // deterministic set at shifted ids; requantized==untouched parity is
    // additionally spec-pinned. --
    Query("q_semdedup_requantized", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val store = scratchDirs.getOrElseUpdate(s"semrqstore:$d", {
        val r = scratchDir("graft_semrq")
        graft.operators.Dedup.seedSemStore(e, r)
        graft.operators.Dedup.requantizeSemStore(s, r, newNlist = 64)
        r
      })
      val clones = e.where(col("vec_id") < 3)
        .select((col("vec_id") + 8600000L).as("vec_id"), col("embedding"))
      val negBase = e.where(col("vec_id") === 5)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val inc = clones
        .unionByName(negBase.select(lit(8600010L).as("vec_id"), col("embedding")))
        .unionByName(negBase.select(lit(8600011L).as("vec_id"), col("embedding")))
      graft.operators.Dedup.semDedupIncrementalStored(s, store, inc,
          batchId = 1L, minCosine = 0.95, nlist = 64)
        .orderBy("vec_id")
    },
      // same quantizer-invariant planted-drop argument across the 16→64
      // in-place requantize (clones at cosine 1.0 share a cell under any
      // quantizer, before AND after the re-assign), at this fixture's ids
      """SELECT vec_id FROM (
        |  SELECT vec_id + 8600000 AS vec_id FROM embeddings WHERE vec_id < 3
        |  UNION ALL SELECT 8600011
        |) ORDER BY vec_id""".stripMargin),

    // -- [NS] the SQ8-QUANTIZED stored semantic index: cells persist
    // (cell, vec_id, qvec int8, qscale) at ~1/4 the bytes of the
    // full-precision store (the minhash store's column-weight lesson
    // applied to the sem tier — at lake scale the float embedding column
    // is the index's byte bottleneck). Cosine needs only the codes (a
    // per-vector positive scale cancels), so the probe compares the batch
    // floats against the cast-up stored codes; SQ8 direction error is
    // < 1% per component, three orders below the planted fixture's margin
    // (clones at 1.0, organics ≤ 0.51, threshold 0.95), so the drop set is
    // the same deterministic plant at shifted ids. Quantized==full parity
    // and the 1/4-bytes claim are spec-pinned. --
    Query("q_semdedup_quantized_stored", (s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val store = scratchDirs.getOrElseUpdate(s"semqstore:$d", {
        val r = scratchDir("graft_semq")
        graft.operators.Dedup.seedSemStore(e, r, quantized = true)
        r
      })
      val clones = e.where(col("vec_id") < 3)
        .select((col("vec_id") + 8800000L).as("vec_id"), col("embedding"))
      val negBase = e.where(col("vec_id") === 5)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val inc = clones
        .unionByName(negBase.select(lit(8800010L).as("vec_id"), col("embedding")))
        .unionByName(negBase.select(lit(8800011L).as("vec_id"), col("embedding")))
      graft.operators.Dedup.semDedupIncrementalStored(s, store, inc,
          batchId = 1L, minCosine = 0.95)
        .orderBy("vec_id")
    },
      // same planted-drop argument as the stored form at shifted ids: the
      // SQ8 codes change cosines by < 1%, three orders below the fixture's
      // margin, so the drop set is quantizer-precision-invariant
      """SELECT vec_id FROM (
        |  SELECT vec_id + 8800000 AS vec_id FROM embeddings WHERE vec_id < 3
        |  UNION ALL SELECT 8800011
        |) ORDER BY vec_id""".stripMargin),

    // -- [NS] STREAMING semantic dedup: the embedding tier's streaming
    // form, completing tier symmetry (exact/fuzzy/substring/ANN already
    // stream). Three id-ordered organic slices bootstrap the quantizer on
    // the first arrival; a fourth slice carries the planted duplicates —
    // three byte-identical clones of corpus vectors (cosine 1.0 to an
    // earlier arrival, same cell under ANY quantizer → drop) and two
    // identical negated copies of vec 5 (fresh direction: the earlier one
    // is accepted, the later one drops intra-batch by keep-first).
    // Accepted = every organic vector + the first negated copy. --
    Query("q_stream_semdedup", (s, d) => {
      val in = scratchDirs.getOrElseUpdate(s"semslices:$d", {
        val out = scratchDir("graft_semslices") + "/slices"
        val e = embeddings(s, d).select("vec_id", "embedding")
        val mx = e.agg(max(col("vec_id"))).head().getLong(0) + 1
        val base = System.currentTimeMillis()
        (0 until 3).foreach { i =>
          e.where(col("vec_id") >= i * mx / 3 && col("vec_id") < (i + 1) * mx / 3)
            .coalesce(1).write.mode("append").parquet(out)
          stampSliceMtime(out, i, base)
        }
        val clones = e.where(col("vec_id") < 3)
          .select((col("vec_id") + 8500000L).as("vec_id"), col("embedding"))
        val negBase = e.where(col("vec_id") === 5)
          .select(transform(col("embedding"), x => -x).as("embedding"))
        clones
          .unionByName(negBase.select(lit(8500010L).as("vec_id"), col("embedding")))
          .unionByName(negBase.select(lit(8500011L).as("vec_id"), col("embedding")))
          .coalesce(1).write.mode("append").parquet(out)
        stampSliceMtime(out, 3, base)
        out
      })
      val work = scratchDir("graft_semstream")
      graft.operators.Dedup.semDedupStreamKeep(s, in,
          work, keepCols = Seq("vec_id"),
          minCosine = 0.95)
        .orderBy("vec_id")
    },
      // arrival-ordered greedy keep-first over the planted stream: every
      // organic vector is accepted (organic max pairwise cosine ≈0.51 «
      // 0.95 — no organic drop regardless of cells), the three clones drop
      // against their earlier-arrived originals, and of the two identical
      // negated copies the EARLIER id is accepted (fresh direction) while
      // the later drops intra-batch
      """SELECT vec_id FROM (
        |  SELECT vec_id FROM embeddings
        |  UNION ALL SELECT 8500010
        |) ORDER BY vec_id""".stripMargin),

    // MinHash-LSH recall against hash-free ground truth: exact-Jaccard pairs
    // (inverted shingle index) vs the banded-LSH candidate set. Both counts
    // are DuckDB-expressible (planted near-dups in this corpus sit at
    // jaccard ≥ 0.9 where banded recall is ~1-2e-4 per pair), so this gates
    // the whole fuzzy-dedup path on a real oracle.
    Query("q_dedup_recall", (s, d) => {
      val art = Some(dedupArtifacts(s, d))
      val truth = Dedup.exactJaccardPairs(documents(s, d), n = 3, minJaccard = 0.7,
          art = art)
        .select("doc_a", "doc_b")
      val cands = Dedup.minhashCandidates(documents(s, d), minEstJaccard = 0.4,
          art = art)
        .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
      truth.join(cands, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0))).as("n_recalled"))
    },
      // hash-free ground truth twin of Dedup.exactJaccardPairs: distinct word
      // 3-gram shingles per doc, exact Jaccard >= 0.7; recall asserts the
      // LSH candidate set contains every true pair
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3)
        |SELECT count(*) AS n_true, count(*) AS n_recalled
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7""".stripMargin),

    Query("q_dedup_keep", (s, d) =>
      Dedup.minhashDeduped(documents(s, d), minEstJaccard = 0.4,
          verifyJaccard = Some(0.9), art = Some(dedupArtifacts(s, d)))
        .select("doc_id", "lang").orderBy("doc_id"),
      // greedy keep-smallest dedup: with candidates == truth (separation
      // argument above), the kept set is exactly documents minus the larger
      // endpoint of every true pair
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT db FROM tp) ORDER BY doc_id""".stripMargin),

    // -- [NS] REAL streaming fuzzy dedup: documents arrive as four
    // id-ordered file slices; each micro-batch band-probes the APPEND-ONLY
    // signature index of all earlier arrivals (LSH est >= 0.4, exact
    // shingle verify at J >= 0.9) and appends survivors + its own
    // signatures. Arrival order = id order (the ULID-ingest property), so
    // the accepted set equals batch greedy keep-first dedup and shares
    // q_dedup_keep's first-principles oracle. Fresh work dir per run: the
    // stream + index build is what this query benches.
    Query("q_stream_fuzzy_dedup", (s, d) => {
      val work = scratchDir("graft_fuzzystream")
      Dedup.minhashStreamKeep(s, docSlices(s, d), work,
          keepCols = Seq("doc_id", "lang"),
          minEstJaccard = 0.4, verifyJaccard = Some(0.9))
        .orderBy("doc_id")
    },
      // the streamed greedy keep-first equals the batch one (arrival order =
      // id order, append-only index): same first-principles truth set
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT db FROM tp) ORDER BY doc_id""".stripMargin),

    // -- [NS] STREAMING substring-census ingest: the substring tier's
    // streaming form (fuzzy has q_stream_fuzzy_dedup, ANN has
    // q_stream_ann_ingest). Same id-ordered slices; each micro-batch
    // scores its docs' dup mass against the census-so-far (existence
    // semi-join into the appended (win, n_docs) deltas — never
    // re-aggregated) and appends its own delta. Arrival-time semantics:
    // a window is dup iff another holder arrived in an earlier-or-same
    // batch; the oracle replays that rule from the slice boundaries --
    Query("q_stream_substring_ingest", (s, d) => {
      val work = scratchDir("graft_subststream")
      Dedup.substringStreamMass(s, docSlices(s, d), work,
          width = 40)
        .orderBy("doc_id")
    },
      // arrival-time dup mass: a window of doc b is dup iff another holder
      // arrived in an earlier-or-same slice (slice = the same integer-div
      // quarters the fixture writes); windows re-derived with the same
      // Karp-Rabin fold the engine uses
      """WITH w AS (
        |  SELECT DISTINCT doc_id, substring(text, i::INT, 40) AS win
        |  FROM documents, UNNEST(range(1, length(text) - 40 + 2)) AS t(i)
        |  WHERE length(text) >= 40
        |    AND list_reduce(list_transform(regexp_extract_all(substring(text, i::INT, 40), '(?s).'), c -> unicode(c)), (a,b) -> (a::BIGINT*257+b)%2147483647) % 16 = 0),
        |mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |s AS (SELECT w.doc_id, w.win,
        |        CASE WHEN w.doc_id >= 3 * m // 4 THEN 3
        |             WHEN w.doc_id >= 2 * m // 4 THEN 2
        |             WHEN w.doc_id >= m // 4 THEN 1 ELSE 0 END AS slc
        |      FROM w, mx)
        |SELECT b.doc_id, count(DISTINCT b.win) AS n_dup_windows
        |FROM s b
        |WHERE EXISTS (SELECT 1 FROM s a
        |              WHERE a.win = b.win AND a.doc_id <> b.doc_id AND a.slc <= b.slc)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // live closure run (the dashboards read its materialized result from
    // the dedup store instead of re-running it per view)
    Query("q_dedup_transitive", (s, d) =>
      Dedup.minhashDedupedTransitive(documents(s, d), minEstJaccard = 0.4,
          verifyJaccard = Some(0.9), art = Some(dedupArtifacts(s, d)))
        .select("doc_id", "lang").orderBy("doc_id"),
      // transitive dedup: connected components of the truth-pair graph via a
      // recursive CTE; kept = every doc that is its component's minimum (or
      // matched nothing)
      """WITH RECURSIVE tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |tp AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9),
        |e AS (SELECT da AS a, db AS b FROM tp UNION SELECT db AS a, da AS b FROM tp),
        |reach AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, min(b) AS mn FROM reach WHERE b <> a GROUP BY a)
        |SELECT d.doc_id, d.lang FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
        |WHERE l.doc_id IS NULL OR l.mn > d.doc_id ORDER BY d.doc_id""".stripMargin),

    // -- [NS] graph analytics: fixed-iteration PageRank over the exact-
    // Jaccard similarity graph (Graph.pageRankSim) — template hubs
    // accumulate rank, organic docs stay at the uniform floor. Edges from
    // the prefix-filtered AllPairs join; per-iteration 12-dp + decimal-sum
    // convention makes all 5 iterations bit-identical cross-engine. --
    Query("q_pagerank_sim", (s, d) =>
      graft.operators.Graph.pageRankSim(documents(s, d),
        pairsOpt = Some(dedupStore(s, d).edges07)),
      // PageRank over the first-principles exact-Jaccard graph, 5 unrolled
      // iterations with the identical 12-dp + decimal-sum convention — the
      // whole trajectory is value-oracled, not just the fixed point
      ("""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
        |edges AS (SELECT da AS src, db AS dst FROM pairs UNION ALL SELECT db AS src, da AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |nodes AS (SELECT doc_id FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM nodes),
        |r0 AS (SELECT doc_id, 1.0 / (SELECT n_total FROM nn) AS r FROM nodes),
        |""".stripMargin +
        (1 to 5).map { i =>
          s"""r$i AS (SELECT n.doc_id,
             |  round(0.15 / (SELECT n_total FROM nn) + 0.85 * coalesce(c.contrib, 0), 12) AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(sum(CAST(round(p.r / d.deg, 12) AS DECIMAL(28,14))) AS DOUBLE) AS contrib
             |    FROM r${i - 1} p JOIN edges e ON p.doc_id = e.src JOIN deg d ON d.src = e.src
             |    GROUP BY e.dst) c ON n.doc_id = c.dst)""".stripMargin
        }.mkString(",\n") +
        "\nSELECT doc_id, round(r * 1000000, 4) AS rank_ppm FROM r5 ORDER BY doc_id")),

    // -- [NS] degree-oriented triangle counting over the same similarity
    // graph — local clustering / duplicate-clique signal; O(m^1.5) wedge
    // bound from the orientation, three hash joins, no iteration --
    Query("q_triangles", (s, d) =>
      graft.operators.Graph.triangleCounts(documents(s, d),
        pairsOpt = Some(dedupStore(s, d).edges07)),
      // same truth-pair CTE as pagerank_sim, closed into triangles by a
      // 3-way join on canonical (a < b < c) ids — orientation-free twin of
      // the degree-oriented Spark plan
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS s
        |       FROM tok WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
        |tri AS (
        |  SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
        |  FROM pairs p1 JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
        |  JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b),
        |corners AS (SELECT a AS doc_id FROM tri UNION ALL
        |            SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT doc_id, count(*) AS n_triangles FROM corners
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
