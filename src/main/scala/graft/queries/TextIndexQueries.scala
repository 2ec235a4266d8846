package graft
package queries

import graft.functions.VectorOps
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Lexical retrieval: TF-IDF and BM25, the stored inverted index and its
  * positional tier (erasure, retention, compaction, maintenance, boolean,
  * phrase and proximity serves), and hybrid lexical+vector fusion.
  */
private[graft] object TextIndexQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] per-document top-3 TF-IDF terms: term-keyed co-located join of
    // (doc,term) counts with document frequencies, per-doc window top-k --
    Query("q_tfidf_topterms", (s, d) =>
      graft.operators.Corpus.tfidfTopTerms(documents(s, d), k = 3),
      // natural-log IDF rounded to 4 dp before ranking in BOTH engines, ties
      // broken by term — the whole pipeline is integer counts + one ln
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df), 4) AS score
        |  FROM tf JOIN dfreq USING (term)),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, term, score FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin),

    // -- [NS] BM25 retrieval: top-20 documents for a 3-term query mixing a
    // rare term (high idf) with two common ones — the classic search-
    // ranking operator over the corpus; scoring discipline documented on
    // Corpus.bm25TopK (ln rounded at 6 dp, per-term decimal fixing, final
    // 4 dp) so the oracle reproduces it bit-for-bit --
    Query("q_bm25_search", (s, d) =>
      graft.operators.Corpus.bm25TopK(documents(s, d),
        Seq("dup", "merge", "scan"), k = 20),
      // BM25 recomputed with the identical operation order and rounding
      // discipline (ln at 6 dp, per-term DECIMAL(18,8), final 4 dp)
      bm25OracleSql("documents")),

    // -- [NS] HYBRID RETRIEVAL — the standard production composition of
    // the two retrieval legs this engine already serves: reciprocal-rank
    // fusion (RRF, k=60) of the BM25 lexical top-20 and the STORED ANN
    // top-20 (served through the persisted IVF index at exhaustive
    // nprobe, where the stored probe provably equals brute force — which
    // is what makes the fusion exactly value-oracle-able). Both legs
    // rank deterministically (score desc, id), the fused score is two
    // IEEE divisions and one addition in a fixed order rounded to 6 dp,
    // ties pinned by doc_id. --
    Query("q_hybrid_search", (s, d) => {
      val byLex = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lex = graft.operators.Corpus.bm25TopK(documents(s, d),
          Seq("dup", "merge", "scan"), k = 20)
        .select(col("doc_id"), row_number().over(byLex).as("r_lex"))
      val w = scratchDir("graft_hybrid")
      val emb = embeddings(s, d)
      Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 16)
      Similarity.seedIvfStore(emb, w)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      val byVec = Window.orderBy(col("cosine").desc, col("vec_id"))
      val vec = Similarity.ivfProbeSetTopKStored(
          stored, s"$w/ivf_index", emb.where(col("vec_id") === 0L),
          k = 20, nprobe = 16)
        .select(col("vec_id").as("doc_id"), row_number().over(byVec).as("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },
      // hybrid retrieval: RRF(60) fusion of the BM25 lexical top-20 (the
      // q_bm25_search twin, ranked) and the vector top-20 (brute-force
      // cosine — the stored IVF probe at exhaustive nprobe equals it);
      // fused score = two IEEE divisions + one addition, rounded to 6 dp,
      // ties pinned by doc_id
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('dup', 'merge', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_toks / n_docs)))
        |      AS DECIMAL(18,8)) AS score_t
        |  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM (
        |    SELECT doc_id, round(CAST(sum(score_t) AS DOUBLE), 4) AS bm25
        |    FROM scored GROUP BY doc_id
        |    ORDER BY bm25 DESC, doc_id LIMIT 20)),
        |vec AS (
        |  SELECT vec_id AS doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, vec_id) AS r_vec FROM (
        |    SELECT e2.vec_id AS vec_id,
        |      round(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), CAST(e1.embedding AS DOUBLE[])), 4) AS cosine
        |    FROM embeddings e1, embeddings e2
        |    WHERE e1.vec_id = 0 AND e2.vec_id <> 0
        |    ORDER BY cosine DESC, e2.vec_id LIMIT 20))
        |SELECT doc_id,
        |  round(coalesce(1.0 / (60 + r_lex), 0) + coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf
        |FROM lex FULL OUTER JOIN vec USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // -- [NS] PRODUCTION-SHAPE hybrid retrieval: the BATCH probe-set form
    // (two hybrid queries served together — the vector legs ride ONE
    // probe-set serve, the way a real query frontier batches), with the
    // vector leg PRUNED (nprobe = 4 of 16 — the serve shape that scales;
    // q_hybrid_search's exhaustive corner exists to be value-oracled, not
    // deployed). Pruning moves the quality question to FUSION level, so
    // that is where the gate sits: per query, the pruned-leg RRF fused
    // top-10 must overlap the exhaustive-leg fusion's top-10 in ≥ 8
    // items — a recall invariant on the RESULT a user sees, not on the
    // leg (leg recall over-constrains: fusion damps single-leg misses
    // that lexical agreement covers). --
    Query("q_hybrid_search_pruned", (s, d) => {
      val docs = documents(s, d)
      val w = scratchDir("graft_hybridp")
      val emb = embeddings(s, d)
      Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 16)
      Similarity.seedIvfStore(emb, w)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      // query batch: (query_id = probe vec_id, its own term set)
      val queries = Seq(0L -> Seq("dup", "merge", "scan"),
        1L -> Seq("join", "window", "stream"))
      val byLex = Window.partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val lex = queries.map { case (qid, terms) =>
        graft.operators.Corpus.bm25TopK(docs, terms, k = 20)
          .withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _)
        .withColumn("r_lex", row_number().over(byLex))
        .select(col("query_id"), col("doc_id"), col("r_lex"))
        .persist() // shared by both fusions (pruned + exhaustive truth)
      val probes = emb.where(col("vec_id").isin(queries.map(_._1): _*))
      val byVec = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      def vecLeg(np: Int): DataFrame =
        Similarity.ivfProbeSetTopKStored(stored, s"$w/ivf_index", probes,
            k = 20, nprobe = np)
          .withColumn("r_vec", row_number().over(byVec))
          .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
            col("r_vec"))
      val byFused = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("doc_id"))
      def fuse(vec: DataFrame): DataFrame =
        lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
          .select(col("query_id"), col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0))).as("rrf"))
          .withColumn("rk", row_number().over(byFused))
          .where(col("rk") <= 10)
          .select("query_id", "doc_id")
      val pruned = fuse(vecLeg(4)).persist()
      val exhaustive = fuse(vecLeg(16))
      val out = exhaustive.join(pruned, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
        .select(col("query_id"), (col("n_common") >= 8).as("overlap_ok"))
        .orderBy("query_id")
      out
    },
      // batch + pruned-nprobe hybrid serve: per query, the pruned fusion's
      // top-10 overlaps the exhaustive fusion's top-10 in >= 8 items
      """SELECT CAST(v AS BIGINT) AS query_id, true AS overlap_ok
        |FROM (VALUES (0), (1)) t(v) ORDER BY query_id""".stripMargin),

    // -- [NS] WEIGHTED hybrid fusion (the α-blend production frontends
    // expose next to RRF): each leg's top-20 scores min-max NORMALIZED
    // within the leg (BM25 and cosine live on incomparable scales — raw
    // addition lets the wider scale swallow the other), then fused as
    // 0.6·lex + 0.4·vec, absent-leg scores contributing 0. Served at the
    // exhaustive corner (nprobe = nlist) where the stored vector leg
    // provably equals brute force — which is what makes the whole fused
    // ranking exactly value-oracle-able; the pruned production shape is
    // gated by q_hybrid_search_pruned. --
    Query("q_hybrid_search_weighted", (s, d) => {
      val lex = graft.operators.Corpus.bm25TopK(documents(s, d),
        Seq("dup", "merge", "scan"), k = 20)
      val lexN = lex.crossJoin(broadcast(
          lex.agg(min(col("bm25")).as("lo"), max(col("bm25")).as("hi"))))
        .select(col("doc_id"),
          when(col("hi") > col("lo"),
            (col("bm25") - col("lo")) / (col("hi") - col("lo")))
            .otherwise(lit(1.0)).as("n_lex"))
      val w = scratchDir("graft_hybridw")
      val emb = embeddings(s, d)
      Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 16)
      Similarity.seedIvfStore(emb, w)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      val vec = Similarity.ivfProbeSetTopKStored(
          stored, s"$w/ivf_index", emb.where(col("vec_id") === 0L),
          k = 20, nprobe = 16)
        .select(col("vec_id").as("doc_id"), col("cosine"))
      val vecN = vec.crossJoin(broadcast(
          vec.agg(min(col("cosine")).as("lo"), max(col("cosine")).as("hi"))))
        .select(col("doc_id"),
          when(col("hi") > col("lo"),
            (col("cosine") - col("lo")) / (col("hi") - col("lo")))
            .otherwise(lit(1.0)).as("n_vec"))
      lexN.join(vecN, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(lit(0.6) * coalesce(col("n_lex"), lit(0.0)) +
            lit(0.4) * coalesce(col("n_vec"), lit(0.0)), 6).as("fused"))
        .orderBy(col("fused").desc, col("doc_id"))
        .limit(20)
    },
      // weighted fusion at the exhaustive corner — the same leg CTEs as
      // q_hybrid_search, min-max normalized within each leg, 0.6/0.4 blend
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('dup', 'merge', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_toks / n_docs)))
        |      AS DECIMAL(18,8)) AS score_t
        |  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |lex AS (
        |  SELECT doc_id, round(CAST(sum(score_t) AS DOUBLE), 4) AS bm25
        |  FROM scored GROUP BY doc_id
        |  ORDER BY bm25 DESC, doc_id LIMIT 20),
        |lexn AS (
        |  SELECT doc_id, CASE WHEN max(bm25) OVER () > min(bm25) OVER ()
        |    THEN (bm25 - min(bm25) OVER ()) / (max(bm25) OVER () - min(bm25) OVER ())
        |    ELSE 1.0 END AS n_lex FROM lex),
        |vec AS (
        |  SELECT e2.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), CAST(e1.embedding AS DOUBLE[])), 4) AS cosine
        |  FROM embeddings e1, embeddings e2
        |  WHERE e1.vec_id = 0 AND e2.vec_id <> 0
        |  ORDER BY cosine DESC, e2.vec_id LIMIT 20),
        |vecn AS (
        |  SELECT doc_id, CASE WHEN max(cosine) OVER () > min(cosine) OVER ()
        |    THEN (cosine - min(cosine) OVER ()) / (max(cosine) OVER () - min(cosine) OVER ())
        |    ELSE 1.0 END AS n_vec FROM vec)
        |SELECT doc_id,
        |  round(0.6 * coalesce(n_lex, 0) + 0.4 * coalesce(n_vec, 0), 6) AS fused
        |FROM lexn FULL OUTER JOIN vecn USING (doc_id)
        |ORDER BY fused DESC, doc_id LIMIT 20""".stripMargin),

    // -- [NS] BM25 served FROM THE STORED INVERTED INDEX — the lexical
    // analogue of the stored-IVF serve: postings live term-hash-fanned
    // (tm_mod partitions) with doc length denormalized into the row, so
    // the serve is ONE partition-pruned postings scan (≤ |terms| of the
    // nMods dirs listed) plus an O(batches) stats-row sum — the raw
    // corpus is never touched at query time. The index is the shared
    // 2-batch INCREMENTAL build, and the scorer replays bm25TopK's
    // operation order bit-for-bit, so the oracle is the full-scan BM25
    // SQL itself: stored serve == corpus scan, exactly. --
    Query("q_bm25_stored", (s, d) =>
      graft.operators.TextIndex.bm25TopKStored(s, textIndexRoot(s, d),
        Seq("dup", "merge", "scan"), k = 20),
      // stored inverted-index serves: the stored scorer replays bm25TopK's
      // operation order bit-for-bit, so each gate's oracle is the full-scan
      // BM25 SQL over exactly the corpus the index should equal — the whole
      // corpus (stored/compacted), corpus minus the erased victims
      // (delete), or the retained batches only (retention)
      bm25OracleSql("documents")),

    // -- [NS] RIGHT-TO-ERASURE from the text index: victims' postings go
    // by file-targeted rewrite (cold files byte-identical), and the
    // victims' OWN batches' stats rows decrement in place (N/avgdl match
    // a corpus that never held them; retention still drops each batch's
    // stats with its postings). Gate = the strongest form this engine
    // has: the post-delete serve EQUALS the full-scan BM25 over
    // corpus-minus-victims, value-for-value. --
    Query("q_bm25_delete", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDir("graft_bm25del") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 250L) -> 0L,
            docs0.where(col("doc_id") >= 250L) -> 1L), idx)
      val victims = Seq(3L, 7L, 250L, 401L)
      val before = snapStoreFiles(s"$idx/postings")
      // file-targeting ground truth: the files that actually hold victim
      // postings (bounded collect ≤ the store's file count). On this
      // corpus's ~30-word shared vocabulary a victim doc's terms can hash
      // into EVERY tm_mod dir — cold-file identity must be asserted
      // against the true victim placement, not against "some file survived"
      val victimFiles = s.read.parquet(s"$idx/postings")
        .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .select(input_file_name().as("f")).distinct().collect()
        .map(r => r.getString(0).split("/").takeRight(3).mkString("/")).toSet
      val erased = graft.operators.TextIndex.deleteFromTextIndex(s, idx, victims)
      val after = snapStoreFiles(s"$idx/postings")
      // every victim-free file must survive the swap byte-identical
      val expectedSurvivors = before.keySet -- victimFiles
      val coldOk = expectedSurvivors.subsetOf(after.keySet) &&
        expectedSurvivors.forall(f => after(f) == before(f))
      val goneOk = s.read.parquet(s"$idx/postings")
        .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .isEmpty
      // stats decremented in the victims' own batches: the summed store
      // stats equal a direct recount over corpus-minus-victims
      val statsRow = s.read.parquet(s"$idx/stats")
        .agg(sum(col("n_docs")), sum(col("total_toks"))).head()
      val wantStats = docs0
        .where(!col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .agg(count(lit(1)),
          sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")))
        .head()
      val statsOk = statsRow.getLong(0) == wantStats.getLong(0) &&
        statsRow.getLong(1) == wantStats.getLong(1)
      require(erased == victims.length && coldOk && goneOk && statsOk,
        s"q_bm25_delete: erased=$erased coldOk=$coldOk goneOk=$goneOk statsOk=$statsOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id NOT IN (3, 7, 250, 401))")),

    // -- [NS] erasure of ZERO-TOKEN documents: an empty doc has no
    // postings rows, but it holds a membership row and counts in
    // N/avgdl — an erasure that only chased postings would leave the
    // stored N permanently high per such victim (silently skewing every
    // later score). The membership (docs/) table is what makes these
    // victims findable; the gate erases one empty and one normal doc
    // and pins the recomputed stats against a direct recount, then
    // serves — the oracle scores the emptied corpus minus the victims
    // with dl derived over ALL docs (zero-token docs contribute dl=0,
    // exactly as the engine's token counter does). --
    Query("q_bm25_zero_token_delete", (s, d) => {
      val docs0 = documents(s, d)
        .withColumn("text",
          when(col("doc_id").isin(5L, 6L), lit("")).otherwise(col("text")))
      val idx = scratchDir("graft_bm25zero") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 250L) -> 0L,
            docs0.where(col("doc_id") >= 250L) -> 1L), idx)
      val erased = graft.operators.TextIndex.deleteFromTextIndex(s, idx, Seq(5L, 7L))
      val statsRow = s.read.parquet(s"$idx/stats")
        .agg(sum(col("n_docs")), sum(col("total_toks"))).head()
      val wantStats = docs0.where(!col("doc_id").isin(5L, 7L))
        .agg(count(lit(1)), coalesce(
          sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")),
          lit(0L)))
        .head()
      val statsOk = statsRow.getLong(0) == wantStats.getLong(0) &&
        statsRow.getLong(1) == wantStats.getLong(1)
      require(erased == 2L && statsOk,
        s"q_bm25_zero_token_delete: erased=$erased statsOk=$statsOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      // zero-token erasure: docs 5/6 emptied, victims 5 (empty) and 7
      // erased; dl derives over ALL surviving docs so the emptied doc 6
      // contributes dl=0 to N/avgdl — exactly the engine's token counter
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id = 6 THEN '' ELSE text END AS text
        |  FROM documents WHERE doc_id NOT IN (5, 7)),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM corpus),
        |dl AS (SELECT c.doc_id, count(t.term) AS dl
        |       FROM corpus c LEFT JOIN toks t ON c.doc_id = t.doc_id GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('dup', 'merge', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_toks / n_docs)))
        |      AS DECIMAL(18,8)) AS score_t
        |  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats)
        |SELECT doc_id, round(CAST(sum(score_t) AS DOUBLE), 4) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin),

    // -- [NS] BULK right-to-erasure from the text index: the victim set
    // is a TABLE (a fifth of the corpus — the compliance-batch shape),
    // applied through the broadcast semi/anti erasure core; no victim
    // id ever funnels through a driver-built literal list (the
    // Seq[Long] form's expression tree is ∝ |victims| and stops scaling
    // around 10⁴ ids). Gate: the erased count prices to the victim
    // table's cardinality, no victim posting survives, and the serve
    // equals the full-scan BM25 over the surviving four fifths. --
    Query("q_bm25_bulk_delete", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDir("graft_bm25bulk") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 250L) -> 0L,
            docs0.where(col("doc_id") >= 250L) -> 1L), idx)
      val victims = docs0.where(col("doc_id") % 5 === 3L).select("doc_id")
      val expected = victims.count()
      val erased = graft.operators.TextIndex.deleteFromTextIndex(s, idx, victims)
      val goneOk = s.read.parquet(s"$idx/postings")
        .join(broadcast(victims), Seq("doc_id"), "left_semi").isEmpty
      require(erased == expected && goneOk,
        s"q_bm25_bulk_delete: erased=$erased expected=$expected goneOk=$goneOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      // bulk (victim-table) erasure: a fifth of the corpus gone
      bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id % 5 <> 3)")),

    // -- [NS] batch-TTL retention for the text index: `batch <= cutoff`
    // partitions of postings AND stats drop as PURE METADATA (no data
    // file read or rewritten; surviving files inode-level byte-identical,
    // require()d below). Aging is exact for this family — a batch's docs
    // contribute nothing outside their own partitions — so the gate is
    // again exact: post-retention serve == full-scan BM25 over the
    // retained docs only. --
    Query("q_bm25_retention", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDir("graft_bm25ret") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 200L) -> 0L,
            docs0.where(col("doc_id") >= 200L && col("doc_id") < 400L) -> 1L,
            docs0.where(col("doc_id") >= 400L) -> 2L), idx)
      val before = snapStoreFiles(idx)
      val dropped = graft.operators.TextIndex.retainTextIndexBatches(s, idx, cutoff = 0L)
      val after = snapStoreFiles(idx)
      val droppedOk = dropped == Map("postings" -> Seq(0L), "stats" -> Seq(0L),
        "docs" -> Seq(0L), "terms" -> Seq(0L))
      val coldOk = after.nonEmpty &&
        after.keySet == before.keySet.filterNot(_.contains("batch=0")) &&
        after.forall { case (f, sig) => before(f) == sig }
      val agedOk = s.read.parquet(s"$idx/postings")
        .where(col("doc_id") < 200L).isEmpty
      require(droppedOk && coldOk && agedOk,
        s"q_bm25_retention: droppedOk=$droppedOk coldOk=$coldOk agedOk=$agedOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id >= 200)")),

    // -- [NS] text-index COMPACTION: fold the micro-batch postings
    // (3 appends) into one consolidated term-clustered batch — the
    // small-files maintenance every streaming-ingested store needs —
    // touching ONLY the folded batches (younger batches byte-identical,
    // require()d) behind the checked recoverable swap; stats rows fold
    // by summation, which is exactly what the scorer reads. Gate: the
    // post-compaction serve still equals the full-scan BM25. --
    Query("q_bm25_compact", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDir("graft_bm25cmp") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 150L) -> 0L,
            docs0.where(col("doc_id") >= 150L && col("doc_id") < 300L) -> 1L,
            docs0.where(col("doc_id") >= 300L) -> 2L), idx)
      val before = snapStoreFiles(idx)
      val (folded, erased0) =
        graft.operators.TextIndex.compactTextIndexBatches(s, idx, upTo = 1L)
      val after = snapStoreFiles(idx)
      val youngBefore = before.keySet.filter(_.contains("batch=2"))
      val coldOk = youngBefore.subsetOf(after.keySet) &&
        youngBefore.forall(f => after(f) == before(f))
      val foldedOk = folded == 1L && erased0 == 0L &&
        !after.keySet.exists(_.contains("batch=0"))
      require(coldOk && foldedOk,
        s"q_bm25_compact: coldOk=$coldOk foldedOk=$foldedOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      bm25OracleSql("documents")),

    // -- [NS] MAINTENANCE PLANNER — the deterministic ops advisor a
    // 100 TB control loop runs instead of hand-scheduling per store:
    // O(batches) stats rows in, the declared two-rule policy out
    // (batch-TTL retention with the drop-all refusal applied at PLAN
    // time; compaction of survivors past the live-batch budget, newest
    // batch kept unfolded so a hot appender never races the fold's
    // swap). Two policy scenarios against one 5-batch store exercise
    // both rules; n_docs comes from the store's stats rows, so the
    // exact oracle (recounting the same batches from `documents`)
    // re-verifies the stats invariant as a side effect. --
    Query("q_maint_plan", (s, d) => {
      // the planner only READS store metadata, so the 5-batch fixture
      // memoizes like every read-only store (textIndexRoot discipline) —
      // the declared subject is the DECISION, not the store build
      val idx = scratchDirs.getOrElseUpdate(s"maintplan:$d", {
        val docs0 = documents(s, d)
        val mx = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1
        val r = scratchDir("graft_maintplan") + "/text_index"
        graft.operators.TextIndex.appendTextIndexBatches(
          (0 until 5).map { i =>
            docs0.where(col("doc_id") >= i * mx / 5 &&
              col("doc_id") < (i + 1) * mx / 5) -> i.toLong
          }, r)
        r
      })
      val a = graft.operators.Maintenance.planTextIndexMaintenance(
          s, idx, ttlBatches = 2, maxLiveBatches = 2)
        .withColumn("scenario", lit("A"))
      val b = graft.operators.Maintenance.planTextIndexMaintenance(
          s, idx, ttlBatches = 10, maxLiveBatches = 2)
        .withColumn("scenario", lit("B"))
      a.unionByName(b)
        .select("scenario", "action", "param", "n_batches", "n_docs")
        .orderBy("scenario", "action")
    },
      // the planner's plan is a pure function of (batch ids, per-batch
      // doc counts); the twin recomputes both from documents with the
      // fixture's own range arithmetic — scenario A fires retention
      // (newest=4, ttl=2 → cutoff 2 drops batches 0-2, survivors 2 ≤
      // budget), scenario B fires compaction (no aging; 5 live > 2 →
      // fold batches 0-3, newest stays)
      """WITH m AS (SELECT max(doc_id) + 1 AS mx FROM documents)
        |SELECT 'A' AS scenario, 'retain' AS action, CAST(2 AS BIGINT) AS param,
        |  CAST(3 AS BIGINT) AS n_batches,
        |  (SELECT count(*) FROM documents, m WHERE doc_id < 3 * mx // 5) AS n_docs
        |UNION ALL
        |SELECT 'B', 'compact', CAST(3 AS BIGINT), CAST(4 AS BIGINT),
        |  (SELECT count(*) FROM documents, m WHERE doc_id < 4 * mx // 5)
        |ORDER BY scenario, action""".stripMargin),

    // -- [NS] the maintenance control loop's FULL STEP — plan then
    // EXECUTE (retention first, so compaction folds survivors only;
    // both ops behind the shared sentinel): a 6-batch store ages 3
    // batches and folds 2 of the 3 survivors in one call. The declared
    // output is the executed plan (exact oracle recounts it from
    // documents); the post-state is require()d — only the planned
    // batches remain, and the maintained serve equals the full-scan
    // BM25 over the retained corpus (folding is value-invisible, aging
    // is exact for this family). --
    Query("q_maint_run", (s, d) => {
      val docs0 = documents(s, d)
      val mx = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1
      val idx = scratchDir("graft_maintrun") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        (0 until 6).map { i =>
          docs0.where(col("doc_id") >= i * mx / 6 &&
            col("doc_id") < (i + 1) * mx / 6) -> i.toLong
        }, idx)
      val executed = graft.operators.Maintenance.runTextIndexMaintenance(
        s, idx, ttlBatches = 3, maxLiveBatches = 2)
      val batchesLeft = s.read.parquet(s"$idx/stats")
        .select(col("batch").cast("long")).distinct()
        .orderBy("batch").collect().map(_.getLong(0)).toSeq
      val retained = docs0.where(col("doc_id") >= 3 * mx / 6)
      val served = graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
      val twin = graft.operators.Corpus.bm25TopK(retained,
        Seq("dup", "merge", "scan"), k = 20)
      // one-pass bag equality: the full-scan twin (the expensive leg)
      // executes once, not twice per exceptAll direction
      require(batchesLeft == Seq(4L, 5L) && multisetEqual(served, twin),
        s"q_maint_run: batchesLeft=$batchesLeft or maintained serve drifted " +
          "from the retained-corpus scorer")
      executed.select("action", "param", "n_batches", "n_docs")
        .orderBy("action")
    },
      // the executed plan: retention of batches 0-2 (cutoff 2), then the
      // fold of survivors 3,4 (newest 5 stays); the twin recounts both
      // actions' doc coverage from documents with the fixture's range
      // arithmetic
      """WITH m AS (SELECT max(doc_id) + 1 AS mx FROM documents)
        |SELECT 'compact' AS action, CAST(4 AS BIGINT) AS param,
        |  CAST(2 AS BIGINT) AS n_batches,
        |  (SELECT count(*) FROM documents, m
        |   WHERE doc_id >= 3 * mx // 6 AND doc_id < 5 * mx // 6) AS n_docs
        |UNION ALL
        |SELECT 'retain', CAST(2 AS BIGINT), CAST(3 AS BIGINT),
        |  (SELECT count(*) FROM documents, m WHERE doc_id < 3 * mx // 6)
        |ORDER BY action""".stripMargin),

    // -- [NS] text-index compaction with ERASURE FOLDED IN: a victim
    // set big enough to saturate file-targeted deletion (V ≫ F touches
    // ~every file: 1−(1−1/F)^V) costs ONE fold rewrite instead of
    // delete-then-compact's two — the victims simply drop out of the
    // fold's reads, the folded stats row aggregates the folded
    // membership (decrement for free), and the folded dictionary
    // recomputes from the folded postings (impact bounds stay exact).
    // Victims in batches the fold won't rewrite refuse loudly
    // (require()d below). Gate: young batch byte-identical, victims
    // gone, serve equals the full scan over corpus-minus-victims. --
    Query("q_bm25_compact_erase", (s, d) => {
      val docs0 = documents(s, d)
      val idx = scratchDir("graft_bm25cmpe") + "/text_index"
      graft.operators.TextIndex.appendTextIndexBatches(
        Seq(docs0.where(col("doc_id") < 150L) -> 0L,
            docs0.where(col("doc_id") >= 150L && col("doc_id") < 300L) -> 1L,
            docs0.where(col("doc_id") >= 300L) -> 2L), idx)
      val victims = Seq(3L, 77L, 151L, 299L) // batches 0 and 1 only
      // a victim in an unfolded batch must refuse, store untouched
      val refused =
        try {
          graft.operators.TextIndex.compactTextIndexBatches(
            s, idx, upTo = 1L, dropIds = victims :+ 400L)
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("batches > 1")
        }
      val before = snapStoreFiles(idx)
      val (folded, erased) = graft.operators.TextIndex.compactTextIndexBatches(
        s, idx, upTo = 1L, dropIds = victims)
      val after = snapStoreFiles(idx)
      val youngBefore = before.keySet.filter(_.contains("batch=2"))
      val coldOk = youngBefore.subsetOf(after.keySet) &&
        youngBefore.forall(f => after(f) == before(f))
      val goneOk = s.read.parquet(s"$idx/postings")
        .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .isEmpty
      require(refused && folded == 1L && erased == victims.length.toLong &&
        coldOk && goneOk,
        s"q_bm25_compact_erase: refused=$refused folded=$folded erased=$erased " +
          s"coldOk=$coldOk goneOk=$goneOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      // erasure folded into compaction: same serve contract as a delete
      bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id NOT IN (3, 77, 151, 299))")),

    // -- [NS] STREAMING text-index ingest: the lexical tier's streaming
    // form (fuzzy has q_stream_fuzzy_dedup, substring q_stream_substring_
    // ingest, ANN q_stream_ann_ingest). The same id-ordered document
    // slices arrive as a REAL file stream; each micro-batch appends its
    // own postings batch + one-row stats partition (idempotent under
    // replay — a batch overwrites only its own dirs). Because BM25 is a
    // pure function of the corpus (batch boundaries don't enter the
    // score), the gate is again EXACT: the post-stream stored serve
    // equals the full-scan BM25 over the whole corpus. --
    Query("q_stream_bm25_ingest", (s, d) => {
      val idx = scratchDir("graft_bm25stream") + "/text_index"
      graft.operators.TextIndex.streamIngestTextIndex(s, docSlices(s, d), idx)
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      // streaming ingest: batch boundaries never enter the score, so the
      // post-stream serve equals the whole-corpus scan
      bm25OracleSql("documents")),

    // -- [NS] RIGHT-TO-ERASURE against the LIVE text-index ingest
    // stream (the IVF queue discipline applied to the lexical tier): a
    // direct deleteFromTextIndex racing the stream's appends is out of
    // the single-writer contract, so the request lands in the shared
    // pending-erasure queue — one literal (.req) and one BULK parquet
    // (.reqp) request, overlapping ids (idempotent) — and the stream
    // drains both in its between-batch slot. Victims sit in the FIRST
    // arrival slice, so the drain after batch 0 has real rows to erase
    // while later slices are still in flight. Because BM25 is a pure
    // function of the corpus, the gate stays EXACT: queue retired +
    // post-stream serve == full-scan BM25 over corpus-minus-victims. --
    Query("q_stream_bm25_erase", (s, d) => {
      import s.implicits._
      val idx = scratchDir("graft_bm25qerase") + "/text_index"
      val victims = Seq(10L, 20L)
      graft.operators.TextIndex.enqueueTextIndexErasure(s, idx, victims)
      graft.operators.TextIndex.enqueueTextIndexErasure(
        s, idx, Seq(20L).toDF("doc_id")) // bulk form, overlapping id
      graft.operators.TextIndex.streamIngestTextIndex(s, docSlices(s, d), idx)
      val pendDir = java.nio.file.Paths.get(idx, ".pending_erasures")
      val drainedOk = !java.nio.file.Files.exists(pendDir) || {
        val st = java.nio.file.Files.list(pendDir)
        try st.filter(p => p.getFileName.toString.endsWith(".req") ||
          p.getFileName.toString.endsWith(".reqp")).count() == 0L
        finally st.close()
      }
      val goneOk = s.read.parquet(s"$idx/postings")
        .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .isEmpty
      require(drainedOk && goneOk,
        s"q_stream_bm25_erase: drainedOk=$drainedOk goneOk=$goneOk")
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge", "scan"), k = 20)
    },
      // live-stream erasure via the drained queue: exact over the
      // surviving corpus
      bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id NOT IN (10, 20))")),

    // -- [NS] IMPACT-BOUNDED BM25 serve (WAND/MaxScore posture): the
    // exact serve's candidate set is ∝ Σ df(term) — one stopword makes
    // it corpus-sized. The terms/ dictionary carries per-term
    // (df, max_tf, min_dl), so the serve decides BEFORE touching any
    // postings which terms' postings it refuses to read; capped terms'
    // bytes are never scanned and each returned score understates truth
    // by at most the declared bound. Gate: with the ceiling at the
    // terms' min df (capping the rest), every scored doc sits inside
    // [exact − bound, exact]; with the ceiling at the max df (nothing
    // capped) the bounded serve IS the exact serve — which is what the
    // oracle hashes. --
    Query("q_bm25_bounded", (s, d) => {
      val idx = textIndexRoot(s, d)
      val qTerms = Seq("dup", "merge", "scan")
      // term dfs from the vocab-sized dictionary (bounded collect ≤ |terms|)
      val dfs = s.read.parquet(s"$idx/terms")
        .where(col("term").isin(qTerms: _*))
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val low = dfs.values.min
      val (capped, bound) = graft.operators.TextIndex.cappedImpactBound(
        s, idx, qTerms, dfCeiling = low)
      val kAll = 1 << 20 // every scored doc (result ≤ docs holding a term)
      val boundedAll = graft.operators.TextIndex.bm25TopKStoredBounded(
        s, idx, qTerms, k = kAll, dfCeiling = low)
      val exactAll = graft.operators.TextIndex.bm25TopKStored(s, idx, qTerms, k = kAll)
      val bad = exactAll.as("e")
        .join(boundedAll.select(col("doc_id"), col("bm25").as("b_bm25")),
          Seq("doc_id"), "left_outer")
        .where(coalesce(col("b_bm25"), lit(0.0)) > col("e.bm25") + lit(1e-9) ||
          col("e.bm25") > coalesce(col("b_bm25"), lit(0.0)) + lit(bound) + lit(1e-9))
        .count()
      require(bad == 0L && capped.forall(t => dfs(t) > low),
        s"q_bm25_bounded: $bad docs outside the declared bound " +
          s"(capped=$capped bound=$bound dfs=$dfs)")
      graft.operators.TextIndex.bm25TopKStoredBounded(
        s, idx, qTerms, k = 20, dfCeiling = dfs.values.max)
    },
      // the bounded serve with nothing capped IS the exact serve
      bm25OracleSql("documents")),

    // -- [NS] BOOLEAN retrieval from the stored postings — the filter
    // half of a production search engine (Lucene MUST / MUST_NOT),
    // served without touching the corpus: each clause leg is one
    // tm_mod-pruned postings scan (candidates ∝ Σ df, never
    // corpus-sized); MUST is a doc-grouped term count (the append
    // contract stores each (doc, term) pair exactly once, so count ≡
    // count distinct — no distinct shuffle), MUST_NOT a left-anti join.
    // Exact value oracle: DuckDB re-tokenizes and intersects. --
    Query("q_bool_and_stored", (s, d) =>
      graft.operators.TextIndex.booleanSearchStored(s, textIndexRoot(s, d),
        must = Seq("dup", "merge"), mustNot = Seq("scan")),
      // boolean MUST/MUST_NOT from the stored postings: the twin
      // re-tokenizes and intersects — docs holding BOTH must terms and
      // not the excluded one
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |m AS (SELECT doc_id FROM toks WHERE term IN ('dup', 'merge')
        |      GROUP BY doc_id HAVING count(DISTINCT term) = 2),
        |x AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan')
        |SELECT m.doc_id FROM m LEFT JOIN x ON m.doc_id = x.doc_id
        |WHERE x.doc_id IS NULL ORDER BY m.doc_id""".stripMargin),

    // -- [NS] PHRASE search from the stored POSITIONAL tier (Lucene
    // PhraseQuery) — the exact-match class flat postings cannot answer:
    // docs where the phrase's terms occur CONSECUTIVELY, with per-doc
    // occurrence counts. One tm_mod-pruned positions scan (∝ Σ tf over
    // the phrase's terms, never corpus-sized) + the anchor trick
    // (term i at pos p → candidate start p−i; a (doc, start) filling
    // all slots is a match). Exact value oracle: DuckDB re-tokenizes
    // and checks adjacency. --
    Query("q_phrase_stored", (s, d) =>
      graft.operators.TextIndex.phraseSearchStored(s, textIndexRoot(s, d),
        Seq("fast", "merge")),
      // phrase adjacency from the positional tier: the twin re-tokenizes
      // and counts consecutive (fast, merge) pairs per doc (constant
      // series bound 256 ≥ the corpus's max token count; the i+1 <= len
      // guard does the per-doc clamping)
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |FROM t, generate_series(1, 256) g(i)
        |WHERE i + 1 <= len(toks) AND toks[i] = 'fast' AND toks[i+1] = 'merge'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // -- [NS] PROXIMITY search from the positional tier (Lucene
    // SpanNearQuery, unordered): docs where two terms co-occur within a
    // token window. Doc-keyed hash join of the two pruned position
    // sets with the distance as residual — never a cross product
    // across documents. --
    Query("q_near_stored", (s, d) =>
      graft.operators.TextIndex.proximitySearchStored(s, textIndexRoot(s, d),
        "vector", "spark", window = 3),
      // proximity: docs where vector and spark sit within 3 token
      // positions of each other, either order
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |pa AS (SELECT doc_id, i AS p FROM t, generate_series(1, 256) g(i)
        |       WHERE i <= len(toks) AND toks[i] = 'vector'),
        |pb AS (SELECT doc_id, i AS p FROM t, generate_series(1, 256) g(i)
        |       WHERE i <= len(toks) AND toks[i] = 'spark')
        |SELECT doc_id FROM (
        |  SELECT DISTINCT pa.doc_id AS doc_id FROM pa JOIN pb
        |    ON pa.doc_id = pb.doc_id AND abs(pa.p - pb.p) <= 3)
        |ORDER BY doc_id""".stripMargin),

    // -- [NS] ORDERED proximity (SpanNearQuery inOrder=true): the first
    // term must precede the second within the window — the asymmetric
    // span ("big" before "table") the unordered form cannot express;
    // same doc-keyed join, the direction rides the residual. --
    Query("q_near_ordered_stored", (s, d) =>
      graft.operators.TextIndex.proximitySearchStored(s, textIndexRoot(s, d),
        "big", "table", window = 2, ordered = true),
      // ordered proximity: big strictly before table, gap <= 2
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |pa AS (SELECT doc_id, i AS p FROM t, generate_series(1, 256) g(i)
        |       WHERE i <= len(toks) AND toks[i] = 'big'),
        |pb AS (SELECT doc_id, i AS p FROM t, generate_series(1, 256) g(i)
        |       WHERE i <= len(toks) AND toks[i] = 'table')
        |SELECT doc_id FROM (
        |  SELECT DISTINCT pa.doc_id AS doc_id FROM pa JOIN pb
        |    ON pa.doc_id = pb.doc_id AND pb.p - pa.p BETWEEN 1 AND 2)
        |ORDER BY doc_id""".stripMargin),

    // -- [NS] FILTERED RANKING — the boolean filter COMPOSED with the
    // BM25 scorer, both from the stored index (the "category:x AND NOT
    // y, ranked" query every deployed engine serves): the boolean match
    // set restricts which docs are scored while df/N/avgdl stay
    // corpus-level (the Lucene filter-clause semantics — a filter never
    // changes idf). Exactly value-oracled: the twin scores the same
    // docs with corpus-level stats in SQL. --
    Query("q_bool_rank_stored", (s, d) => {
      val idx = textIndexRoot(s, d)
      val matches = graft.operators.TextIndex.booleanSearchStored(
        s, idx, must = Seq("dup", "merge"), mustNot = Seq("scan"))
      graft.operators.TextIndex.bm25TopKStored(s, idx,
        Seq("dup", "merge"), k = 10, docFilter = Some(matches))
    },
      // filtered ranking: the boolean match set restricts which docs are
      // SCORED while df/N/avgdl stay corpus-level (the Lucene
      // filter-clause semantics) — same scorer shape as bm25OracleSql
      // with the match-set semi join on the scored leg only
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('dup', 'merge') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |m AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(DISTINCT term) = 2),
        |x AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan'),
        |matches AS (SELECT m.doc_id FROM m LEFT JOIN x ON m.doc_id = x.doc_id
        |            WHERE x.doc_id IS NULL),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_toks / n_docs)))
        |      AS DECIMAL(18,8)) AS score_t
        |  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
        |  WHERE tf.doc_id IN (SELECT doc_id FROM matches))
        |SELECT doc_id, round(CAST(sum(score_t) AS DOUBLE), 4) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 10""".stripMargin),

    // -- [NS] hybrid retrieval with BOTH legs served from PERSISTED
    // indexes — the deployed frontend shape: the lexical top-20 from the
    // stored inverted index (one term-pruned postings scan; the raw
    // corpus untouched) and the vector top-20 from the stored IVF index
    // at the exhaustive corner (provably equal to brute force), RRF
    // fused. Because the stored BM25 serve equals the corpus scan
    // exactly, the whole fusion stays exactly value-oracle-able — the
    // oracle is q_hybrid_search's SQL verbatim. --
    Query("q_hybrid_search_indexed", (s, d) => {
      val byLex = Window.orderBy(col("bm25").desc, col("doc_id"))
      val lex = graft.operators.TextIndex.bm25TopKStored(s, textIndexRoot(s, d),
          Seq("dup", "merge", "scan"), k = 20)
        .select(col("doc_id"), row_number().over(byLex).as("r_lex"))
      val w = scratchDir("graft_hybridi")
      val emb = embeddings(s, d)
      Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 16)
      Similarity.seedIvfStore(emb, w)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      val byVec = Window.orderBy(col("cosine").desc, col("vec_id"))
      val vec = Similarity.ivfProbeSetTopKStored(
          stored, s"$w/ivf_index", emb.where(col("vec_id") === 0L),
          k = 20, nprobe = 16)
        .select(col("vec_id").as("doc_id"), row_number().over(byVec).as("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },
      // both-legs-indexed hybrid serve: stored BM25 == corpus-scan BM25 and
      // the stored IVF probe at the exhaustive corner == brute force, so
      // the fusion oracle is q_hybrid_search's SQL verbatim
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) AS total_toks FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('dup', 'merge', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (total_toks / n_docs)))
        |      AS DECIMAL(18,8)) AS score_t
        |  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM (
        |    SELECT doc_id, round(CAST(sum(score_t) AS DOUBLE), 4) AS bm25
        |    FROM scored GROUP BY doc_id
        |    ORDER BY bm25 DESC, doc_id LIMIT 20)),
        |vec AS (
        |  SELECT vec_id AS doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, vec_id) AS r_vec FROM (
        |    SELECT e2.vec_id AS vec_id,
        |      round(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), CAST(e1.embedding AS DOUBLE[])), 4) AS cosine
        |    FROM embeddings e1, embeddings e2
        |    WHERE e1.vec_id = 0 AND e2.vec_id <> 0
        |    ORDER BY cosine DESC, e2.vec_id LIMIT 20))
        |SELECT doc_id,
        |  round(coalesce(1.0 / (60 + r_lex), 0) + coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf
        |FROM lex FULL OUTER JOIN vec USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),

    // -- [NS] the COMPOSED PRODUCTION SEARCH FRONTEND in one gate — the
    // query shape a deployed hybrid service actually serves, every leg
    // from its store: the lexical top-20 from the PERSISTED inverted
    // index (one term-pruned postings scan per query; the raw corpus is
    // never readable from this path — bm25TopKStored touches only the
    // index dirs), the vector top-20 from the PERSISTED IVF index at
    // PRUNED nprobe (4 of 16) through the ONE-pass batch probe-set
    // serve, fused BOTH production ways (RRF and the min-max-normalized
    // 0.6/0.4 α-blend). Pruning moves the quality question to fusion
    // level, so that is where both gates sit (the
    // q_hybrid_search_pruned invariant, now over stored-only legs):
    // per query and per fusion mode, the pruned fused top-10 overlaps
    // the exhaustive-leg fusion's top-10 in ≥ 8 items. --
    Query("q_hybrid_search_production", (s, d) => {
      val idx = textIndexRoot(s, d)
      val w = scratchDir("graft_hybprod")
      val emb = embeddings(s, d)
      Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 16)
      Similarity.seedIvfStore(emb, w)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      val queries = Seq(0L -> Seq("dup", "merge", "scan"),
        1L -> Seq("join", "window", "stream"))
      // lexical leg: stored postings only (per query one pruned scan)
      val lex = queries.map { case (qid, terms) =>
        graft.operators.TextIndex.bm25TopKStored(s, idx, terms, k = 20)
          .withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _).persist()
      val probes = emb.where(col("vec_id").isin(queries.map(_._1): _*))
      def vecLeg(np: Int): DataFrame =
        Similarity.ivfProbeSetTopKStored(stored, s"$w/ivf_index", probes,
            k = 20, nprobe = np)
          .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
            col("cosine"))
      hybridFusionOverlapGate(lex, vecLeg(4), vecLeg(16))
    },
      // the composed production frontend: stored lex + PRUNED stored vec,
      // fused both production ways; per query each pruned fusion's top-10
      // overlaps its exhaustive twin's in >= 8 items
      """SELECT CAST(v AS BIGINT) AS query_id, true AS rrf_overlap_ok,
        |  true AS weighted_overlap_ok
        |FROM (VALUES (0), (1)) t(v) ORDER BY query_id""".stripMargin),

    // -- [NS] the production frontend at the PRODUCTION LAYOUT: the same
    // composed gate with the vector leg served from the stored IVF-PQ
    // index (codes-only cells ~32× under float32 — the tier a 100 TB
    // deployment actually keeps hot) through the one-pass batch
    // probe-set ADC serve + exact float re-rank, at PRUNED nprobe (4 of
    // 16) vs its exhaustive twin. ADC quantization rides BOTH legs, so
    // the overlap gate isolates exactly what pruning costs at fusion
    // level — the q_hybrid_search_production invariant, now over the
    // coded store. --
    Query("q_hybrid_search_production_pq", (s, d) => {
      val idx = textIndexRoot(s, d)
      val w = scratchDir("graft_hybprodpq")
      val emb = embeddings(s, d)
      Similarity.streamIngestIvfPq(s, embSlices(s, d), w, nlist = 16,
        m = 8, codebookK = 32)
      val queries = Seq(0L -> Seq("dup", "merge", "scan"),
        1L -> Seq("join", "window", "stream"))
      val lex = queries.map { case (qid, terms) =>
        graft.operators.TextIndex.bm25TopKStored(s, idx, terms, k = 20)
          .withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _).persist()
      val probes = emb.where(col("vec_id").isin(queries.map(_._1): _*))
      def vecLeg(np: Int): DataFrame =
        Similarity.ivfPqProbeSetTopKStored(s, w, probes,
            rerankWith = emb, k = 20, nprobe = np, rerank = 20)
          .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
            col("cosine"))
      hybridFusionOverlapGate(lex, vecLeg(4), vecLeg(16))
    },
      // the production frontend over the CODED (IVF-PQ) vector tier: ADC
      // rides both legs, so the gate isolates pruning at fusion level —
      // same invariant, production layout
      """SELECT CAST(v AS BIGINT) AS query_id, true AS rrf_overlap_ok,
        |  true AS weighted_overlap_ok
        |FROM (VALUES (0), (1)) t(v) ORDER BY query_id""".stripMargin),

    // -- [NS] the production system INGEST-TO-SERVE in one gate: BOTH
    // index tiers built by LIVE Structured Streaming ingest (the text
    // index and the IVF store, each appending its own batch= partitions
    // per micro-batch), then the composed frontend served from the
    // streamed stores. The gate is three-layer, strongest first: the
    // streamed lexical tier serves EXACTLY (stored top-20 == full-scan
    // BM25 over the whole corpus — streaming batch boundaries never
    // enter the score), the streamed vector tier is EXACT at the
    // exhaustive corner (probe-set top-20 == float brute force), and
    // pruned-nprobe fusion overlaps its exhaustive twin >= 8/10 both
    // production ways. A stream that silently dropped or duplicated a
    // micro-batch fails the exactness legs — overlap alone could not
    // see a consistently-wrong store. --
    Query("q_stream_hybrid_production", (s, d) => {
      val w = scratchDir("graft_streamhyb")
      val idx = s"$w/text_index"
      // the TWO live ingest streams are independent (different sources,
      // different stores, different checkpoints) — a deployed frontend
      // runs its lexical and vector ingest side by side, so the fixture
      // does too: wall time is max(streams), not their sum. Fixture dirs
      // resolve BEFORE the futures (the memo map's builder must not race
      // itself); the outer futures ride the global pool, never the
      // 4-thread writer pool the appends inside each stream await on.
      locally {
        val docsIn = docSlices(s, d)
        val embIn = embSlices(s, d)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val lexStream = Future {
          graft.operators.TextIndex.streamIngestTextIndex(s, docsIn, idx)
        }
        val vecStream = Future {
          Similarity.streamIngestIvf(s, embIn, w, nlist = 16)
        }
        Await.result(lexStream, scala.concurrent.duration.Duration.Inf)
        Await.result(vecStream, scala.concurrent.duration.Duration.Inf)
        ()
      }
      val emb = embeddings(s, d)
      val stored = graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      val queries = Seq(0L -> Seq("dup", "merge", "scan"),
        1L -> Seq("join", "window", "stream"))
      // ONE stored serve per query id feeds BOTH the exactness gate and
      // the fusion leg below (the serve returns a materialized ≤20-row
      // frame, so reuse is free); the full-scan twin runs once inside
      // the one-pass bag-equality gate instead of twice per exceptAll
      // direction
      val lexServed = queries.map { case (qid, terms) =>
        qid -> graft.operators.TextIndex.bm25TopKStored(s, idx, terms, k = 20)
      }.toMap
      val lexOk = queries.map { case (qid, terms) =>
        val b = graft.operators.Corpus.bm25TopK(documents(s, d), terms, k = 20)
        qid -> multisetEqual(lexServed(qid), b)
      }.toMap
      val probes = emb.where(col("vec_id").isin(queries.map(_._1): _*))
      def vecLeg(np: Int): DataFrame =
        Similarity.ivfProbeSetTopKStored(stored, s"$w/ivf_index", probes,
            k = 20, nprobe = np)
          .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"),
            col("cosine"))
      val p = probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))
      val byProbe = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val truth = emb.crossJoin(broadcast(p))
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine",
          round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
        .withColumn("rk", row_number().over(byProbe))
        .where(col("rk") <= 20)
        .select(col("probe_id").as("query_id"), col("vec_id").as("doc_id"))
      val vecExact = truth
        .join(vecLeg(16).select("query_id", "doc_id"),
          Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)) === 20L).as("vec_exact_ok"))
      val lex = queries.map { case (qid, _) =>
        lexServed(qid).withColumn("query_id", lit(qid))
      }.reduce(_ unionByName _).persist()
      hybridFusionOverlapGate(lex, vecLeg(4), vecLeg(16))
        .join(vecExact, Seq("query_id"))
        .withColumn("lex_exact_ok",
          when(col("query_id") === 0L, lit(lexOk(0L))).otherwise(lit(lexOk(1L))))
        .select("query_id", "lex_exact_ok", "vec_exact_ok",
          "rrf_overlap_ok", "weighted_overlap_ok")
        .orderBy("query_id")
    },
      // ingest-to-serve: both tiers live-streamed, then the frontend's
      // three-layer gate — streamed lex serves exactly, streamed vec exact
      // at the exhaustive corner, pruned fusion overlaps its twin
      """SELECT CAST(v AS BIGINT) AS query_id, true AS lex_exact_ok,
        |  true AS vec_exact_ok, true AS rrf_overlap_ok,
        |  true AS weighted_overlap_ok
        |FROM (VALUES (0), (1)) t(v) ORDER BY query_id""".stripMargin),
  )
}
