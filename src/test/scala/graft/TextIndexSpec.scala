package graft

import graft.operators.{Corpus, TextIndex}
import org.apache.spark.sql.functions._

/** The stored inverted-index (BM25) family: every lifecycle op is gated
  * by EXACT serve equality against the full-scan scorer over the corpus
  * the maintained index should now equal — the family's scorer replays
  * [[Corpus.bm25TopK]]'s operation order bit-for-bit, so no recall bound
  * is ever needed.
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  // a corpus where the query terms have distinct df/tf profiles: "rare"
  // in few docs, "mid" in some, "common" in most, plus filler terms that
  // land in other tm_mod partitions
  private def corpus(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val parts = Seq.newBuilder[String]
      parts += s"filler$i token$i pad${i % 7}"
      if (i % 17 == 0) parts += "rare"
      if (i % 5 == 0) parts += "mid mid"
      if (i % 2 == 0) parts += "common"
      (i.toLong, parts.result().mkString(" "))
    }.toDF("doc_id", "text")

  private val Terms = Seq("rare", "mid", "common")

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean = {
    val (ap, bp) = (a.persist(), b.persist())
    val eq = ap.exceptAll(bp).isEmpty && bp.exceptAll(ap).isEmpty
    ap.unpersist(); bp.unpersist()
    eq
  }

  private def freshIdx(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_textidx_spec")
    tmp.toFile.deleteOnExit()
    tmp.toFile.getAbsolutePath + "/text_index"
  }

  test("stored serve equals the full-scan scorer; incremental appends compose") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 60), idx, 0L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 60), idx, 1L)
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
  }

  test("a batch that fails to submit releases the batches already in flight") {
    spark.catalog.clearCache()
    val idx = freshIdx()
    val good = corpus(40)
    val bad = good.select(col("doc_id")) // no `text`: fails at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      TextIndex.appendTextIndexBatches(Seq(good -> 0L, bad -> 1L), idx)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the first batch's append-scoped caches leaked")
  }

  test("serve scan is partition-pruned to the query terms' tm_mod dirs") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    val nMods = TextIndex.DefaultNMods
    val mods = Terms.toDS()
      .select(pmod(hash(col("value")), lit(nMods)).cast("int").as("m"))
      .distinct().as[Int].collect().toSet
    val pruned = spark.read.parquet(s"$idx/postings")
      .where(col("tm_mod").isin(mods.toSeq.map(Integer.valueOf): _*) &&
        col("term").isin(Terms: _*))
    // execute THIS plan instance (not a derived count() query) so the
    // scan node whose metrics we read is the one that ran
    val plan = pruned.queryExecution.executedPlan
    plan.execute().count()
    val scan = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val allF = spark.read.parquet(s"$idx/postings").inputFiles
    val allowedF = allF.count(f => mods.exists(m => f.contains(s"tm_mod=$m/")))
    // partition-level pruning: the executed scan read only the terms' own
    // tm_mod dirs' files; the corpus's filler terms guarantee other dirs
    // exist to skip. (inputFiles is not filter-aware — the scan metric is
    // the honest count.)
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles > 0 && readFiles <= allowedF.toLong &&
      readFiles < allF.length.toLong,
      s"expected a pruned scan: read $readFiles of ${allF.length} files, " +
        s"allowed dirs hold $allowedF")
  }

  test("delete: victims' postings gone, cold files byte-identical, stats " +
       "decremented in place, serve equals corpus-minus-victims") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 60), idx, 0L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 60), idx, 1L)
    val victims = Seq(0L, 34L, 85L)
    def snap(): Map[String, (Long, String)] = {
      val root = java.nio.file.Paths.get(s"$idx/postings")
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") &&
            !n.startsWith(".")) {
          val b = java.nio.file.Files.readAllBytes(p)
          out(root.relativize(p).toString) = (b.length.toLong,
            java.security.MessageDigest.getInstance("SHA-256")
              .digest(b).map("%02x".format(_)).mkString)
        }
      }
      out.toMap
    }
    val before = snap()
    assert(TextIndex.deleteFromTextIndex(spark, idx, victims) == victims.length)
    val after = snap()
    val survivors = before.keySet intersect after.keySet
    assert(survivors.nonEmpty && survivors.forall(f => after(f) == before(f)))
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*)).isEmpty)
    val rest = docs.where(!col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
    // stats rows decremented inside the victims' own batches
    val st = spark.read.parquet(s"$idx/stats")
      .agg(sum("n_docs"), sum("total_toks")).head()
    val want = rest.agg(count(lit(1)),
      sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))).head()
    assert(st.getLong(0) == want.getLong(0) && st.getLong(1) == want.getLong(1))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(rest, Terms, k = 20)))
  }

  test("delete of absent ids is a no-op returning 0") {
    val docs = corpus(40)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    assert(TextIndex.deleteFromTextIndex(spark, idx, Seq(9999L)) == 0L)
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
  }

  test("retention: aged batches drop metadata-only, serve equals retained corpus") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 40), idx, 0L)
    TextIndex.appendTextIndexBatch(
      docs.where(col("doc_id") >= 40 && col("doc_id") < 80), idx, 1L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 80), idx, 2L)
    val dropped = TextIndex.retainTextIndexBatches(spark, idx, cutoff = 0L)
    assert(dropped == Map("postings" -> Seq(0L), "stats" -> Seq(0L),
      "docs" -> Seq(0L), "terms" -> Seq(0L)))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs.where(col("doc_id") >= 40), Terms, k = 20)))
  }

  test("compaction folds old batches, leaves young ones byte-identical, serve unchanged") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 40), idx, 0L)
    TextIndex.appendTextIndexBatch(
      docs.where(col("doc_id") >= 40 && col("doc_id") < 80), idx, 1L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 80), idx, 2L)
    assert(TextIndex.compactTextIndexBatches(spark, idx, upTo = 1L) == ((1L, 0L)))
    val batches = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(batches == Set("batch=1", "batch=2"))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
  }

  test("streaming ingest: micro-batch appends compose to the exact full-scan scorer") {
    val docs = corpus(120)
    val tmp = java.nio.file.Files.createTempDirectory("graft_textidx_stream")
    tmp.toFile.deleteOnExit()
    val in = tmp.toFile.getAbsolutePath + "/in"
    val idx = tmp.toFile.getAbsolutePath + "/text_index"
    // three arrival slices (BM25 is a pure function of the corpus, so
    // slice boundaries and arrival order never enter the gate)
    Seq(0, 40, 80).foreach { lo =>
      docs.where(col("doc_id") >= lo && col("doc_id") < lo + 40)
        .coalesce(1).write.mode("append").parquet(in)
    }
    TextIndex.streamIngestTextIndex(spark, in, idx)
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
    // the stream appended real per-batch partitions
    val batches = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.getName.startsWith("batch=")).length
    assert(batches >= 2)
  }

  test("append with a drifted fanout fails loudly against the pinned manifest") {
    val docs = corpus(40)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L, nMods = 16)
    val e = intercept[IllegalStateException] {
      TextIndex.appendTextIndexBatch(docs, idx, 1L, nMods = 32)
    }
    assert(e.getMessage.contains("drift"))
  }

  test("terms absent from the corpus serve an empty result, not an error") {
    val docs = corpus(40)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    assert(TextIndex.bm25TopKStored(spark, idx, Seq("zzz_missing"), k = 5).isEmpty)
  }

  test("zero-token victims decrement N/avgdl via their membership row " +
       "(no postings to find them by)") {
    // two empty docs (no postings rows) plus normal ones
    val docs = corpus(40)
      .withColumn("text",
        when(col("doc_id").isin(5L, 6L), lit("")).otherwise(col("text")))
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    // stats count the empty docs (N matches the full-scan scorer's corpus)
    val st0 = spark.read.parquet(s"$idx/stats").agg(sum("n_docs")).head()
    assert(st0.getLong(0) == 40L)
    // erase one zero-token doc and one normal doc: both must count
    val erased = TextIndex.deleteFromTextIndex(spark, idx, Seq(5L, 7L))
    assert(erased == 2L, s"zero-token victim missed: erased=$erased")
    val rest = docs.where(!col("doc_id").isin(5L, 7L))
    val st = spark.read.parquet(s"$idx/stats")
      .agg(sum("n_docs"), sum("total_toks")).head()
    val want = rest.agg(count(lit(1)),
      coalesce(sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")),
        lit(0L))).head()
    assert(st.getLong(0) == want.getLong(0) && st.getLong(1) == want.getLong(1))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(rest, Terms, k = 20)))
  }

  test("retention refuses during a maintenance swap and refuses to drop " +
       "every batch (shared-core guards)") {
    val docs = corpus(60)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 30), idx, 0L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 30), idx, 1L)
    // sentinel on any table → retention refuses before touching anything
    val sentinel = java.nio.file.Paths.get(s"$idx/postings/.compact_inprogress")
    java.nio.file.Files.createFile(sentinel)
    val e1 = intercept[IllegalStateException] {
      TextIndex.retainTextIndexBatches(spark, idx, cutoff = 0L)
    }
    assert(e1.getMessage.contains("maintenance swap in progress"))
    java.nio.file.Files.delete(sentinel)
    // cutoff >= max batch → would empty the store → refuse loudly
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.retainTextIndexBatches(spark, idx, cutoff = 1L)
    }
    assert(e2.getMessage.contains("age out every batch"))
    // store untouched by both refusals
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
  }

  test("bulk-victim (DataFrame) erasure equals the literal form") {
    import spark.implicits._
    val docs = corpus(80)
    val idxA = freshIdx()
    val idxB = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idxA, 0L)
    TextIndex.appendTextIndexBatch(docs, idxB, 0L)
    val victims = Seq(1L, 17L, 34L, 55L)
    assert(TextIndex.deleteFromTextIndex(spark, idxA, victims) == victims.length)
    assert(TextIndex.deleteFromTextIndex(spark, idxB, victims.toDF("doc_id")) ==
      victims.length)
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idxA, Terms, k = 20),
      TextIndex.bm25TopKStored(spark, idxB, Terms, k = 20)))
  }

  test("bulk erasure of many victims over 2 batches returns the exact count " +
       "and leaves every table equal to the literal form's") {
    import spark.implicits._
    val docs = corpus(200)
    val idxA = freshIdx()
    val idxB = freshIdx()
    for (idx <- Seq(idxA, idxB)) {
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 100), idx, 0L)
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 100), idx, 1L)
    }
    // 67 victims across both batches, plus ids the index never held
    val present = (0L until 200L by 3L)
    val victims = present ++ Seq(5000L, 5003L)
    assert(TextIndex.deleteFromTextIndex(spark, idxA, victims) == present.length)
    assert(TextIndex.deleteFromTextIndex(spark, idxB, victims.toDF("doc_id")) ==
      present.length)
    for (t <- Seq("postings", "terms", "docs", "stats"))
      assert(sameRows(spark.read.parquet(s"$idxA/$t"), spark.read.parquet(s"$idxB/$t")), t)
    val rest = docs.where(!col("doc_id").isin(present.map(java.lang.Long.valueOf): _*))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idxB, Terms, k = 20),
      Corpus.bm25TopK(rest, Terms, k = 20)))
  }

  test("bounded serve: sub-ceiling queries are exact; capped terms never " +
       "read and the error bound holds") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    // dfs here: rare ~ 8, mid ~ 24, common ~ 60 of 120
    // ceiling above every df → bit-identical to the exact serve
    assert(sameRows(
      TextIndex.bm25TopKStoredBounded(spark, idx, Terms, k = 20, dfCeiling = 1000L),
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20)))
    // ceiling that caps "common": result = exact serve over driver terms,
    // and each true score exceeds the bounded one by at most the bound
    val (capped, bound) = TextIndex.cappedImpactBound(spark, idx, Terms, dfCeiling = 30L)
    assert(capped == Seq("common") && bound > 0.0)
    val boundedScores = TextIndex
      .bm25TopKStoredBounded(spark, idx, Terms, k = 120, dfCeiling = 30L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactScores = Corpus.bm25TopK(docs, Terms, k = 120)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exactScores.foreach { case (id, s) =>
      val b0 = boundedScores.getOrElse(id, 0.0)
      assert(b0 <= s + 1e-9 && s <= b0 + bound + 1e-9,
        s"doc $id: bounded=$b0 exact=$s bound=$bound")
    }
    // all terms capped → refuse loudly, never a silent empty result
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25TopKStoredBounded(spark, idx, Seq("common"), k = 5, dfCeiling = 3L)
    }
    assert(e.getMessage.contains("driver"))
  }

  test("pending-erasure queue: requests (literal + bulk parquet) drain " +
       "through the delete op in the stream's between-batch slot") {
    import spark.implicits._
    val docs = corpus(120)
    val tmp = java.nio.file.Files.createTempDirectory("graft_textidx_q")
    tmp.toFile.deleteOnExit()
    val in = tmp.toFile.getAbsolutePath + "/in"
    val idx = tmp.toFile.getAbsolutePath + "/text_index"
    Seq(0, 40, 80).foreach { lo =>
      docs.where(col("doc_id") >= lo && col("doc_id") < lo + 40)
        .coalesce(1).write.mode("append").parquet(in)
    }
    // one literal and one bulk request, overlapping ids (idempotent);
    // victims sit in the FIRST arrival slice so the first drain has rows
    TextIndex.enqueueTextIndexErasure(spark, idx, Seq(3L, 17L))
    TextIndex.enqueueTextIndexErasure(spark, idx, Seq(17L, 21L).toDF("doc_id"))
    TextIndex.streamIngestTextIndex(spark, in, idx)
    val pend = java.nio.file.Paths.get(idx, ".pending_erasures")
    val ls = java.nio.file.Files.list(pend)
    val left = try ls.filter(p => p.getFileName.toString.endsWith(".req") ||
      p.getFileName.toString.endsWith(".reqp")).count() finally ls.close()
    assert(left == 0L, "applied requests must retire")
    val victims = Seq(3L, 17L, 21L)
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*)).isEmpty)
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs.where(!col("doc_id")
        .isin(victims.map(java.lang.Long.valueOf): _*)), Terms, k = 20)))
  }

  test("bulk-victim (table) compaction fold equals the literal dropIds form") {
    import spark.implicits._
    val docs = corpus(80)
    val victims = Seq(3L, 41L)
    def build(): String = {
      val idx = freshIdx()
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 40), idx, 0L)
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 40), idx, 1L)
      idx
    }
    val idxLit = build()
    assert(TextIndex.compactTextIndexBatches(spark, idxLit, upTo = 1L,
      dropIds = victims) == ((1L, 2L)))
    val idxDf = build()
    assert(TextIndex.compactTextIndexBatches(spark, idxDf, upTo = 1L,
      dropVictims = victims.toDF("doc_id")) == ((1L, 2L)))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idxLit, Terms, k = 20),
      TextIndex.bm25TopKStored(spark, idxDf, Terms, k = 20)))
  }

  test("compaction folds erasure in: victims drop out of the one rewrite, " +
       "stats/dictionary recompute, newer victims refuse") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 40), idx, 0L)
    TextIndex.appendTextIndexBatch(
      docs.where(col("doc_id") >= 40 && col("doc_id") < 80), idx, 1L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 80), idx, 2L)
    // victim in a batch the fold won't rewrite → refuse
    val e = intercept[IllegalArgumentException] {
      TextIndex.compactTextIndexBatches(spark, idx, upTo = 1L, dropIds = Seq(3L, 90L))
    }
    assert(e.getMessage.contains("batches > 1"))
    val victims = Seq(3L, 41L, 77L)
    val (folded, erased) =
      TextIndex.compactTextIndexBatches(spark, idx, upTo = 1L, dropIds = victims)
    assert(folded == 1L && erased == victims.length.toLong)
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*)).isEmpty)
    val rest = docs.where(!col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(rest, Terms, k = 20)))
  }

  test("boolean MUST/MUST_NOT serve equals tokenized intersection; " +
       "clause legs prune to their terms' tm_mod dirs") {
    import spark.implicits._
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 60), idx, 0L)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 60), idx, 1L)
    val got = TextIndex.booleanSearchStored(spark, idx,
      must = Seq("mid", "common"), mustNot = Seq("rare"))
    // brute-force truth over the same whitespace tokenization
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
      .where(col("term") =!= "").persist()
    val want = toks.where(col("term").isin("mid", "common"))
      .groupBy("doc_id").agg(countDistinct(col("term")).as("nt"))
      .where(col("nt") === 2).select("doc_id")
      .join(toks.where(col("term") === "rare").select("doc_id"),
        Seq("doc_id"), "left_anti")
    assert(sameRows(got, want))
    toks.unpersist()
    // i%10==0 docs hold both must terms; rare excludes i%170==0 — non-empty
    assert(got.count() > 0)
    // MUST-only form: no anti leg (the clause slice is the same
    // tm_mod-pruned cand shape the scoring serve's pruning test pins)
    assert(sameRows(
      TextIndex.booleanSearchStored(spark, idx, must = Seq("rare", "mid")),
      docs.where(col("doc_id") % 85 === 0).select("doc_id")))
  }

  test("positional tier: phrase (incl. repeated terms) and proximity " +
       "serve from the store; flat serves are unchanged; a store without " +
       "positions refuses the positional serves") {
    import spark.implicits._
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 60), idx, 0L,
      withPositions = true)
    TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 60), idx, 1L,
      withPositions = true)
    // "mid mid" is adjacent exactly once in every i%5==0 doc — and is the
    // repeated-term phrase case (slot map fans one row into two slots)
    val phrase = TextIndex.phraseSearchStored(spark, idx, Seq("mid", "mid"))
    assert(sameRows(phrase,
      docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(1L).as("n_occ"))))
    // rare sits immediately before the mid pair in i%85==0 docs
    val near = TextIndex.proximitySearchStored(spark, idx, "rare", "mid", 2)
    assert(sameRows(near,
      docs.where(col("doc_id") % 85 === 0).select("doc_id")))
    // ordered span is asymmetric: rare precedes mid, never the reverse
    assert(sameRows(
      TextIndex.proximitySearchStored(spark, idx, "rare", "mid", 2,
        ordered = true),
      docs.where(col("doc_id") % 85 === 0).select("doc_id")))
    assert(TextIndex.proximitySearchStored(spark, idx, "mid", "rare", 2,
      ordered = true).isEmpty)
    // the scoring serve ignores the positional tier entirely
    assert(sameRows(
      TextIndex.bm25TopKStored(spark, idx, Terms, k = 20),
      Corpus.bm25TopK(docs, Terms, k = 20)))
    // a flat store refuses the positional serves loudly
    val flat = freshIdx()
    TextIndex.appendTextIndexBatch(docs, flat, 0L)
    val e = intercept[IllegalArgumentException] {
      TextIndex.phraseSearchStored(spark, flat, Seq("mid", "mid"))
    }
    assert(e.getMessage.contains("without positions"))
    // and a flag-drifting append to a positional store refuses
    val e2 = intercept[IllegalStateException] {
      TextIndex.appendTextIndexBatch(docs, idx, 2L) // withPositions default false
    }
    assert(e2.getMessage.contains("drift"))
  }

  test("positional tier rides the family lifecycle: erasure, retention, " +
       "and the erasure-folding compaction all keep phrase serves exact") {
    import spark.implicits._
    val docs = corpus(120)
    def build(): String = {
      val idx = freshIdx()
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 60), idx, 0L,
        withPositions = true)
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 60), idx, 1L,
        withPositions = true)
      idx
    }
    def phraseDocs(idx: String) =
      TextIndex.phraseSearchStored(spark, idx, Seq("mid", "mid")).select("doc_id")
    // DELETE: victims' positions go with their postings
    val idxDel = build()
    assert(TextIndex.deleteFromTextIndex(spark, idxDel, Seq(10L, 65L)) == 2L)
    assert(sameRows(phraseDocs(idxDel),
      docs.where(col("doc_id") % 5 === 0 &&
        !col("doc_id").isin(10L, 65L)).select("doc_id")))
    assert(spark.read.parquet(s"$idxDel/positions")
      .where(col("doc_id").isin(10L, 65L)).isEmpty)
    // RETENTION: aged batches' positions drop with the family
    val idxRet = build()
    val dropped = TextIndex.retainTextIndexBatches(spark, idxRet, cutoff = 0L)
    assert(dropped("positions") == Seq(0L))
    assert(sameRows(phraseDocs(idxRet),
      docs.where(col("doc_id") % 5 === 0 && col("doc_id") >= 60)
        .select("doc_id")))
    // COMPACTION with erasure folded in: positions fold and victims drop
    val idxCmp = build()
    val (folded, erased) =
      TextIndex.compactTextIndexBatches(spark, idxCmp, upTo = 1L,
        dropIds = Seq(15L))
    assert(folded == 1L && erased == 1L)
    assert(sameRows(phraseDocs(idxCmp),
      docs.where(col("doc_id") % 5 === 0 && col("doc_id") =!= 15L)
        .select("doc_id")))
  }

  test("driver-side query-term mods equal the catalyst pmod(hash(term)) " +
       "the writer fans with") {
    // optimization round 17: the serves compute tm_mod prunes on the
    // driver (no per-query job). This pins the driver arithmetic to the
    // DISTRIBUTED evaluation of the exact writer expression — a drift
    // here would silently prune the wrong partitions and serve empties.
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import spark.implicits._
    val terms = Seq("dup", "merge", "scan", "the", "ZZ-unseen", "", "ümlaut")
    for (nMods <- Seq(4, 16, 64, 1024)) {
      val want = terms.toDS()
        .select(pmod(hash(col("value")), lit(nMods)).cast("int").as("m"))
        .distinct().as[Int].collect().sorted.toSeq
      assert(TextIndex.queryTermMods(terms, nMods) == want,
        s"nMods=$nMods")
    }
  }

  test("filtered ranking (docFilter) scores only the match set with " +
       "corpus-level statistics") {
    val docs = corpus(120)
    val idx = freshIdx()
    TextIndex.appendTextIndexBatch(docs, idx, 0L)
    val matches = TextIndex.booleanSearchStored(spark, idx,
      must = Seq("mid", "common"), mustNot = Seq("rare"))
    val got = TextIndex.bm25TopKStored(spark, idx, Seq("mid", "common"),
      k = 1000, docFilter = Some(matches))
    // every returned doc is in the match set
    assert(got.join(matches, Seq("doc_id"), "left_anti").isEmpty)
    // scores equal the UNfiltered serve's scores for those docs: the
    // filter restricts who is scored, never the statistics
    val unfiltered = TextIndex.bm25TopKStored(spark, idx,
      Seq("mid", "common"), k = 1000)
    assert(sameRows(got,
      unfiltered.join(matches, Seq("doc_id"), "left_semi")))
  }
}
