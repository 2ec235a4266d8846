package graft

import graft.operators.{Dedup, StoredTable}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact: keeps min doc_id per identical text") {
    val d = docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa")
    val out = Dedup.exact(d).orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (2L, 1L)))
  }

  test("exactNormalized: case/whitespace variants collapse, byte-exact does not") {
    val d = docs(1L -> "Hello  World", 2L -> "hello world", 3L -> " HELLO\tWORLD ")
    assert(Dedup.exact(d).count() == 3)          // byte-exact sees 3 distinct
    val out = Dedup.exactNormalized(d).as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L)))                 // normalized sees 1 family
  }

  test("minhash: finds planted near-duplicates, skips unrelated docs") {
    val base = (1 to 300).map(i => s"w$i").mkString(" ")
    val near = (1 to 300).map(i => if (i % 150 == 0) "CHANGED" else s"w$i").mkString(" ")
    val far  = (1 to 300).map(i => s"v$i").mkString(" ")
    val out = Dedup.minhashCandidates(docs(1L -> base, 2L -> near, 3L -> far), minEstJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("incremental: increment drops corpus dups and later intra-increment dups only") {
    val a = (1 to 300).map(i => s"w$i").mkString(" ")
    val b = (1 to 300).map(i => s"v$i").mkString(" ")
    val fresh = (1 to 300).map(i => s"z$i").mkString(" ")
    val corpus = docs(1L -> a, 2L -> b)
    // 10: dup of corpus doc 1 -> drop; 11: fresh -> keep;
    // 12: dup of increment doc 11 (later arrival) -> drop
    val inc = docs(10L -> a, 11L -> fresh, 12L -> fresh)
    val dropped = Dedup.minhashIncremental(corpus, inc, minEstJaccard = 0.5)
      .as[Long].collect().toSet
    assert(dropped == Set(10L, 12L))
  }

  test("containment: subset copy found in the direction Jaccard misses") {
    val small = (1 to 50).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 200).map(i => s"x$i").mkString(" ")
    val other = (1 to 100).map(i => s"y$i").mkString(" ")
    val d = docs(1L -> small, 2L -> big, 3L -> other)
    // symmetric jaccard ~ 48/248 — far below any dedup threshold
    assert(Dedup.ngramJaccard(d, minJaccard = 0.7, minEstJaccard = 0.2).count() == 0)
    val out = Dedup.containmentPairs(d, minContain = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // only the directed pair small→big: big's shingles are NOT ⊆ small's
    assert(out == Set((1L, 2L)))
  }

  test("substring windows: shared span found at DIFFERENT offsets; unrelated docs clean") {
    val span = (1 to 60).map(i => s"shared$i").mkString(" ") // ~480 chars of copied text
    val a = "prefix one two three " + span
    val b = "a completely different and much longer lead-in before the copy " + span
    val c = (1 to 80).map(i => s"other$i").mkString(" ")
    val out = Dedup.substringDupPairs(docs(1L -> a, 2L -> b, 3L -> c), width = 40, minShared = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // content-defined selection is alignment-independent: the span sits at
    // offset 21 in doc 1 and offset 64 in doc 2, yet selects identical windows
    assert(out == Set((1L, 2L)))
  }

  test("substring mass: copied span counted on BOTH holders, clean doc absent") {
    val span = (1 to 60).map(i => s"shared$i").mkString(" ")
    val d = docs(
      1L -> ("intro words " + span),
      2L -> (span + " trailing content here"),
      3L -> (1 to 80).map(i => s"other$i").mkString(" "))
    val out = Dedup.substringDupMass(d, width = 40)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out.values.forall(_ >= 2))
  }

  test("substring windows: disjoint texts produce no pairs") {
    val d = docs(1L -> ("x" * 100), 2L -> (1 to 50).map(i => s"q$i").mkString(" "))
    assert(Dedup.substringDupPairs(d, width = 40, minShared = 1).count() == 0)
  }

  test("ngram: exact jaccard confirms the planted pair") {
    val base = (1 to 300).map(i => s"w$i").mkString(" ")
    val near = (1 to 300).map(i => if (i == 150) "CHANGED" else s"w$i").mkString(" ")
    val out = Dedup.ngramJaccard(docs(1L -> base, 2L -> near, 3L -> "x y z"), minJaccard = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    val (a, b, j) = out.head
    assert((a, b) == (1L, 2L) && j > 0.9)
  }

  test("minhashDeduped keeps one representative, drops the near-dup") {
    val base = (1 to 300).map(i => s"w$i").mkString(" ")
    val near = (1 to 300).map(i => if (i == 150) "CHANGED" else s"w$i").mkString(" ")
    val far  = (1 to 300).map(i => s"v$i").mkString(" ")
    val kept = Dedup.minhashDeduped(docs(1L -> base, 2L -> near, 3L -> far))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("clusters: chains close transitively, components get min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 4L -> 4L, 9L -> 4L))
  }

  test("clusters matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val pairs = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find ground truth (min element as representative)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val expect = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.clusters(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial $trial: clusters disagreed with union-find")
    }
  }

  test("transitive dedup collapses a near-dup chain to one representative") {
    // a ~ b and b ~ c but a !~ c (two different change points): greedy star
    // would need the a-c pair; transitive closure does not
    val base = (1 to 400).map(i => s"w$i").mkString(" ")
    val mid  = (1 to 400).map(i => if (i == 100) "X" else s"w$i").mkString(" ")
    val far  = (1 to 400).map(i => if (i == 100) "X" else if (i == 300) "Y" else s"w$i").mkString(" ")
    val kept = Dedup.minhashDedupedTransitive(
      docs(1L -> base, 2L -> mid, 3L -> far, 4L -> "completely different text here"),
      minEstJaccard = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("simhash: identical docs at hamming 0") {
    val t = ("alpha beta gamma delta " * 20)
    val out = Dedup.simhashPairs(docs(1L -> t, 2L -> t, 3L -> "unrelated stuff here"), maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("dedup invariants: kept ⊆ input, representatives survive, partition is total") {
    // random corpus with planted duplicate families of varying size
    val rnd = new scala.util.Random(21)
    val rows = (1L to 60L).map { i =>
      val family = i % 7 // 7 content families → guaranteed dup clusters
      val text = (1 to 150).map(j => s"f${family}w$j").mkString(" ")
      i -> (if (rnd.nextBoolean()) text else text + s" tail${rnd.nextInt(3)}")
    }
    val d = docs(rows: _*)
    val kept = Dedup.minhashDeduped(d, minEstJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val all = rows.map(_._1).toSet
    assert(kept.subsetOf(all))
    assert(kept.nonEmpty)
    // transitive variant: kept + clustered-drop partition the matched docs
    val pairs = Dedup.minhashCandidates(d, minEstJaccard = 0.8).select("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs).as[(Long, Long)].collect()
    cl.foreach { case (doc, cluster) => assert(cluster <= doc) } // min-label
    val reps = cl.filter { case (doc, c) => doc == c }.map(_._1).toSet
    val keptT = Dedup.minhashDedupedTransitive(d, minEstJaccard = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(reps.subsetOf(keptT)) // every component representative survives
  }

  test("exactJaccardPairs: matches brute-force jaccard, length filter loses nothing") {
    val rnd = new scala.util.Random(7)
    // 30 docs over a small vocab so unrelated docs share many shingles —
    // the adversarial case for the in-join length prune
    val rows = (1L to 30L).map { i =>
      i -> (1 to 40 + rnd.nextInt(40)).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    } :+ (31L -> "a b c d e f g h i j") :+ (32L -> "a b c d e f g h i j k")
    val d = docs(rows: _*)
    val got = Dedup.exactJaccardPairs(d, n = 3, minJaccard = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force on the driver with the same shingle definition
    val sh = rows.map { case (id, t) =>
      id -> graft.functions.TextFunctions.shinglesScala(t, 3).toSet
    }.filter(_._2.nonEmpty)
    val expect = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.3
    } yield (a, b)).toSet
    assert(got == expect)
    assert(expect.contains((31L, 32L))) // the test isn't vacuous
  }

  test("semDedup drops every clone of a vector and keeps the original") {
    val e = Tables.embeddings(spark, Sf0001)
    // two clones of vec 0 and one of vec 1 — all three must drop (the
    // within-cell pair space covers clone↔original AND clone↔clone)
    val clones = e.where(col("vec_id") === 0)
      .withColumn("vec_id", lit(5000000L))
      .unionByName(e.where(col("vec_id") === 0).withColumn("vec_id", lit(5000001L)))
      .unionByName(e.where(col("vec_id") === 1).withColumn("vec_id", lit(5000002L)))
    val survivors = Dedup.semDedup(e.unionByName(clones), minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val original = e.select("vec_id").as[Long].collect().toSet
    assert(survivors == original)
  }

  test("incremental semDedup: corpus clones and later intra-increment dups drop, fresh kept") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val clone = e.where(col("vec_id") === 0)
      .select(lit(7000000L).as("vec_id"), col("embedding"))
    val negBase = e.where(col("vec_id") === 5)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    val inc = clone
      .unionByName(negBase.select(lit(7000010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7000011L).as("vec_id"), col("embedding")))
    val drops = Dedup.semDedupIncremental(e, inc, minCosine = 0.95)
      .as[Long].collect().toSet
    assert(drops == Set(7000000L, 7000011L),
      s"expected clone + later negated copy to drop, got $drops")
  }

  test("embedding near-dup: planted duplicate vector found, orthogonal not") {
    val v1 = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v2 = v1.map(x => x * 1.001f) // same direction
    val v3 = Array.tabulate(16)(i => if (i == 0) 1f else 0f)
    val emb = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(emb, minCosine = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("streaming fuzzy dedup equals batch greedy keep-first") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("streamkeep")
    val in = s"$tmp/slices"
    val mx = docs.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) + 1
    // explicit strictly-increasing mtimes: write order = arrival order
    // even on 1-second-granularity filesystem clocks
    val base = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      docs.where(col("doc_id") >= i * mx / 3 && col("doc_id") < (i + 1) * mx / 3)
        .coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    val streamed = Dedup.minhashStreamKeep(spark, in, s"$tmp/work",
        keepCols = Seq("doc_id"), minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    val batch = Dedup.minhashDeduped(docs, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}; " +
        s"diff=${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("streaming dedup micro-batch is replay-idempotent") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("streamreplay")
    val idx = s"$tmp/index"; val acc = s"$tmp/accepted"
    Dedup.seedStreamStores(docs, idx, acc, Seq("doc_id"), n = 3, perms = 32)
    val mx = docs.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) + 1
    def slice(i: Int) =
      docs.where(col("doc_id") >= i * mx / 2 && col("doc_id") < (i + 1) * mx / 2)
    def run(i: Int): Unit = Dedup.minhashStreamBatch(slice(i), i, idx, acc,
      Seq("doc_id"), 3, 32, 8, 0.4, Some(0.9))
    run(0); run(1)
    val once = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSeq.sorted
    run(1) // checkpoint replay of the last batch: crash after write, before commit
    val replayed = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSeq.sorted
    assert(replayed == once, "a replayed batch must replace, not double-append")
    assert(once.distinct == once, "no duplicate accepted ids")
    val batchKeep = Dedup.minhashDeduped(docs, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(once == batchKeep, "replayed stream still equals batch greedy keep-first")
  }

  test("streaming substring ingest equals arrival-time dup-mass truth") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("subststream")
    val in = s"$tmp/slices"
    val mx = docs.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) + 1
    val base = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      docs.where(col("doc_id") >= i * mx / 3 && col("doc_id") < (i + 1) * mx / 3)
        .coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    val streamed = Dedup.substringStreamMass(spark, in, s"$tmp/work")
      .as[(Long, Long)].collect().toMap
    // arrival-time truth: window of b is dup iff another holder arrived
    // in an earlier-or-same slice
    val slc = when(col("doc_id") >= 2 * mx / 3, 2)
      .when(col("doc_id") >= mx / 3, 1).otherwise(0)
    val w = Dedup.windowTable(docs).select(col("doc_id"), col("win")).distinct()
      .withColumn("slc", slc).persist()
    val a = w.select(col("doc_id").as("ad"), col("win").as("aw"), col("slc").as("as_"))
    val expected = w
      .join(a, col("win") === col("aw") && col("doc_id") =!= col("ad") &&
        col("as_") <= col("slc"), "left_semi")
      .groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(streamed == expected,
      s"diff: ${(streamed.toSet diff expected.toSet) ++ (expected.toSet diff streamed.toSet)}")
  }

  test("incremental substring mass equals full-corpus mass restricted to the increment") {
    val docs = Tables.documents(spark, Sf0001)
    val full = Dedup.substringDupMass(docs).where(col("doc_id") >= 250L)
      .as[(Long, Long)].collect().toMap
    val inc = Dedup.substringMassIncremental(
        Dedup.windowCensus(Dedup.windowTable(docs.where(col("doc_id") < 250L))),
        docs.where(col("doc_id") >= 250L))
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"diff keys: ${(inc.keySet diff full.keySet) ++ (full.keySet diff inc.keySet)}")
  }

  test("incremental probe skew guard: a degenerate bucket still drops every duplicate") {
    // 200 identical docs, split corpus/increment: one band bucket holds all
    // of them; the MaxBucket cap must bound the pair space while every
    // increment doc still matches a retained (smallest-id) corpus member
    val many = (1L to 200L).map(_ -> "same text for every single doc repeated words words")
    val corpus = many.take(100).toDF("doc_id", "text")
    val inc = many.drop(100).toDF("doc_id", "text")
    val dropped = Dedup.minhashIncremental(corpus, inc, minEstJaccard = 0.5)
      .as[Long].collect().toSet
    assert(dropped == (101L to 200L).toSet)
  }

  test("stored pre-banded probe equals the in-memory incremental (big-index regime)") {
    val docs = Tables.documents(spark, Sf0001)
    val corpus = docs.where(col("doc_id") < 400).select("doc_id", "text")
    val inc = docs.where(col("doc_id") >= 400 && col("doc_id") < 450)
      .select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("storedinc")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    // bulk build (scan regime: empty index), then probe (stored regime:
    // 400 indexed docs vs a 50-doc batch clears StoredProbeRatio)
    assert(Dedup.minhashIncrementalStored(spark, idx, corpus, batchId = 0L,
      minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count() >= 0)
    val stored = Dedup.minhashIncrementalStored(spark, idx, inc, batchId = 1L,
        minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    val inmem = Dedup.minhashIncremental(corpus, inc,
        minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    assert(stored == inmem,
      s"stored-probe drops diverge from in-memory: ${(stored diff inmem) ++ (inmem diff stored)}")
  }

  test("index compaction: same rows, same probe drops, fewer files") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("compact")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    // three appended batches, then a probe batch
    (0 until 3).foreach { b =>
      Dedup.minhashIncrementalStored(spark, idx,
        docs.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
          .select("doc_id", "text"),
        batchId = b.toLong, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    }
    def bandRowSet = spark.read.parquet(s"$idx/bands")
      .select("band", "band_hash", "doc_id")
      .as[(Int, Long, Long)].collect().toSet
    def fileCount = {
      var n = 0
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/bands")).iterator()
      while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
      n
    }
    val (rowsBefore, filesBefore) = (bandRowSet, fileCount)
    Dedup.compactIndex(spark, idx, upTo = 5L)
    assert(bandRowSet == rowsBefore, "compaction must not change logical index rows")
    assert(fileCount < filesBefore,
      s"compaction must shrink file count (before=$filesBefore after=$fileCount)")
    // a probe against the compacted store behaves as if nothing happened:
    // identical drops to the in-memory incremental over the same corpus
    val inc = docs.where(col("doc_id") >= 450).select("doc_id", "text")
    val dropsAfter = Dedup.minhashIncrementalStored(spark, idx, inc,
        batchId = 9L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    val expect = Dedup.minhashIncremental(
        docs.where(col("doc_id") < 450).select("doc_id", "text"), inc,
        minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    assert(dropsAfter == expect,
      s"probe drops diverge after compaction: ${(dropsAfter diff expect) ++ (expect diff dropsAfter)}")
  }

  test("stored band buckets never exceed MaxBucket across appends (degenerate corpus)") {
    // 200 identical docs arriving in 4 batches: every band bucket attracts
    // all of them, but the append-time cap must hold the GLOBAL bucket
    // size at MaxBucket (first arrivals = smallest ids survive), and the
    // keep-first dedup must still collapse the family to its minimum
    val many = (1L to 200L)
      .map(_ -> "same text for every single doc repeated words words")
    val tmp = java.nio.file.Files.createTempDirectory("capinv")
    val idx = s"$tmp/index"
    val all = many.toDF("doc_id", "text")
    Dedup.seedStreamStores(all, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    val kept = scala.collection.mutable.Set.empty[Long]
    (0 until 4).foreach { b =>
      val batch = many.slice(b * 50, (b + 1) * 50).toDF("doc_id", "text")
      val drops = Dedup.minhashIncrementalStored(spark, idx, batch,
          batchId = b.toLong, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
        .as[Long].collect().toSet
      kept ++= many.slice(b * 50, (b + 1) * 50).map(_._1).filterNot(drops)
      val bucketMax = spark.read.parquet(s"$idx/bands")
        .groupBy("band", "band_hash").count()
        .agg(org.apache.spark.sql.functions.max(col("count"))).head().getLong(0)
      assert(bucketMax <= Dedup.MaxBucket,
        s"after batch $b a bucket holds $bucketMax > ${Dedup.MaxBucket} members")
    }
    assert(kept.toSet == Set(1L), s"keep-first must survive the cap, kept=$kept")
  }

  test("stream index manifest: probing with drifted n/perms/bands throws") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("idxdrift")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    val inc = docs.where(col("doc_id") < 10)
    // matching params pass (and bulk-build the store)
    Dedup.minhashIncrementalStored(spark, idx, inc, batchId = 0L).count()
    // every single-parameter drift fails LOUDLY before any probe work
    for ((n, p, b) <- Seq((5, 32, 8), (3, 64, 8), (3, 32, 4))) {
      val e = intercept[IllegalStateException](
        Dedup.minhashIncrementalStored(spark, idx, inc, batchId = 1L,
          n = n, perms = p, bands = b))
      assert(e.getMessage.contains("parameter drift"), e.getMessage)
    }
    // a store with no manifest (pre-round-11 layout) is unverifiable
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "index_manifest.json"))
    val e2 = intercept[IllegalStateException](
      Dedup.minhashIncrementalStored(spark, idx, inc, batchId = 1L))
    assert(e2.getMessage.contains("no manifest"))
  }

  test("compaction is parallel + size-targeted: multiple bounded files, same rows") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("compactsz")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    (0 until 3).foreach { b =>
      Dedup.minhashIncrementalStored(spark, idx,
        docs.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
          .select("doc_id", "text"),
        batchId = b.toLong, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    }
    def shRowSet = spark.read.parquet(s"$idx/shingles")
      .select(col("doc_id"), col("sh").cast("string"))
      .as[(Long, String)].collect().toSet
    val rowsBefore = shRowSet
    // a tiny file-size budget forces slices > 1: the rewrite must fan out
    // into multiple size-tracked files per store, not coalesce(1)'s single
    // task/single file. The budget is not a public option, so each of the
    // index's three tables compacts through the core directly, as
    // compactIndex runs them.
    for ((table, modCol) <- Seq("bands" -> "bh_mod", "sigs" -> "did_mod", "shingles" -> "did_mod"))
      StoredTable.compactStore(spark, s"$idx/$table", modCol, "doc_id", Dedup.NMods,
        upTo = 5L, targetFileBytes = 8192L)
    val files = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$idx/shingles/batch=5")).iterator()
    var nFiles = 0
    var maxBytes = 0L
    while (files.hasNext) {
      val p = files.next()
      if (p.toString.endsWith(".parquet")) {
        nFiles += 1
        maxBytes = math.max(maxBytes, java.nio.file.Files.size(p))
      }
    }
    assert(nFiles > Dedup.NMods,
      s"size-targeted compaction should emit > ${Dedup.NMods} files at an " +
        s"8 KiB budget, got $nFiles")
    // loose bound: a slice file stays within a small multiple of the budget
    // (parquet footer + row-group minimums dominate at this scale)
    assert(maxBytes < 8192L * 16, s"a compacted file is $maxBytes bytes")
    assert(shRowSet == rowsBefore, "size-targeted compaction must not change rows")
    // the swap left no hidden set-aside dir behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/shingles/.compact_old")))
  }

  test("stored semantic dedup equals the in-memory incremental; drift throws") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val clone = e.where(col("vec_id") === 0)
      .select(lit(7100000L).as("vec_id"), col("embedding"))
    val negBase = e.where(col("vec_id") === 5)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    val inc = clone
      .unionByName(negBase.select(lit(7100010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7100011L).as("vec_id"), col("embedding")))
    val tmp = java.nio.file.Files.createTempDirectory("semstore")
    Dedup.seedSemStore(e, tmp.toString)
    val stored = Dedup.semDedupIncrementalStored(spark, tmp.toString, inc,
        batchId = 1L, minCosine = 0.95)
      .as[Long].collect().toSet
    val inmem = Dedup.semDedupIncremental(e, inc, minCosine = 0.95)
      .as[Long].collect().toSet
    assert(stored == inmem,
      s"stored drops diverge from in-memory: ${(stored diff inmem) ++ (inmem diff stored)}")
    assert(stored == Set(7100000L, 7100011L))
    // quantizer-parameter drift against the store manifest fails loudly
    val eDrift = intercept[IllegalStateException](
      Dedup.semDedupIncrementalStored(spark, tmp.toString, inc,
        batchId = 2L, nlist = 8))
    assert(eDrift.getMessage.contains("parameter drift"), eDrift.getMessage)
    // a replayed batch overwrites its own partition: same drops, no growth
    val replay = Dedup.semDedupIncrementalStored(spark, tmp.toString, inc,
        batchId = 1L, minCosine = 0.95)
      .as[Long].collect().toSet
    assert(replay == stored)
  }

  test("retainSemStoreBatches: aged batch drops metadata-only, semantics " +
    "flip (aged clone free, retained clone drops), refusals hold") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("semret").toString
    Dedup.seedSemStore(e.where(col("vec_id") < 100L), tmp)          // batch 0
    Dedup.semDedupIncrementalStored(spark, tmp,
      e.where(col("vec_id") >= 100L && col("vec_id") < 200L), batchId = 1L).count()
    def mtimes(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$tmp/cells")
      val out = scala.collection.mutable.Map.empty[String, Long]
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith("."))
          out(root.relativize(p).toString) =
            java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = mtimes()
    assert(Dedup.retainSemStoreBatches(spark, tmp, cutoff = 0L) == Seq(0L))
    val after = mtimes()
    // metadata-only: survivors untouched, batch 0 gone, seed survives
    assert(after.keySet == before.keySet.filterNot(_.contains("batch=0/")))
    assert(after.forall { case (f, m) => before(f) == m })
    assert(after.keySet.exists(_.contains("batch=-1")))
    // clones of an aged vec (5) and a retained vec (150)
    val probe = e.where(col("vec_id").isin(5L, 150L))
      .select((col("vec_id") + 7200000L).as("vec_id"), col("embedding"))
    val drops = Dedup.semDedupIncrementalStored(spark, tmp, probe, batchId = 2L)
      .as[Long].collect().toSet
    assert(drops == Set(7200150L),
      s"aged clone must pass, retained clone must drop: $drops")
    // aging every real batch refuses (empty store unseedable)
    val eAll = intercept[IllegalArgumentException](
      Dedup.retainSemStoreBatches(spark, tmp, cutoff = 99L))
    assert(eAll.getMessage.contains("every batch"))
    // a live maintenance sentinel refuses the drop
    val sentinel = java.nio.file.Paths.get(s"$tmp/cells", StoredTable.MaintenanceSentinel)
    java.nio.file.Files.createFile(sentinel)
    val eSent = intercept[IllegalStateException](
      Dedup.retainSemStoreBatches(spark, tmp, cutoff = 1L))
    assert(eSent.getMessage.contains("swap in progress"))
    java.nio.file.Files.delete(sentinel)
  }

  test("census probe broadcast fallback: both sides of the windows-count " +
    "threshold yield identical per-doc masses") {
    val docs = Tables.documents(spark, Sf0001)
    val census = Dedup.windowCensus(Dedup.windowTable(docs.where(col("doc_id") < 250L)))
    val inc = docs.where(col("doc_id") >= 250L && col("doc_id") < 300L)
    def wins() = Dedup.windowTable(inc, 40)
      .select(col("doc_id"), col("win")).distinct().persist()
    val viaBroadcast = Dedup.massAgainstCensus(wins(), census,
        broadcastLimit = Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val viaShuffle = Dedup.massAgainstCensus(wins(), census, broadcastLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaBroadcast.nonEmpty, "fixture must produce shared windows")
    assert(viaBroadcast == viaShuffle,
      "the planner-chosen semi-join past the ceiling must equal the broadcast probe")
  }

  test("stored pruned census probe equals the unpruned incremental; width drift throws") {
    val docs = Tables.documents(spark, Sf0001)
    val corpus = docs.where(col("doc_id") < 250L)
    val inc = docs.where(col("doc_id") >= 250L)
    val tmp = java.nio.file.Files.createTempDirectory("censusstore")
    val path = s"$tmp/census"
    Dedup.writeCensusStore(Dedup.windowCensus(Dedup.windowTable(corpus)), path, width = 40)
    val stored = Dedup.substringMassIncrementalStored(spark, path, inc, width = 40)
      .as[(Long, Long)].collect().toMap
    val unpruned = Dedup.substringMassIncremental(
        Dedup.windowCensus(Dedup.windowTable(corpus)), inc)
      .as[(Long, Long)].collect().toMap
    assert(stored == unpruned,
      s"diff: ${(stored.toSet diff unpruned.toSet) ++ (unpruned.toSet diff stored.toSet)}")
    val e = intercept[IllegalStateException](
      Dedup.substringMassIncrementalStored(spark, path, inc, width = 50))
    assert(e.getMessage.contains("parameter drift"), e.getMessage)
  }

  test("streaming semantic dedup: arrival-ordered keep-first over planted slices") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("semstream")
    val in = s"$tmp/slices"
    val mx = e.agg(org.apache.spark.sql.functions.max(col("vec_id"))).head().getLong(0) + 1
    val base = System.currentTimeMillis()
    def stamp(i: Int): Unit = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    (0 until 2).foreach { i =>
      e.where(col("vec_id") >= i * mx / 2 && col("vec_id") < (i + 1) * mx / 2)
        .coalesce(1).write.mode("append").parquet(in)
      stamp(i)
    }
    // third slice: a clone of vec 0 (drops vs its earlier original) and
    // two identical negated copies of vec 3 (earlier accepted, later drops)
    val negBase = e.where(col("vec_id") === 3)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    e.where(col("vec_id") === 0)
      .select(lit(7200000L).as("vec_id"), col("embedding"))
      .unionByName(negBase.select(lit(7200010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7200011L).as("vec_id"), col("embedding")))
      .coalesce(1).write.mode("append").parquet(in)
    stamp(2)
    val accepted = Dedup.semDedupStreamKeep(spark, in, s"$tmp/work",
        keepCols = Seq("vec_id"), minCosine = 0.95)
      .as[Long].collect().toSet
    val organic = e.select("vec_id").as[Long].collect().toSet
    assert(accepted == organic + 7200010L,
      s"diff: ${(accepted diff (organic + 7200010L)) ++ ((organic + 7200010L) diff accepted)}")
  }

  test("deleteFromCensusStore: decrement semantics equal a rebuilt census, " +
    "zero-count windows vanish, untouched partitions byte-identical") {
    val docs = Tables.documents(spark, Sf0001)
    val corpus = docs.where(col("doc_id") < 250L)
    val victims = docs.where(col("doc_id") === 3L)
    val rest = corpus.where(col("doc_id") =!= 3L)
    // FLAT layout — nMods 64 so one victim's windows prune to a real
    // subset of slices (production sizes nMods ≫ a request's windows)
    val tmp = java.nio.file.Files.createTempDirectory("censusdel")
    val path = s"$tmp/census"
    Dedup.writeCensusStore(Dedup.windowCensus(Dedup.windowTable(corpus)), path,
      width = 40, nMods = 64)
    def dirSha(root: String): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val r = java.nio.file.Paths.get(root)
      val it = java.nio.file.Files.walk(r).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          out(r.relativize(p).toString) = sha
        }
      }
      out.toMap
    }
    val before = dirSha(path)
    val erased = Dedup.deleteFromCensusStore(spark, path, victims, width = 40)
    assert(erased > 0L, "the victims hold unique windows — some must fully erase")
    // census now equals a census REBUILT on corpus-minus-victims
    val got = spark.read.parquet(path).groupBy(col("win"))
      .agg(sum(col("n_docs")).as("n")).as[(String, Long)].collect().toMap
    val want = Dedup.windowCensus(Dedup.windowTable(rest))
      .as[(String, Long)].collect().toMap
    assert(got == want,
      s"deleted census must equal rebuilt truth (diff ${(got.toSet diff want.toSet).take(3)} / ${(want.toSet diff got.toSet).take(3)})")
    val after = dirSha(path)
    val untouched = before.keySet intersect after.keySet
    assert(untouched.nonEmpty, "a partition-targeted delete must leave cold slices alone")
    untouched.foreach(f => assert(after(f) == before(f), s"$f must stay byte-identical"))
    // STREAMED delta layout: three delta batches, same rebuilt-truth gate
    val tmp2 = java.nio.file.Files.createTempDirectory("censusdel2")
    val path2 = s"$tmp2/census"
    (0 until 3).foreach { b =>
      val slice = docs.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
      Dedup.windowCensus(Dedup.windowTable(slice))
        .withColumn("win_mod", pmod(xxhash64(col("win")), lit(Dedup.NMods)).cast("int"))
        .write.mode("overwrite").partitionBy("win_mod").parquet(s"$path2/batch=$b")
    }
    Dedup.CensusManifest.write(path2, 40, Dedup.NMods)
    Dedup.deleteFromCensusStore(spark, path2, victims, width = 40)
    val got2 = spark.read.parquet(path2).groupBy(col("win"))
      .agg(sum(col("n_docs")).as("n")).as[(String, Long)].collect().toMap
    val want2 = Dedup.windowCensus(Dedup.windowTable(
        docs.where(col("doc_id") < 450 && col("doc_id") =!= 3L)))
      .as[(String, Long)].collect().toMap
    assert(got2 == want2, "streamed-layout delete must net deltas to the rebuilt truth")
    // the store still serves probes after both swaps (no leftovers)
    val inc = docs.where(col("doc_id") >= 450)
    assert(Dedup.substringMassIncrementalStored(spark, path2, inc, width = 40).count() >= 0)
  }

  test("compactStore consolidates a census store: same rows, probe unchanged") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("censuscompact")
    val path = s"$tmp/census"
    // three delta batches of the census, then consolidate
    (0 until 3).foreach { b =>
      val slice = docs.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
      val delta = Dedup.windowCensus(Dedup.windowTable(slice))
        .withColumn("win_mod", pmod(xxhash64(col("win")), lit(Dedup.NMods)).cast("int"))
      delta.write.mode("overwrite").partitionBy("win_mod").parquet(s"$path/batch=$b")
    }
    Dedup.CensusManifest.write(path, 40, Dedup.NMods)
    def rowSet = spark.read.parquet(path)
      .select("win", "n_docs").as[(String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val before = rowSet
    StoredTable.compactStore(spark, path, "win_mod", "win", Dedup.NMods, upTo = 2L)
    assert(rowSet == before, "census compaction must keep the multiset of rows")
    // a batch=3 pruned probe against the compacted store still works
    val inc = docs.where(col("doc_id") >= 450)
    val stored = Dedup.substringMassIncrementalStored(spark, path, inc, width = 40)
      .as[(Long, Long)].collect().toMap
    val unpruned = Dedup.substringMassIncremental(
        Dedup.windowCensus(Dedup.windowTable(docs.where(col("doc_id") < 450))), inc)
      .as[(Long, Long)].collect().toMap
    assert(stored == unpruned)
  }

  test("requantizeSemStore: same probe drops at 16→64, rows preserved, manifest bumped") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val clone = e.where(col("vec_id") === 0)
      .select(lit(7300000L).as("vec_id"), col("embedding"))
    val negBase = e.where(col("vec_id") === 5)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    val inc = clone
      .unionByName(negBase.select(lit(7300010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7300011L).as("vec_id"), col("embedding")))
    // twin stores: A gets requantized, B stays — probe drops must agree
    val a = java.nio.file.Files.createTempDirectory("semrq_a").toString
    val b = java.nio.file.Files.createTempDirectory("semrq_b").toString
    Dedup.seedSemStore(e, a)
    Dedup.seedSemStore(e, b)
    def vecSet(dir: String) = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().sorted.toSeq
    val before = vecSet(a)
    Dedup.requantizeSemStore(spark, a, newNlist = 64)
    assert(vecSet(a) == before, "requantize must preserve the stored vec set")
    assert(Dedup.SemManifest.read(a)._1 == 64, "manifest must pin the new nlist")
    // the finer quantizer actually took effect: more distinct cells than
    // the old nlist could express
    assert(spark.read.parquet(s"$a/cells").select("cell").distinct().count() > 16)
    // declaring the STALE nlist now drift-throws
    val eDrift = intercept[IllegalStateException](
      Dedup.semDedupIncrementalStored(spark, a, inc, batchId = 1L)) // default nlist=16
    assert(eDrift.getMessage.contains("parameter drift"), eDrift.getMessage)
    val dropsA = Dedup.semDedupIncrementalStored(spark, a, inc,
        batchId = 1L, minCosine = 0.95, nlist = 64)
      .as[Long].collect().toSet
    val dropsB = Dedup.semDedupIncrementalStored(spark, b, inc,
        batchId = 1L, minCosine = 0.95)
      .as[Long].collect().toSet
    assert(dropsA == dropsB && dropsA == Set(7300000L, 7300011L),
      s"requantized drops $dropsA vs twin $dropsB")
    // a clean swap leaves no set-aside, stage, or sentinel behind
    for (left <- Seq(".requant_old", ".requant_stage"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(a, left)), left)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(a, "cells", StoredTable.MaintenanceSentinel)))
  }

  test("SQ8 sem store: drops equal the full-precision store at a fraction of the " +
    "bytes; appends and requantize stay quantized") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val clone = e.where(col("vec_id") === 0)
      .select(lit(7400000L).as("vec_id"), col("embedding"))
    val negBase = e.where(col("vec_id") === 5)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    val inc = clone
      .unionByName(negBase.select(lit(7400010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7400011L).as("vec_id"), col("embedding")))
    val f = java.nio.file.Files.createTempDirectory("semq_full").toString
    val q = java.nio.file.Files.createTempDirectory("semq_sq8").toString
    Dedup.seedSemStore(e, f)
    Dedup.seedSemStore(e, q, quantized = true)
    assert(Dedup.SemManifest.quantized(q) && !Dedup.SemManifest.quantized(f))
    // the fat float column is gone from the stored cells
    val qCols = spark.read.parquet(s"$q/cells").columns.toSet
    assert(qCols("qvec") && qCols("qscale") && !qCols("embedding"), qCols.toString)
    def cellBytes(dir: String): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "cells"))
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
    // design target is ~1/4 (4-byte float -> 1-byte code); assert a
    // conservative 2x so parquet encoding/footer noise can't flake it
    assert(cellBytes(q) * 2 < cellBytes(f),
      s"quantized cells ${cellBytes(q)} B vs full ${cellBytes(f)} B")
    // probe parity: SQ8 direction error « the fixture's margin
    val dropsQ = Dedup.semDedupIncrementalStored(spark, q, inc,
      batchId = 1L, minCosine = 0.95).as[Long].collect().toSet
    val dropsF = Dedup.semDedupIncrementalStored(spark, f, inc,
      batchId = 1L, minCosine = 0.95).as[Long].collect().toSet
    assert(dropsQ == dropsF && dropsQ == Set(7400000L, 7400011L),
      s"quantized drops $dropsQ vs full $dropsF")
    // the appended batch itself persisted as codes, not floats
    val b1Cols = spark.read.parquet(s"$q/cells/batch=1").columns.toSet
    assert(b1Cols("qvec") && !b1Cols("embedding"), b1Cols.toString)
    // maintenance on a quantized store: codes rewrite losslessly, the
    // store stays quantized, and a later batch probes the evolved store
    // with every earlier arrival still visible
    Dedup.requantizeSemStore(spark, q, newNlist = 64)
    assert(Dedup.SemManifest.quantized(q), "requantize must preserve the SQ8 layout")
    val dropsQ2 = Dedup.semDedupIncrementalStored(spark, q, inc,
        batchId = 2L, minCosine = 0.95, nlist = 64)
      .as[Long].collect().toSet
    // batch 2 re-sends the same vectors: the clone still drops against the
    // corpus, and each negated copy now drops against the OTHER's batch-1
    // stored row (same-id pairs are excluded, cross-id survive)
    assert(dropsQ2 == Set(7400000L, 7400010L, 7400011L), dropsQ2.toString)
  }

  test("streaming sem micro-batch bootstraps an SQ8 store and probes it") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("semq_stream").toString
    val store = s"$tmp/store"; val acc = s"$tmp/acc"
    // first micro-batch: train-if-absent bootstrap must lay down the
    // quantized layout (manifest flag + code columns in the cell store)
    Dedup.semDedupStreamBatch(e.where(col("vec_id") < 200), 0L, store, acc,
      Seq("vec_id"), minCosine = 0.95, nlist = 16, sampleRows = 2048,
      nMods = Dedup.NMods, quantized = true)
    assert(Dedup.SemManifest.quantized(store))
    val cols = spark.read.parquet(s"$store/cells").columns.toSet
    assert(cols("qvec") && cols("qscale") && !cols("embedding"), cols.toString)
    // second micro-batch: a clone of an earlier arrival drops against the
    // stored CODES; an organic newcomer is accepted
    val b1 = e.where(col("vec_id") === 0)
      .select(lit(7500000L).as("vec_id"), col("embedding"))
      .unionByName(e.where(col("vec_id") === 201).select(col("vec_id"), col("embedding")))
    Dedup.semDedupStreamBatch(b1, 1L, store, acc,
      Seq("vec_id"), minCosine = 0.95, nlist = 16, sampleRows = 2048,
      nMods = Dedup.NMods, quantized = true)
    val accepted = spark.read.parquet(acc).select("vec_id").as[Long].collect().toSet
    assert(!accepted.contains(7500000L), "clone must drop against the SQ8 store")
    assert(accepted.contains(201L), "organic newcomer must be accepted")
  }

  test("streaming semantic dedup with in-place requantize: accepted set unchanged, nlist grew") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("semstream_rq")
    val in = s"$tmp/slices"
    val mx = e.agg(org.apache.spark.sql.functions.max(col("vec_id"))).head().getLong(0) + 1
    val base = System.currentTimeMillis()
    def stamp(i: Int): Unit = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.getLastModifiedTime(p).toMillis >= base - 60000L)
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(base - 3600000L + i * 2000L))
      }
    }
    (0 until 2).foreach { i =>
      e.where(col("vec_id") >= i * mx / 2 && col("vec_id") < (i + 1) * mx / 2)
        .coalesce(1).write.mode("append").parquet(in)
      stamp(i)
    }
    val negBase = e.where(col("vec_id") === 3)
      .select(transform(col("embedding"), x => -x).as("embedding"))
    e.where(col("vec_id") === 0)
      .select(lit(7500000L).as("vec_id"), col("embedding"))
      .unionByName(negBase.select(lit(7500010L).as("vec_id"), col("embedding")))
      .unionByName(negBase.select(lit(7500011L).as("vec_id"), col("embedding")))
      .coalesce(1).write.mode("append").parquet(in)
    stamp(2)
    // run twice: maintenance off, and with a cell target small enough that
    // the second batch's append triggers a mid-stream 16→64 requantize.
    // Greedy keep-first truth is quantizer-invariant for the planted dups
    // (cosine 1.0 pairs share a cell under ANY quantizer; organic max
    // pairwise cosine ≈0.51 ≪ 0.95), so accepted sets must be identical.
    val accPlain = Dedup.semDedupStreamKeep(spark, in, s"$tmp/work_plain",
        keepCols = Seq("vec_id"), minCosine = 0.95)
      .as[Long].collect().toSet
    val accMaint = Dedup.semDedupStreamKeep(spark, in, s"$tmp/work_maint",
        keepCols = Seq("vec_id"), minCosine = 0.95, targetCellRows = 20)
      .as[Long].collect().toSet
    assert(accMaint == accPlain,
      s"diff: ${(accMaint diff accPlain) ++ (accPlain diff accMaint)}")
    val organic = e.select("vec_id").as[Long].collect().toSet
    assert(accPlain == organic + 7500010L)
    assert(Dedup.SemManifest.read(s"$tmp/work_maint/semstore")._1 > 16,
      "maintenance must have grown the quantizer in place")
  }

  test("maintenance swap hygiene: stale leftovers fail fast, sentinel blocks reads") {
    val docsD = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("swaphyg")
    val path = s"$tmp/census"
    (0 until 2).foreach { b =>
      val slice = docsD.where(col("doc_id") >= b * 150 && col("doc_id") < (b + 1) * 150)
      Dedup.windowCensus(Dedup.windowTable(slice))
        .withColumn("win_mod", pmod(xxhash64(col("win")), lit(Dedup.NMods)).cast("int"))
        .write.mode("overwrite").partitionBy("win_mod").parquet(s"$path/batch=$b")
    }
    Dedup.CensusManifest.write(path, 40, Dedup.NMods)
    // a stale set-aside dir from a crashed swap blocks the next compaction
    val staleOld = java.nio.file.Paths.get(path, ".compact_old")
    java.nio.file.Files.createDirectories(staleOld)
    val e1 = intercept[IllegalStateException](
      StoredTable.compactStore(spark, path, "win_mod", "win", Dedup.NMods, upTo = 1L))
    assert(e1.getMessage.contains("leftover"), e1.getMessage)
    java.nio.file.Files.delete(staleOld)
    // the in-progress sentinel makes every store read refuse loudly —
    // both the raw read path and a probe that rides it
    val sentinel = java.nio.file.Paths.get(path, StoredTable.MaintenanceSentinel)
    java.nio.file.Files.createFile(sentinel)
    val e2 = intercept[IllegalStateException](StoredTable.readStore(spark, path))
    assert(e2.getMessage.contains("maintenance swap in progress"), e2.getMessage)
    val inc = docsD.where(col("doc_id") >= 450)
    val e3 = intercept[IllegalStateException](
      Dedup.substringMassIncrementalStored(spark, path, inc, width = 40).count())
    assert(e3.getMessage.contains("maintenance swap in progress"), e3.getMessage)
    // sentinel down: compaction and probes proceed normally
    java.nio.file.Files.delete(sentinel)
    StoredTable.compactStore(spark, path, "win_mod", "win", Dedup.NMods, upTo = 1L)
    assert(Dedup.substringMassIncrementalStored(spark, path, inc, width = 40).count() >= 0)
  }

  test("recoverableSwap: checked restore — clean rollback vs trash-preserving abort") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}
    val hconf = spark.sparkContext.hadoopConfiguration
    // fault-injecting fs: renames whose SOURCE matches a live predicate fail
    var failSrc: String => Boolean = _ => false
    val base = new HPath("/tmp").getFileSystem(hconf)
    val fs: FileSystem = new FilterFileSystem(base) {
      override def rename(src: HPath, dst: HPath): Boolean =
        if (failSrc(src.toString)) false else super.rename(src, dst)
    }
    def mkStore(): (String, HPath, HPath, HPath) = {
      val tmp = java.nio.file.Files.createTempDirectory("swapfault").toString
      val orig = new HPath(s"$tmp/store/part=0")
      val staged = new HPath(s"$tmp/.stage/part=0")
      fs.mkdirs(orig); fs.mkdirs(staged)
      fs.create(new HPath(orig, "data.bin"), true).close()
      fs.create(new HPath(staged, "data.bin"), true).close()
      (tmp, orig, staged, new HPath(s"$tmp/store"))
    }
    // CASE A: promote fails, restore succeeds -> original back, no leftovers
    val (tmpA, origA, stagedA, storeA) = mkStore()
    failSrc = s => s.endsWith(".stage/part=0")
    val eA = intercept[IllegalStateException](StoredTable.recoverableSwap(
      fs, "testop", storeA, new HPath(s"$tmpA/.trash"),
      asides = Seq(origA), promotes = Seq((stagedA, origA)), cleanup = Nil))
    assert(eA.getMessage.contains("original store restored"), eA.getMessage)
    assert(fs.exists(new HPath(origA, "data.bin")), "original partition must be back")
    assert(!fs.exists(new HPath(s"$tmpA/.trash")), "trash cleared after full restore")
    assert(!fs.exists(new HPath(storeA, StoredTable.MaintenanceSentinel)), "sentinel dropped")
    // CASE B: promote fails AND rename-back fails -> trash + sentinel are
    // LEFT (the aside is the only copy); message names manual recovery
    val (tmpB, origB, stagedB, storeB) = mkStore()
    failSrc = s => s.endsWith(".stage/part=0") || s.contains("/.trash/")
    val eB = intercept[IllegalStateException](StoredTable.recoverableSwap(
      fs, "testop", storeB, new HPath(s"$tmpB/.trash"),
      asides = Seq(origB), promotes = Seq((stagedB, origB)), cleanup = Nil))
    assert(eB.getMessage.contains("RESTORE INCOMPLETE"), eB.getMessage)
    // aside names are index-prefixed (file-granular swaps can set aside
    // same-named part files from different batch= dirs)
    assert(fs.exists(new HPath(s"$tmpB/.trash/0-part=0/data.bin")),
      "un-restored original must survive inside trash")
    assert(fs.exists(new HPath(storeB, StoredTable.MaintenanceSentinel)),
      "sentinel must stay up so readStore keeps refusing")
    failSrc = _ => false
  }

  test("deleteFromMinhashIndex: victims erased from all three tables, " +
    "untouched files byte-identical, post-delete probe = rebuilt truth") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("minhashdel")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    Dedup.minhashIncrementalStored(spark, idx,
      docs.where(col("doc_id") < 400).select("doc_id", "text"),
      batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    Dedup.minhashIncrementalStored(spark, idx,
      docs.where(col("doc_id") >= 400 && col("doc_id") < 450).select("doc_id", "text"),
      batchId = 1L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    def files(sub: String): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val root = java.nio.file.Paths.get(s"$idx/$sub")
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          out(root.relativize(p).toString) = sha
        }
      }
      out.toMap
    }
    val before = Seq("bands", "sigs", "shingles").map(s => s -> files(s)).toMap
    val victims = Seq(410L, 420L)
    val n = Dedup.deleteFromMinhashIndex(spark, idx, victims)
    assert(n == 2L, s"expected 2 doc deletions, got $n")
    // every trace gone, survivors intact, untouched files byte-identical
    for (sub <- Seq("bands", "sigs", "shingles")) {
      val ids = spark.read.parquet(s"$idx/$sub").select("doc_id").distinct()
        .as[Long].collect().toSet
      assert(victims.forall(!ids.contains(_)), s"$sub still holds a victim")
      val after = files(sub)
      (before(sub).keySet intersect after.keySet).foreach { f =>
        assert(after(f) == before(sub)(f), s"$sub/$f must stay byte-identical")
      }
      assert((before(sub).keySet intersect after.keySet).nonEmpty,
        s"$sub: a targeted delete must leave untouched files in place")
    }
    // semantics: the erased docs no longer influence probes — drops equal
    // the in-memory incremental over the corpus WITHOUT the victims
    val probe = docs.where(col("doc_id") >= 450 && col("doc_id") < 500)
      .select("doc_id", "text")
    val got = Dedup.minhashIncrementalStored(spark, idx, probe,
        batchId = 2L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    val expect = Dedup.minhashIncremental(
        docs.where(col("doc_id") < 450 &&
          !col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*))
          .select("doc_id", "text"),
        probe, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    assert(got == expect,
      s"post-delete probe diverges from rebuilt truth: ${(got diff expect) ++ (expect diff got)}")
  }

  test("bulk-victim (table) band-index erasure equals the literal form") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
    val victims = Seq(5L, 17L, 230L)
    def fresh(): String = {
      val tmp = java.nio.file.Files.createTempDirectory("minhashbulk")
      val idx = s"$tmp/index"
      Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
      Dedup.minhashIncrementalStored(spark, idx,
        docs.where(col("doc_id") < 300).select("doc_id", "text"),
        batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
      idx
    }
    def survivors(idx: String, sub: String): Set[Long] =
      spark.read.parquet(s"$idx/$sub").select("doc_id").distinct()
        .as[Long].collect().toSet
    val idxLit = fresh()
    assert(Dedup.deleteFromMinhashIndex(spark, idxLit, victims) == victims.length.toLong)
    val idxDf = fresh()
    assert(Dedup.deleteFromMinhashIndex(spark, idxDf, victims.toDF("doc_id")) ==
      victims.length.toLong)
    for (sub <- Seq("bands", "sigs", "shingles"))
      assert(survivors(idxLit, sub) == survivors(idxDf, sub), sub)
  }

  test("deleteFromMinhashIndex erases NEGATIVE doc_ids completely: the " +
    "did_mod prune must floorMod like the write-side pmod") {
    // the store partitions sigs/shingles by did_mod = pmod(doc_id, nMods)
    // (non-negative); a JVM-remainder prune computes a NEGATIVE mod for a
    // negative id, misses the victim's real partition, and silently
    // leaves sigs/shingles rows alive — an erasure violation
    val docs = Tables.documents(spark, Sf0001)
      .where(col("doc_id") < 100)
      .select((col("doc_id") - 50L).as("doc_id"), col("text")) // ids -50..49
    val tmp = java.nio.file.Files.createTempDirectory("minhashdelneg")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    Dedup.minhashIncrementalStored(spark, idx, docs,
      batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    val victims = Seq(-37L, -4L, 11L)
    val n = Dedup.deleteFromMinhashIndex(spark, idx, victims)
    assert(n == 3L, s"expected 3 doc deletions, got $n")
    for (sub <- Seq("bands", "sigs", "shingles")) {
      val ids = spark.read.parquet(s"$idx/$sub").select("doc_id").distinct()
        .as[Long].collect().toSet
      victims.foreach(v => assert(!ids.contains(v),
        s"$sub still holds negative-id victim $v — the did_mod prune missed " +
          "its partition"))
    }
  }

  test("deleteFromSemStore: victims erased, untouched files byte-identical, " +
    "centroids untouched, post-delete probe = reseeded truth") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semdel").toString
    Dedup.seedSemStore(e, dir)
    // an increment that duplicates vec 0 and vec 7 (exact clones → cosine 1)
    val inc = e.where(col("vec_id").isin(0, 7))
      .select((col("vec_id") + 8000000L).as("vec_id"), col("embedding"))
    Dedup.semDedupIncrementalStored(spark, dir, inc, batchId = 1L).count()
    def files(): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val root = java.nio.file.Paths.get(s"$dir/cells")
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
    val before = files()
    val rowsBefore = spark.read.parquet(s"$dir/cells").select("vec_id")
      .as[Long].collect().toSet
    val centroidsBefore = graft.operators.Similarity.loadIvfIndex(spark, s"$dir/centroids")
      .map(_.toSeq).toSeq
    val n = Dedup.deleteFromSemStore(spark, dir, Seq(0L))
    assert(n == 1L)
    val after = files()
    assert((before.keySet intersect after.keySet).nonEmpty)
    (before.keySet intersect after.keySet).foreach { f =>
      assert(after(f) == before(f), s"cells/$f must stay byte-identical")
    }
    val rowsAfter = spark.read.parquet(s"$dir/cells").select("vec_id")
      .as[Long].collect().toSet
    assert(rowsAfter == rowsBefore - 0L,
      "exactly the victim must disappear from the cell store")
    assert(graft.operators.Similarity.loadIvfIndex(spark, s"$dir/centroids")
      .map(_.toSeq).toSeq == centroidsBefore, "deletion must not retrain centroids")
    // semantics: a fresh clone of the DELETED vec 0 no longer matches
    // anything 8000000 (its old clone also carries vec 0's embedding —
    // delete that too, then probe); a clone of surviving vec 7 still drops
    Dedup.deleteFromSemStore(spark, dir, Seq(8000000L))
    val probe = e.where(col("vec_id").isin(0, 7))
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    val drops = Dedup.semDedupIncrementalStored(spark, dir, probe, batchId = 2L)
      .as[Long].collect().toSet
    assert(drops.contains(9000007L), "a clone of a SURVIVING vector must still drop")
    assert(!drops.contains(9000000L), "a clone of the ERASED vector must no longer drop")
  }

  test("compactStore consolidates the sem cells store: same rows, probe unchanged") {
    val e = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val inc1 = e.where(col("vec_id") < 16)
      .select((col("vec_id") + 7400000L).as("vec_id"), col("embedding"))
    val clone = e.where(col("vec_id") === 0)
      .select(lit(7450000L).as("vec_id"), col("embedding"))
    val inc2 = clone.unionByName(e.where(col("vec_id") === 7)
      .select(lit(7450001L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
    // twin stores with one appended batch each; A compacts, B stays
    val a = java.nio.file.Files.createTempDirectory("semcells_a").toString
    val b = java.nio.file.Files.createTempDirectory("semcells_b").toString
    for (dir <- Seq(a, b)) {
      Dedup.seedSemStore(e, dir)
      Dedup.semDedupIncrementalStored(spark, dir, inc1, batchId = 1L).count()
    }
    def rowSet(dir: String) = spark.read.parquet(s"$dir/cells")
      .select("cell", "vec_id").as[(Int, Long)].collect().toSet
    val before = rowSet(a)
    StoredTable.compactStore(spark, s"$a/cells", "cell_mod", "vec_id", Dedup.NMods, upTo = 1L)
    assert(rowSet(a) == before, "cells compaction must keep the (cell, vec_id) set")
    val dropsA = Dedup.semDedupIncrementalStored(spark, a, inc2, batchId = 2L)
      .as[Long].collect().toSet
    val dropsB = Dedup.semDedupIncrementalStored(spark, b, inc2, batchId = 2L)
      .as[Long].collect().toSet
    assert(dropsA == dropsB && dropsA == Set(7450000L),
      s"compacted-store drops $dropsA vs twin $dropsB")
  }

  test("legacy store migration: manifest-less store pins known params and probes again") {
    val docsD = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("legacy")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docsD, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    Dedup.minhashIncrementalStored(spark, idx,
      docsD.where(col("doc_id") < 50), batchId = 0L).count()
    // simulate a pre-round-11 store: manifest absent, nmods file present
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "index_manifest.json"))
    intercept[IllegalStateException](
      Dedup.minhashIncrementalStored(spark, idx,
        docsD.where(col("doc_id") < 10), batchId = 1L))
    Dedup.IndexManifest.migrateLegacy(idx, n = 3, perms = 32, bands = 8)
    assert(Dedup.minhashIncrementalStored(spark, idx,
      docsD.where(col("doc_id") < 10), batchId = 1L).count() >= 0)
    // migration is for stores with NO manifest, never a drift bypass
    val e2 = intercept[IllegalStateException](
      Dedup.IndexManifest.migrateLegacy(idx, 5, 32, 8))
    assert(e2.getMessage.contains("already has a manifest"), e2.getMessage)
  }

  test("bucket skew guard: oversized buckets degrade to a linear star") {
    val many = (1L to 200L).map(_ -> "same text for every single doc repeated words words")
    val out = Dedup.minhashCandidates(many.toDF("doc_id", "text"), minEstJaccard = 0.5)
    // a 200-doc bucket emits 199 star pairs (min id to each member), NOT
    // 200*199/2 — bounded pairs but the family stays connected for dedup
    assert(out.count() == 199)
    val kept = Dedup.minhashDeduped(many.toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
  }

  test("retainMinhashIndexBatches: batch-TTL aging drops whole batch " +
    "partitions from all three tables metadata-only; the layout seed " +
    "never ages and the aged index stays probe-able") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("minhashret")
    val idx = s"$tmp/index"
    Dedup.seedStreamStores(docs, idx, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    Dedup.minhashIncrementalStored(spark, idx,
      docs.where(col("doc_id") < 30).select("doc_id", "text"),
      batchId = 0L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    Dedup.minhashIncrementalStored(spark, idx,
      docs.where(col("doc_id") >= 30 && col("doc_id") < 60).select("doc_id", "text"),
      batchId = 1L, minEstJaccard = 0.4, verifyJaccard = Some(0.9)).count()
    def snap(sub: String): Map[String, String] = {
      val out = scala.collection.mutable.Map.empty[String, String]
      val root = java.nio.file.Paths.get(s"$idx/$sub")
      val it = java.nio.file.Files.walk(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")) {
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          out(root.relativize(p).toString) = sha
        }
      }
      out.toMap
    }
    val subs = Seq("bands", "sigs", "shingles")
    val before = subs.map(s => s -> snap(s)).toMap
    val dropped = Dedup.retainMinhashIndexBatches(spark, idx, cutoff = 0L)
    assert(dropped == Map("bands" -> Seq(0L), "sigs" -> Seq(0L),
      "shingles" -> Seq(0L)), s"exactly batch 0 must age: $dropped")
    for (sub <- subs) {
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/$sub/batch=0")), s"$sub/batch=0 must be gone")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/$sub/batch=-1")), s"$sub seed must survive")
      val after = snap(sub)
      // metadata-only: the survivor set is before-minus-batch-0, each file
      // byte-identical (nothing was read or rewritten)
      assert(after.keySet == before(sub).keySet.filterNot(_.contains("batch=0")),
        s"$sub survivors must be exactly the non-aged files")
      after.foreach { case (f, sha) =>
        assert(before(sub)(f) == sha, s"$sub/$f must stay byte-identical")
      }
      val ids = spark.read.parquet(s"$idx/$sub").select("doc_id").distinct()
        .as[Long].collect().toSet
      assert(ids.forall(_ >= 30L), s"$sub still holds aged docs: ${ids.filter(_ < 30L)}")
    }
    // the aged index keeps serving: a probe equals the in-memory
    // incremental over ONLY the retained docs
    val probe = docs.where(col("doc_id") >= 60 && col("doc_id") < 80)
      .select("doc_id", "text")
    val got = Dedup.minhashIncrementalStored(spark, idx, probe,
        batchId = 2L, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    val expect = Dedup.minhashIncremental(
        docs.where(col("doc_id") >= 30 && col("doc_id") < 60).select("doc_id", "text"),
        probe, minEstJaccard = 0.4, verifyJaccard = Some(0.9))
      .as[Long].collect().toSet
    assert(got == expect,
      s"post-retention probe diverges: ${(got diff expect) ++ (expect diff got)}")
    // aging EVERYTHING leaves the seed-only store readable (layout
    // discovery intact) — the cutoff never touches batch=-1
    val dropped2 = Dedup.retainMinhashIndexBatches(spark, idx, cutoff = 99L)
    assert(dropped2.values.toSeq == Seq(Seq(1L, 2L), Seq(1L, 2L), Seq(1L, 2L)),
      s"widened cutoff must age the rest: $dropped2")
    for (sub <- subs)
      assert(spark.read.parquet(s"$idx/$sub").isEmpty,
        s"$sub must read (empty) from the seed alone")
  }
}
