package graft

import graft.operators.{Dedup, Similarity, StoredTable, TextIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The store primitives every stored-index family shares: the
  * copy-on-write erasure core ([[StoredTable.deleteRowsFromStore]] and its
  * table form), the job-free store open ([[StoredTable.readStore]]), the
  * leftover pre-flight every mutation runs first, and batch compaction.
  */
class StoreIoSpec extends SparkSpec {
  import spark.implicits._

  /** relative path → SHA-256 of every visible data file under `root`. */
  private def digests(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Map.empty[String, String]
    val it = java.nio.file.Files.walk(base).iterator()
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith("."))
        out(base.relativize(p).toString) =
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }
    out.toMap
  }

  test("erasure core is copy-on-write: victims gone, survivors unchanged, " +
       "untouched files byte-identical, no more files written than replaced, " +
       "each rewritten file sorted on the cluster columns") {
    for (form <- Seq("literal", "table")) {
      val dir = java.nio.file.Files.createTempDirectory("erasecore").toString + "/store"
      // 5 partition dirs × 2 files each; rows in random (k, id) order
      val rnd = new scala.util.Random(7)
      for (file <- 0 until 2)
        (0 until 5).flatMap { p =>
          (0 until 200).map { i =>
            val id = file * 10000L + p * 1000L + i
            (id, rnd.nextInt(1000).toLong, s"v$id", p)
          }
        }.toDF("id", "k", "v", "p").coalesce(1)
          .write.mode("append").partitionBy("p").parquet(dir)
      // victims in the first file of dirs p=0, 1, 2 only
      val victims = for (p <- 0 until 3; i <- Seq(3, 50, 199)) yield p * 1000L + i
      val before = digests(dir)
      assert(before.size == 10 && before.keys.groupBy(_.takeWhile(_ != '/')).size == 5)
      val rows = spark.read.parquet(dir).as[(Long, Long, String, Int)].collect().toSeq
      val n = form match {
        case "literal" =>
          StoredTable.deleteRowsFromStore(spark, dir, "spec",
            col("id").isin(victims.map(java.lang.Long.valueOf): _*),
            partitionCols = Seq("p"), clusterCols = Seq("k", "id"))
        case _ =>
          StoredTable.deleteRowsFromStoreJoin(spark, dir, "spec", victims.toDF("id"), "id",
            partitionCols = Seq("p"), clusterCols = Seq("k", "id"))
      }
      assert(n == victims.length, form)
      val after = digests(dir)
      val replaced = before.keySet -- after.keySet
      val written = after.keySet -- before.keySet
      val kept = before.keySet intersect after.keySet
      assert(replaced.map(_.takeWhile(_ != '/')) == Set("p=0", "p=1", "p=2") &&
        replaced.size == 3, s"$form: replaced $replaced")
      assert(kept.size == 7 && kept.forall(f => after(f) == before(f)),
        s"$form: untouched files must stay byte-identical")
      assert(written.nonEmpty && written.size <= replaced.size,
        s"$form: wrote ${written.size} files to replace ${replaced.size}: $written")
      val got = spark.read.parquet(dir).as[(Long, Long, String, Int)].collect().toSeq
      assert(got.sorted == rows.filterNot(r => victims.contains(r._1)).sorted,
        s"$form: survivors must be exactly the rows minus the victims")
      written.foreach { f =>
        val ks = spark.read.parquet(s"$dir/$f").select("k", "id").as[(Long, Long)]
          .collect().toSeq
        assert(ks == ks.sorted, s"$form: $f is not sorted on (k, id)")
      }
    }
  }

  test("store opens run no Spark job and keep read.parquet's schema, " +
       "partition-column types included") {
    val tmp = java.nio.file.Files.createTempDirectory("storeopen").toString
    val docs = (0L until 60L).map(i => (i, s"alpha beta$i gamma${i % 5} delta"))
      .toDF("doc_id", "text")
    val text = s"$tmp/text"
    TextIndex.appendTextIndexBatches(
      Seq(docs.where(col("doc_id") < 30) -> 0L, docs.where(col("doc_id") >= 30) -> 1L),
      text, withPositions = true)
    val band = s"$tmp/band"
    Dedup.seedStreamStores(docs, band, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
    Dedup.minhashIncrementalStored(spark, band, docs, batchId = 0L).count()
    val rnd = new scala.util.Random(3)
    val emb = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    Similarity.streamIngestIvfBatch(emb.where(col("vec_id") < 20), 0L,
      s"$tmp/ivf_index", s"$tmp/cells", nlist = 4, sampleRows = 20)
    Similarity.streamIngestIvfBatch(emb.where(col("vec_id") >= 20), 1L,
      s"$tmp/ivf_index", s"$tmp/cells", nlist = 4, sampleRows = 20)
    val tables = Seq("postings", "terms", "docs", "stats", "positions").map(t => s"$text/$t") ++
      Seq("bands", "sigs", "shingles").map(t => s"$band/$t") :+ s"$tmp/cells"

    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      for (t <- tables) {
        sc.setJobGroup(s"open $t", s"open $t")
        val opened = try StoredTable.readStore(spark, t) finally sc.clearJobGroup()
        assert(opened.schema == spark.read.parquet(t).schema, t)
      }
      // listener events arrive in order: once the marker job shows, any
      // job an open started has shown too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"), "the listener never saw the marker job")
      val openJobs = groups.toArray.map(_.toString).filter(_.startsWith("open "))
      assert(openJobs.isEmpty, s"store opens ran jobs: ${openJobs.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("every store mutation refuses a leftover trash dir or sentinel " +
       "before it changes a file") {
    val docs = (0L until 60L).map(i => (i, s"alpha beta$i gamma${i % 5} delta"))
      .toDF("doc_id", "text")
    val rnd = new scala.util.Random(3)
    val emb = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    def textIndex(r: String): Unit = TextIndex.appendTextIndexBatches(
      Seq(docs.where(col("doc_id") < 30) -> 0L, docs.where(col("doc_id") >= 30) -> 1L),
      s"$r/text", withPositions = true)
    def semStore(r: String): Unit = Dedup.seedSemStore(emb, s"$r/sem", nlist = 4, sampleRows = 40)
    def minhashIndex(r: String): Unit = {
      Dedup.seedStreamStores(docs, s"$r/idx", s"$r/acc", Seq("doc_id"), n = 3, perms = 32)
      Dedup.minhashIncrementalStored(spark, s"$r/idx", docs, batchId = 0L).count()
      ()
    }
    // (op, store builder, the op, its trash dir, its sentinel dir) — paths
    // relative to the fixture root; multi-table ops plant on a table other
    // than the first they touch
    val ops: Seq[(String, String => Unit, String => Any, String, String)] = Seq(
      ("deleteFromMinhashIndex", minhashIndex,
        r => Dedup.deleteFromMinhashIndex(spark, s"$r/idx", Seq(3L, 40L)),
        "idx/.shingles_delete_old", "idx/shingles"),
      ("compactIndex", minhashIndex,
        r => Dedup.compactIndex(spark, s"$r/idx", upTo = 0L),
        "idx/shingles/.compact_old", "idx/shingles"),
      ("deleteFromSemStore", semStore,
        r => Dedup.deleteFromSemStore(spark, s"$r/sem", Seq(3L, 20L)),
        "sem/.cells_delete_old", "sem/cells"),
      ("deleteFromTextIndex", textIndex,
        r => TextIndex.deleteFromTextIndex(spark, s"$r/text", Seq(3L, 40L)),
        "text/.stats_rewrite_old", "text/stats"),
      ("compactTextIndexBatches", textIndex,
        r => TextIndex.compactTextIndexBatches(spark, s"$r/text", upTo = 1L),
        "text/.stats_compact_old", "text/stats"),
      ("splitHotCells", { r =>
        Similarity.streamIngestIvfBatch(emb, 0L, s"$r/ivf/ivf_index", s"$r/ivf/cells",
          nlist = 2, sampleRows = 40)
      }, r => Similarity.splitHotCells(spark, s"$r/ivf", maxCellRows = 5),
        "ivf/.split_old", "ivf/cells"),
      ("deleteFromCensusStore", { r =>
        Dedup.writeCensusStore(Dedup.windowCensus(Dedup.windowTable(
          Tables.documents(spark, Sf0001).where(col("doc_id") < 200))), s"$r/census", width = 40)
      }, r => Dedup.deleteFromCensusStore(spark, s"$r/census",
        Tables.documents(spark, Sf0001).where(col("doc_id") < 3), width = 40),
        ".census_delete_old", "census"),
      ("requantizeSemStore", semStore,
        r => Dedup.requantizeSemStore(spark, s"$r/sem", newNlist = 8, sampleRows = 40),
        "sem/.requant_old", "sem/cells"))
    for ((op, build, run, trash, sentinelDir) <- ops) {
      val root = java.nio.file.Files.createTempDirectory("leftover").toString
      build(root)
      val before = queries.Fixtures.snapStoreFiles(root)
      val sentinel = s"$sentinelDir/${StoredTable.MaintenanceSentinel}"
      for ((left, plant) <- Seq(
          trash -> ((p: java.nio.file.Path) => java.nio.file.Files.createDirectories(p)),
          sentinel -> ((p: java.nio.file.Path) => java.nio.file.Files.createFile(p)))) {
        val p = java.nio.file.Paths.get(root, left)
        plant(p)
        val e = intercept[IllegalStateException](run(root))
        assert(e.getMessage.contains(p.getFileName.toString),
          s"$op: the refusal must name the leftover $left: ${e.getMessage}")
        assert(queries.Fixtures.snapStoreFiles(root) == before,
          s"$op: a refused mutation changed store files (leftover $left)")
        java.nio.file.Files.delete(p)
      }
      // the fixture is one the op really changes once nothing is left over
      run(root)
      assert(queries.Fixtures.snapStoreFiles(root) != before, s"$op: the op changed nothing")
    }
  }

  test("compaction over a batch range holding no rows leaves a readable, " +
       "empty store with the same schema and no leftovers") {
    val root = java.nio.file.Files.createTempDirectory("emptycompact").toString
    val table = s"$root/census"
    val cells = s"$root/ivf/cells"
    for (b <- 0 to 1) {
      Seq.empty[(String, Long)].toDF("win", "n_docs").coalesce(1)
        .write.parquet(s"$table/batch=$b/win_mod=0")
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "cell").coalesce(1)
        .write.parquet(s"$cells/batch=$b")
    }
    val tableSchema = StoredTable.readStore(spark, table).schema
    val cellsSchema = StoredTable.readStore(spark, cells).schema
    StoredTable.compactStore(spark, table, "win_mod", "win", nMods = 4, upTo = 1L)
    assert(Similarity.compactIvfStore(spark, s"$root/ivf", upTo = 1L) == 0L)
    for ((dir, schema, leftovers) <- Seq(
        (table, tableSchema, Seq(s"$table.compact_stage", s"$table/.compact_old")),
        (cells, cellsSchema, Seq(s"$root/ivf/.compact_stage", s"$root/ivf/.compact_old")))) {
      val after = StoredTable.readStore(spark, dir)
      assert(after.schema == schema, dir)
      assert(after.count() == 0L, dir)
      assert(new java.io.File(dir).list().filter(_.startsWith("batch=")).toSeq == Seq("batch=1"), dir)
      (leftovers :+ s"$dir/${StoredTable.MaintenanceSentinel}").foreach { l =>
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(l)), s"leftover $l")
      }
    }
  }

  test("the range-clustered restage evaluates its rows once and releases " +
       "its cache after a write and after a failed write") {
    val root = java.nio.file.Files.createTempDirectory("restage").toString
    val calls = spark.sparkContext.longAccumulator("restage-rows")
    val tick = udf { (id: Long) => calls.add(1L); id % 7 }
    val rows = spark.range(0, 500, 1, 4).select(col("id"), tick(col("id")).as("k"))
    // control: an unpersisted range write runs the child twice, once for
    // the sampler's bounds and once for the shuffle
    rows.repartitionByRange(4, col("k"), col("id")).write.parquet(s"$root/plain")
    assert(calls.value == 1000L)
    calls.reset()
    StoredTable.clusteredStage(rows, Seq("k", "id"), Seq("k"), s"$root/stage", Some(4))
    assert(calls.value == 500L, "the restage evaluated its rows more than once")
    assert(rows.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the restage kept its cache after a write")
    val staged = spark.read.parquet(s"$root/stage")
    assert(staged.count() == 500L)
    assert(new java.io.File(s"$root/stage").list().count(_.startsWith("k=")) == 7)
    // an output path under a regular file fails the write
    val file = new java.io.File(root, "file")
    assert(file.createNewFile())
    intercept[Exception] {
      StoredTable.clusteredStage(rows, Seq("k", "id"), Nil, s"$file/stage", Some(4))
    }
    assert(rows.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the restage kept its cache after a failed write")
  }
}
