package graft

import graft.operators.{Dedup, Similarity, TextIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The two store primitives every stored-index family shares: the
  * copy-on-write erasure core ([[Dedup.deleteRowsFromStore]] and its
  * table form) and the job-free store open ([[Dedup.readStore]]).
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
          Dedup.deleteRowsFromStore(spark, dir, "spec",
            col("id").isin(victims.map(java.lang.Long.valueOf): _*),
            partitionCols = Seq("p"), clusterCols = Seq("k", "id"))
        case _ =>
          Dedup.deleteRowsFromStoreJoin(spark, dir, "spec", victims.toDF("id"), "id",
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
        val opened = try Dedup.readStore(spark, t) finally sc.clearJobGroup()
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
}
