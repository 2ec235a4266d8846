package graft

import java.nio.file.Files

import graft.functions.Codec
import graft.operators.{Chunker, LogStore}
import org.apache.spark.sql.functions._

class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(rows: (String, String)*) =
    rows.zipWithIndex.map { case ((user, payload), i) =>
      LogStore.LogDoc(user, "activity", "schedulechange", 1700000000000L + i, payload)
    }.toDS()

  test("ingest: small payload → one chunk, parent id, no parent_log_id") {
    val out = LogStore.ingest(mkDocs("u1" -> "small payload")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("split_index") == 0)
    assert(r.getAs[Int]("total_splits") == 1)
    assert(r.getAs[String]("parent_log_id") == null)
    assert(r.getAs[String]("id").startsWith("u1_schedulechange_"))
    assert(Codec.unzipStr(r.getAs[Array[Byte]]("zipped_log")) == "small payload")
  }

  test("ingest → reassemble round-trips a multi-chunk payload") {
    val big = TestText.random(6 * 1024 * 1024, seed = 3) // ~6 MB, barely compressible
    assert(Codec.zippedSize(big) > Chunker.MaxDocBytes, "fixture must force a split")
    val logs = LogStore.ingest(mkDocs("u1" -> big, "u2" -> "tiny"))
    val n = logs.count()
    assert(n > 2, s"expected >1 chunk for the big doc, got $n rows total")
    // chunk lineage invariants (reference LogChange.cs:145-170)
    val bigChunks = logs.where(col("user_id") === "u1").orderBy("split_index").collect()
    assert(bigChunks.map(_.getAs[Int]("split_index")).toSeq == bigChunks.indices.toSeq)
    assert(bigChunks.forall(_.getAs[Int]("total_splits") == bigChunks.length))
    assert(bigChunks.head.getAs[String]("parent_log_id") == null)
    assert(bigChunks.tail.forall(r =>
      r.getAs[String]("parent_log_id") == bigChunks.head.getAs[String]("id")))
    assert(bigChunks.tail.forall(r => r.getAs[String]("id").contains("_split")))

    val combined = LogStore.reassemble(logs)
    val payloads = combined.select(col("user_id"), col("payload"))
      .as[(String, String)].collect().toMap
    assert(payloads("u1") == big)
    assert(payloads("u2") == "tiny")
    assert(combined.where(col("user_id") === "u1").head().getAs[Int]("split_index") == 0)
  }

  test("reassembleAgg (typed Aggregator) matches collect_list reassembly") {
    val big = TestText.random(4 * 1024 * 1024, seed = 5)
    val logs = LogStore.ingest(mkDocs("u1" -> big, "u2" -> "tiny", "u3" -> "mid sized payload"))
    val viaList = LogStore.reassemble(logs)
      .select("user_id", "payload").as[(String, String)].collect().toMap
    val viaAgg = LogStore.reassembleAgg(logs)
      .select("user_id", "payload").as[(String, String)].collect().toMap
    assert(viaAgg == viaList)
    assert(viaAgg("u1") == big)
  }

  test("logChangesByType: half-open range, newest-first, limit") {
    val logs = LogStore.ingest(mkDocs(
      "u1" -> "a", "u1" -> "b", "u1" -> "c", "u2" -> "d"))
    // js times are 1700000000000+i in dataset order
    val out = LogStore.logChangesByType(logs,
      userId = Some("u1"),
      startMs = Some(1700000000000L),
      endMs = Some(1700000000002L), // half-open: excludes i=2 ("c")
      limit = 10)
    val ids = out.select("js_time_of_creation").as[Long].collect().toSeq
    assert(ids == Seq(1700000000001L, 1700000000000L)) // desc, "c" excluded
  }

  test("logChangesByType: no filters = global newest-first top-k") {
    val logs = LogStore.ingest(mkDocs("u1" -> "a", "u2" -> "b", "u3" -> "c"))
    val out = LogStore.logChangesByType(logs, limit = 2)
    assert(out.count() == 2)
    assert(out.select("js_time_of_creation").as[Long].collect().toSeq ==
      Seq(1700000000002L, 1700000000001L))
  }

  /** Partition directories the executed scan of `df` read (`df` must have run). */
  private def partitionsRead(df: org.apache.spark.sql.DataFrame): Long = {
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = helper.collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected one file scan:\n${df.queryExecution.executedPlan}")
    scans.head.metrics("numPartitions").value
  }

  private def partitionDirs(dir: String, column: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.startsWith(s"$column=")).sorted

  /** The bucket directories the writer's own bucket expression sends `users` to. */
  private def bucketDirs(users: Seq[String]): Seq[String] =
    users.toDF("user_id").select(LogStore.userBucket(col("user_id"))).as[Int].collect()
      .distinct.map(b => s"${LogStore.BucketColumn}=$b").sorted.toSeq

  test("partitioned write + pruned point lookup round-trip") {
    val dir = Files.createTempDirectory("logstore").toFile.getAbsolutePath + "/logs"
    val users = (1 to 6).map(i => s"u$i")
    val logs = LogStore.ingest(mkDocs(users.map(u => u -> s"payload of $u"): _*))
    LogStore.writeLogs(logs, dir)
    // physical layout is user-bucketed: bucket directories, no user directory
    val buckets = bucketDirs(users)
    assert(buckets.length > 1, s"fixture users must span several buckets: $buckets")
    assert(partitionDirs(dir, LogStore.BucketColumn) == buckets)
    assert(partitionDirs(dir, "user_id").isEmpty)
    val back = spark.read.parquet(dir)
    for (u <- users) {
      // take the id from the WRITTEN data: ingest ids are nondeterministic
      // (ULID minted at eval time), so re-evaluating `logs` would mint new ones
      val id = back.where(col("user_id") === u).head().getAs[String]("id")
      val hit = LogStore.pointLookup(back, u, id)
      val rows = hit.collect()
      assert(rows.length == 1)
      assert(Codec.unzipStr(rows.head.getAs[Array[Byte]]("zipped_log")) == s"payload of $u")
      // ... and the scan actually prunes: the bucket filter reaches the scan
      // and only the user's bucket directory is read
      val plan = hit.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains(LogStore.BucketColumn),
        s"expected ${LogStore.BucketColumn} partition filter in scan:\n$plan")
      assert(partitionsRead(hit) == 1, s"point lookup of $u read more than one directory:\n$plan")
    }
  }

  test("ingest plan: chunking runs in a Generate, not folded into the LocalRelation") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation}
    import org.apache.spark.sql.types.ArrayType
    // Catalyst folds a projection over an in-memory batch into the
    // LocalRelation at plan time; a chunk column there would mean the
    // chunker runs on the driver, on one thread, while optimising
    val plan = LogStore.ingest(mkDocs("u1" -> "a", "u2" -> "b")).queryExecution.optimizedPlan
    val chunkGenerate = plan.collect { case g: Generate => g }.filter(_.generator.exists {
      case u: ScalaUDF => u.udfName.contains(LogStore.ChunkUdfName)
      case _ => false
    })
    assert(chunkGenerate.length == 1, s"expected one Generate over the chunk UDF:\n$plan")
    val relations = chunkGenerate.head.collect { case r: LocalRelation => r }
    assert(relations.nonEmpty, s"expected the batch's LocalRelation under the Generate:\n$plan")
    for (r <- relations; a <- r.output)
      assert(!a.dataType.isInstanceOf[ArrayType] && !a.name.toLowerCase.contains("chunk"),
        s"LocalRelation carries ${a.name}: ${a.dataType}:\n$plan")
  }

  test("writeLogs: one file per bucket dir per call, a split document in one file") {
    implicit val s = spark
    def md5(str: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
    val big = TestText.random(4 * 1024 * 1024, seed = 23)
    val users = (1 to 24).map(i => s"u$i")
    // users arrive in reverse order, so only the writer's sort groups them
    val docs = mkDocs(users.reverse.flatMap(u => Seq(u -> s"$u one", u -> s"$u two")) :+ ("u1" -> big): _*)
    val dir = Files.createTempDirectory("layout").toFile.getAbsolutePath + "/logs"
    val buckets = bucketDirs(users)
    assert(buckets.length < users.length, "fixture users must share a bucket")
    for (call <- 1 to 2) {
      LogStore.writeLogs(LogStore.ingest(docs), dir)
      assert(partitionDirs(dir, LogStore.BucketColumn) == buckets)
      for (b <- buckets) {
        val files = new java.io.File(s"$dir/$b").list()
          .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
        assert(files.length == call, s"$b after call $call: ${files.toSeq}")
      }
    }
    val back = spark.read.parquet(dir)
    // every user's rows sit in exactly one bucket directory, the one its id hashes to
    val placed = back.groupBy("user_id")
      .agg(countDistinct(col(LogStore.BucketColumn)),
        sum((col(LogStore.BucketColumn) =!= LogStore.userBucket(col("user_id"))).cast("int")))
      .as[(String, Long, Long)].collect()
    assert(placed.map(_._1).sorted.toSeq == users.sorted)
    for ((u, n, misplaced) <- placed)
      assert(n == 1 && misplaced == 0, s"$u in $n buckets, $misplaced rows outside its own")
    // ... and sit together in its file, oldest first
    for (f <- back.inputFiles) {
      val order = spark.read.parquet(f).select("user_id", "js_time_of_creation")
        .as[(String, Long)].collect().toSeq
      assert(order == order.sorted, s"$f rows not grouped by user and time: $order")
    }
    val parents = back
      .where(col("user_id") === "u1" && col("parent_log_id").isNull && col("total_splits") > 1)
      .select("id").as[String].collect()
    assert(parents.length == 2, "one split document per call")
    for (p <- parents) {
      val chunks = back.where(col("user_id") === "u1" &&
        (col("id") === p || col("parent_log_id") === p))
      val files = chunks.select(input_file_name()).distinct().count()
      assert(files == 1, s"split document $p spread over $files files")
      val got = LogStore.getCombined(back, "u1", p).head().getAs[String]("payload")
      assert(md5(got) == md5(big))
      val plan = LogStore.pointLookup(back, "u1", p).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains(LogStore.BucketColumn),
        s"expected ${LogStore.BucketColumn} partition filter in scan:\n$plan")
    }
  }

  test("opening a store of many users lists it on the driver, no Spark job") {
    val users = (0 until 100).map(i => f"user$i%03d")
    val dir = Files.createTempDirectory("listing").toFile.getAbsolutePath + "/logs"
    LogStore.writeLogs(LogStore.ingest(mkDocs(users.map(u => u -> s"$u payload"): _*)), dir)
    val dirs = partitionDirs(dir, LogStore.BucketColumn)
    assert(dirs.nonEmpty && dirs.length <= LogStore.UserBuckets, s"bucket dirs: $dirs")
    val schema = spark.read.parquet(dir).schema
    // listener events arrive in submission order, so once the marker job is
    // seen every job the open submitted has been seen too
    val group = "logstore-open"
    val marker = "logstore-open-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "open")
      val opened = try spark.read.schema(schema).parquet(dir) finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var waited = 0
      while (!groups.contains(marker) && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(groups.contains(marker), "marker job never reached the listener")
      val openJobs = groups.toArray.count(_ == group)
      assert(openJobs == 0, s"opening the store submitted $openJobs Spark job(s)")
      assert(opened.inputFiles.length == dirs.length, "one file per bucket directory")
    } finally sc.removeSparkListener(listener)
  }

  test("stores partitioned by user_id still answer and prune on user_id") {
    implicit val s = spark
    val big = TestText.random(4 * 1024 * 1024, seed = 29)
    val dir = Files.createTempDirectory("peruser").toFile.getAbsolutePath + "/logs"
    // the layout the streaming sink writes (q_stream_ingest)
    LogStore.ingest(mkDocs("u1" -> big, "u1" -> "u1 small", "u2" -> "u2 small"))
      .write.partitionBy("user_id").parquet(dir)
    assert(partitionDirs(dir, "user_id") == Seq("user_id=u1", "user_id=u2"))
    val back = spark.read.parquet(dir)
    assert(!back.columns.contains(LogStore.BucketColumn))
    def prunesOnUser(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*\(user_id#\d+ = u1\)""".r.findFirstIn(plan).isDefined,
        s"expected user_id partition filter in scan:\n$plan")
    }
    val parents = back.where(col("user_id") === "u1" && col("parent_log_id").isNull)
      .select("id", "total_splits").as[(String, Int)].collect().toMap
    assert(parents.size == 2)
    val (splitId, _) = parents.find(_._2 > 1).get
    val (smallId, _) = parents.find(_._2 == 1).get

    val hit = LogStore.pointLookup(back, "u1", smallId)
    val rows = hit.collect()
    assert(rows.length == 1 && Codec.unzipStr(rows.head.getAs[Array[Byte]]("zipped_log")) == "u1 small")
    prunesOnUser(hit)
    assert(partitionsRead(hit) == 1)

    val recent = LogStore.logChangesByType(back, userId = Some("u1"), limit = 100)
    val recentRows = recent.select("user_id", "split_index").as[(String, Int)].collect()
    assert(recentRows.length == parents(splitId) + 1 && recentRows.forall(_._1 == "u1"))
    prunesOnUser(recent)

    for ((id, want) <- Seq(splitId -> big, smallId -> "u1 small")) {
      val combined = LogStore.getCombined(back, "u1", id)
      assert(combined.head().getAs[String]("payload") == want)
      prunesOnUser(combined)
    }
  }

  test("getCombined restores one document by (user, parent id), incl. unsplit") {
    implicit val s = spark
    val big = TestText.random(4 * 1024 * 1024, seed = 11)
    val dir = Files.createTempDirectory("combined").toFile.getAbsolutePath + "/logs"
    LogStore.writeLogs(LogStore.ingest(mkDocs("u1" -> big, "u2" -> "tiny")), dir)
    val back = spark.read.parquet(dir)
    for ((user, want) <- Seq("u1" -> big, "u2" -> "tiny")) {
      val parentId = back
        .where(col("user_id") === user && col("parent_log_id").isNull)
        .head().getAs[String]("id")
      val got = LogStore.getCombined(back, user, parentId)
      assert(got.head().getAs[String]("payload") == want)
      // the unsplit short-circuit (BigDataLogControl.cs:129-132) must skip
      // the chunk gather: no Aggregate anywhere in the plan
      val hasAggregate = got.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
      if (user == "u2") assert(!hasAggregate, "unsplit doc must not plan a gather")
      else assert(hasAggregate, "split doc must gather its chunks")
    }
  }

  test("observe metrics report ingest telemetry without extra passes") {
    val big = TestText.random(4 * 1024 * 1024, seed = 17)
    val logs = LogStore.withIngestMetrics(
      LogStore.ingest(mkDocs("u1" -> big, "u2" -> "tiny")))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Option[org.apache.spark.sql.Row] = None
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("ingest").foreach(r => metrics = Some(r))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = logs.count()
      // listener fires asynchronously post-action
      var waited = 0
      while (listener.metrics.isEmpty && waited < 100) { Thread.sleep(100); waited += 1 }
      val m = listener.metrics.get
      assert(m.getAs[Long]("rows_written") == n)
      assert(m.getAs[Long]("chunked_rows") >= 2) // the 4 MB doc split
      assert(m.getAs[Long]("zipped_bytes") > 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("writeDocumentToFile dumps raw bytes and closes the stream") {
    val f = Files.createTempFile("rawsink", ".bin").toFile
    val bytes = Array[Byte](1, 2, 3, 0, -1)
    LogStore.writeDocumentToFile(bytes, f.getAbsolutePath)
    assert(Files.readAllBytes(f.toPath).toSeq == bytes.toSeq)
  }

  test("oversized guard flags rows above the cap") {
    val row = LogStore.LogChange("u", "id1", "t", "tr", new java.sql.Timestamp(0L), 0L,
      new Array[Byte](Chunker.MaxDocBytes + 1), 0, 1, null)
    val ok = LogStore.LogChange("u", "id2", "t", "tr", new java.sql.Timestamp(0L), 0L,
      new Array[Byte](10), 0, 1, null)
    val flagged = LogStore.oversized(Seq(row, ok).toDS().toDF())
    assert(flagged.select("id").as[String].collect().toSeq == Seq("id1"))
  }
}
