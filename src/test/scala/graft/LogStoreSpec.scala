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

  test("partitioned write + pruned point lookup round-trip") {
    val dir = Files.createTempDirectory("logstore").toFile.getAbsolutePath + "/logs"
    val logs = LogStore.ingest(mkDocs("u1" -> "payload one", "u2" -> "payload two"))
    LogStore.writeLogs(logs, dir)
    val back = spark.read.parquet(dir)
    // take the id from the WRITTEN data: ingest ids are nondeterministic
    // (ULID minted at eval time), so re-evaluating `logs` would mint new ones
    val id = back.where(col("user_id") === "u1").head().getAs[String]("id")
    val hit = LogStore.pointLookup(back, "u1", id)
    assert(hit.count() == 1)
    assert(Codec.unzipStr(hit.head().getAs[Array[Byte]]("zipped_log")) == "payload one")
    // physical layout is user-partitioned (pruning serves user-scoped reads)
    assert(new java.io.File(s"$dir/user_id=u1").exists())
    // ... and the scan actually prunes: the partition filter reaches the scan
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_id"),
      s"expected user_id partition filter in scan:\n$plan")
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

  test("writeLogs: one file per user directory per call, a split document in one file") {
    implicit val s = spark
    def md5(str: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
    val big = TestText.random(4 * 1024 * 1024, seed = 23)
    val users = Seq("u1", "u2", "u3", "u4", "u5")
    val docs = mkDocs(("u1" -> big) +: users.tail.flatMap(u => Seq(u -> s"$u one", u -> s"$u two")): _*)
    val dir = Files.createTempDirectory("layout").toFile.getAbsolutePath + "/logs"
    for (call <- 1 to 2) {
      LogStore.writeLogs(LogStore.ingest(docs), dir)
      for (u <- users) {
        val files = new java.io.File(s"$dir/user_id=$u").list()
          .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
        assert(files.length == call, s"user_id=$u after call $call: ${files.toSeq}")
      }
    }
    val back = spark.read.parquet(dir)
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
      assert(plan.contains("PartitionFilters") && plan.contains("user_id"),
        s"expected user_id partition filter in scan:\n$plan")
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
