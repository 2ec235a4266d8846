package graft.operators

import java.sql.Timestamp

import graft.functions.{Codec, Ulid}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The partitioned event-log store — the reference's whole API surface,
  * re-expressed Spark-first.
  *
  * Reference: `BigDataLogControl.cs` manages a Cosmos container `UserLogs`
  * partitioned by `/UserId` (`:23-24`): point writes (`:67-112`), point reads
  * (`:192-204`), a dynamic filtered query (`:206-330`), and chunk reassembly
  * (`:120-190`). Here the container is a user-bucketed Parquet table; the
  * dynamic SQL builder becomes a composed `Column` predicate that Catalyst
  * pushes into the scan; partition-key routing becomes partition pruning.
  *
  * Scale posture: like Cosmos, which hashes the logical `/UserId` key into a
  * bounded set of physical partitions, the store hashes each user into one
  * of [[UserBuckets]] `user_bucket` directories. Opening the store lists a
  * bounded number of directories on the driver, however many users it
  * holds, and [[forUser]] still prunes every user-scoped read to one
  * directory. `user_id` stays the shuffle key for reassembly, so the chunk
  * gather is one hash-partitioned aggregation — no per-document round trips.
  */
object LogStore {

  /** The LogChange schema (reference `LogChange.cs:26-73`, Spark types per
    * SURVEY.md §1.2).
    */
  case class LogChange(
      user_id: String,
      id: String,
      event_type: String,
      trigger: String,
      time_of_creation: Timestamp,
      js_time_of_creation: Long,
      zipped_log: Array[Byte],
      split_index: Int,
      total_splits: Int,
      parent_log_id: String)

  /** An incoming (pre-chunking) document. */
  case class LogDoc(
      user_id: String,
      event_type: String,
      trigger: String,
      js_time_of_creation: Long,
      payload: String)

  /** Name of the chunk-and-zip UDF in `ingest`'s plans. */
  val ChunkUdfName = "chunk_zip"

  /** One payload → its `(split_index, total_splits, zipped_log)` rows. */
  private val chunkZip = udf { (payload: String) =>
    val chunks = Chunker.adaptiveChunksZipped(payload)
    chunks.zipWithIndex.map { case ((_, zipped), i) => (i, chunks.length, zipped) }
  }.withName(ChunkUdfName)

  /** Ingest: adaptive chunking + lineage stamping + zip — the Spark form of
    * `LogChange.loadXmlFile` → `AddLogDocuments`
    * (`LogChange.cs:99-175`, `BigDataLogControl.cs:83-112`).
    *
    * One `inline(chunk_zip(payload))` generator chunks each document and
    * emits the archives the chunker's cap check already built, so every
    * chunk is zipped once. Because the UDF sits inside the `Generate`,
    * Catalyst cannot fold it into an in-memory `LocalRelation` at plan
    * time: chunking runs in the tasks, not on the driver while optimising.
    *
    * Chunk 0 keeps the parent id and a null `parent_log_id`; chunks 1+ get
    * `_split<i>` ids pointing at the parent (`LogChange.cs:87-92,145-170`).
    */
  def ingest(docs: Dataset[LogDoc]): DataFrame =
    docs
      .withColumn("parent_id",
        Ulid.compositeId(col("user_id"), col("trigger"), col("js_time_of_creation")))
      .select(col("*"),
        inline(chunkZip(col("payload"))).as(Seq("split_index", "total_splits", "zipped_log")))
      .select(
        col("user_id"),
        when(col("split_index") === 0, col("parent_id"))
          .otherwise(concat(col("parent_id"), lit("_split"), col("split_index"))).as("id"),
        col("event_type"),
        col("trigger"),
        timestamp_millis(col("js_time_of_creation")).as("time_of_creation"),
        col("js_time_of_creation"),
        col("zipped_log"),
        col("split_index"),
        col("total_splits"),
        when(col("split_index") === 0, lit(null: String))
          .otherwise(col("parent_id")).as("parent_log_id"))

  /** Sink: append the log table partitioned by user bucket — the engine's
    * form of the reference's partition-keyed container writes (R1/R2/R3).
    * [[forUser]] then prunes every user-scoped read to one directory.
    *
    * Each row goes to `user_bucket = pmod(hash(user_id), UserBuckets)`;
    * `user_id` stays an ordinary data column. Rows are repartitioned by
    * bucket and sorted by (bucket, user, creation time) within partitions,
    * so each bucket directory gets one file per call (a file costs far more
    * to create than to fill) and each user's rows sit together in it. The
    * partition count is explicit, `defaultParallelism`: with
    * `repartition(col)` alone, AQE coalesces a small batch into one serial
    * writer task.
    */
  def writeLogs(logs: DataFrame, path: String): Unit = {
    val bucket = col(BucketColumn)
    logs.withColumn(BucketColumn, userBucket(col("user_id")))
      .repartition(logs.sparkSession.sparkContext.defaultParallelism, bucket)
      .sortWithinPartitions(bucket, col("user_id"), col("js_time_of_creation"))
      .write.mode("append").partitionBy(BucketColumn).parquet(path)
  }

  /** Bucket directories of a store [[writeLogs]] writes. At most 32 keeps
    * Spark's listing of the store on the driver
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, default 32);
    * past it, every open runs a listing job with one task per directory.
    * 16 rather than 32: 32 sits on the threshold, so one stray directory
    * beside the buckets would bring the listing job back, and it splits
    * every batch into nearly twice the files. 16 rather than 8: a bucket is
    * written by one task, so 8 caps a batch's write at 8 tasks, and each
    * file a read scans holds twice the users. The log-store benchmark's
    * small stores do not separate 8, 16 and 32 (SCALING.md).
    */
  val UserBuckets = 16

  /** The partition column of a store [[writeLogs]] writes. */
  val BucketColumn = "user_bucket"

  /** A user's bucket: Spark's Murmur3 `hash` of the id, modulo [[UserBuckets]]. */
  def userBucket(userId: Column): Column = pmod(hash(userId), lit(UserBuckets))

  /** The one-user predicate every user-scoped read shares. On a store with a
    * [[BucketColumn]] it also names the user's bucket, which Catalyst folds
    * to a literal, so the scan prunes to one directory; otherwise (in-memory
    * frames, stores partitioned by `user_id`) it is the plain `user_id`
    * equality.
    */
  def forUser(logs: DataFrame, userId: String): Column =
    if (logs.columns.contains(BucketColumn))
      col(BucketColumn) === userBucket(lit(userId)) && col("user_id") === userId
    else col("user_id") === userId

  /** Ingest-telemetry metrics attached via `Dataset.observe` — rows, chunked
    * rows, compressed bytes flow out through a QueryExecutionListener (or
    * `observedMetrics` on the write's QueryExecution) with ZERO extra passes
    * over the data; the production substitute for a driver-side count()
    * audit that would re-run the pipeline.
    */
  def withIngestMetrics(logs: DataFrame): DataFrame =
    logs.observe("ingest",
      count(lit(1)).as("rows_written"),
      sum(when(col("total_splits") > 1, 1L).otherwise(0L)).as("chunked_rows"),
      sum(length(col("zipped_log")).cast("long")).as("zipped_bytes"))

  /** Point read by (partition key, id) — reference `loadDocument`
    * (`BigDataLogControl.cs:192-204`). Both predicates push down, and
    * [[forUser]] prunes the scan to one directory.
    */
  def pointLookup(logs: DataFrame, userId: String, docId: String): DataFrame =
    logs.where(forUser(logs, userId) && col("id") === docId)

  /** The dynamic filtered query — reference `getLogChangesByType`
    * (`BigDataLogControl.cs:206-330`), with its *intended* semantics (the
    * reference hard-codes the partition key and crashes on empty pages;
    * see SURVEY.md §2.1 bug notes): optional user equality, optional type
    * equality, optional half-open `[start, end)` time range, newest-first,
    * top-`limit`. Catalyst plans this as `TakeOrderedAndProject` over a
    * pushdown-pruned scan — the distributed top-k needs no global sort.
    */
  def logChangesByType(
      logs: DataFrame,
      userId: Option[String] = None,
      startMs: Option[Long] = None,
      endMs: Option[Long] = None,
      eventType: Option[String] = None,
      limit: Int = 100): DataFrame = {
    val preds = Seq(
      userId.map(forUser(logs, _)),
      eventType.map(col("event_type") === _),
      startMs.map(col("js_time_of_creation") >= _),
      endMs.map(col("js_time_of_creation") < _)) // half-open: end excluded
    val filtered = preds.flatten.foldLeft(logs)((df, p) => df.where(p))
    filtered
      .orderBy(col("js_time_of_creation").desc, col("id")) // id tiebreak for determinism
      .limit(limit)
  }

  /** Chunk reassembly — reference `GetCombinedLogChange` + `CombineSplitLogs`
    * (`BigDataLogControl.cs:120-190`, `LogChange.cs:312-342`). Gathers each
    * parent's chunks (the `id = parent OR parent_log_id = parent` shape,
    * `BigDataLogControl.cs:135`), orders by split index, concatenates the
    * unzipped payloads, and re-zips — one shuffle keyed by parent, not one
    * HTTP round trip per chunk.
    *
    * `array_sort(collect_list(struct(...)))` keeps the whole group in one
    * aggregation buffer; fine while single documents stay ≪ executor memory
    * (they do: chunks are ≤1.5 MB and docs are bounded by the source), with
    * the `Aggregator` escape hatch documented in SURVEY.md §4 otherwise.
    */
  def reassemble(logs: DataFrame): DataFrame = {
    val parentKey = coalesce(col("parent_log_id"), col("id"))
    logs
      .withColumn("parent_key", parentKey)
      .groupBy(col("user_id"), col("parent_key"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("split_index"), Codec.unzip_str(col("zipped_log")).as("chunk")))),
            x => x.getField("chunk")),
          "").as("payload"),
        max(col("total_splits")).as("total_splits"),
        min(col("js_time_of_creation")).as("js_time_of_creation"),
        min(col("event_type")).as("event_type"),
        min(col("trigger")).as("trigger"))
      .withColumn("zipped_log", Codec.zip_str(col("payload")))
      .withColumn("split_index", lit(0))
      .withColumnRenamed("parent_key", "id")
  }

  /** Typed buffer-bounded reassembly aggregator — the `Aggregator[IN,BUF,OUT]`
    * escape hatch SURVEY.md §4 specs for when `collect_list` group buffers
    * pressure executor memory: chunks fold into a single growing buffer
    * (insertion-sorted on split index) instead of materializing an
    * array-of-structs column. Register with `functions.udaf(OrderedConcat)`.
    */
  object OrderedConcat
      extends org.apache.spark.sql.expressions.Aggregator[
        (Int, String), List[(Int, String)], String] {
    // Buffer discipline: O(1) prepend per row, one sort in finish — NOT an
    // insertion-sorted list (O(n²) + stack overflow on many-chunk docs).
    // The buffer lives as a plain JVM object inside the hash aggregate
    // (TypedImperativeAggregate); the product encoder below only runs at
    // shuffle/spill boundaries and stays off Kryo, which serialized the
    // whole list per partial merge and made this 8× slower than the
    // collect_list twin.
    override def zero: List[(Int, String)] = Nil
    override def reduce(b: List[(Int, String)], a: (Int, String)): List[(Int, String)] =
      a :: b
    override def merge(x: List[(Int, String)], y: List[(Int, String)]): List[(Int, String)] =
      y reverse_::: x
    override def finish(r: List[(Int, String)]): String = {
      val arr = r.toArray
      java.util.Arrays.sort(arr, java.util.Comparator.comparingInt((p: (Int, String)) => p._1))
      val sb = new java.lang.StringBuilder
      arr.foreach(p => sb.append(p._2))
      sb.toString
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[List[(Int, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Int, String)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** Reassembly via the typed aggregator (same semantics as [[reassemble]];
    * see [[OrderedConcat]] for when to prefer it).
    */
  def reassembleAgg(logs: DataFrame): DataFrame = {
    val concatUdaf = udaf(OrderedConcat,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.STRING))
    logs
      .withColumn("parent_key", coalesce(col("parent_log_id"), col("id")))
      .groupBy(col("user_id"), col("parent_key"))
      .agg(concatUdaf(
        col("split_index"), Codec.unzip_str(col("zipped_log"))).as("payload"))
      .withColumnRenamed("parent_key", "id")
  }

  /** Reassemble a single logical document, with the reference's unsplit
    * short-circuit (`BigDataLogControl.cs:129-132`): a `total_splits == 1`
    * parent returns without the chunk gather.
    */
  def getCombined(logs: DataFrame, userId: String, parentId: String)(
      implicit spark: SparkSession): DataFrame = {
    val parent = pointLookup(logs, userId, parentId)
    // the unsplit short-circuit (`BigDataLogControl.cs:129-132`): peek the
    // parent's split count (one partition-pruned point read) and skip the
    // chunk gather entirely when the document was never split — the
    // returned plan is a pure projection, no aggregate
    val splits = parent.select(col("total_splits")).collect()
    if (splits.nonEmpty && splits.head.getInt(0) <= 1)
      parent.select(
        col("user_id"), col("id"),
        Codec.unzip_str(col("zipped_log")).as("payload"),
        col("total_splits"), col("js_time_of_creation"),
        col("event_type"), col("trigger"), col("zipped_log"),
        lit(0).as("split_index"))
    else
      reassemble(logs.where(
        forUser(logs, userId) &&
          (col("id") === parentId || col("parent_log_id") === parentId)))
  }

  /** Enum-stamp update — reference `UpdateTrigger` (`LogChange.cs:75-78`,
    * R15): restamp the trigger column on a log slice.
    */
  def updateTrigger(logs: DataFrame, trigger: String): DataFrame =
    logs.withColumn("trigger", lit(trigger))

  /** Raw-bytes file sink — reference `writeDocumentTofile`
    * (`BigDataLogControl.cs:354-361`), with the stream actually closed
    * (the reference leaks it; SURVEY.md §2.1).
    */
  def writeDocumentToFile(bytes: Array[Byte], path: String): Unit = {
    // Hadoop FileSystem, not FileOutputStream: the sink must write wherever
    // the deployment's store lives (HDFS/S3-class), with local paths going
    // through the RAW local fs so no .crc sidecar appears next to the
    // document the caller asked for
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** Oversize guard for the batch sink — the engine-side analogue of the
    * reference's HTTP-413 trap (`BigDataLogControl.cs:104-108`): rows whose
    * payload exceeds the cap are rejected *before* the write.
    */
  def oversized(logs: DataFrame): DataFrame =
    logs.where(length(col("zipped_log")) > Chunker.MaxDocBytes)
}
