package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import StoredTable.StoreWriter

/** Physical-layout utilities: the knobs that decide whether a 100 TB job
  * shuffles.
  *
  * - Salted aggregation: a two-phase aggregate for skewed keys. Phase 1
  *   groups by (key, salt) so a hot key's rows spread over `salts`
  *   reducers; phase 2 combines the partials per key. The classic fix when
  *   one key holds 30% of the data and AQE's skew handling can't apply
  *   (aggregations, unlike joins, get no runtime skew split).
  *
  * - Bucketed tables: pre-shuffled on-disk layout. Two tables bucketed by
  *   the same key into the same bucket count join WITHOUT an exchange —
  *   the co-located join the reference's partition-key routing approximates
  *   (`BigDataLogControl.cs:23-24`), generalized to any key.
  */
object Layout {

  /** Two-phase salted sum/count aggregate of `valueCol` by `key`.
    * Result schema: key, n, total — identical to the direct
    * `groupBy(key).agg(count, sum)`, but skew-immune by construction.
    *
    * When this is actually needed (measured on a 98%-one-key skewed join, snapshot in
    * docs/PLANS.md "Skew handling"): NOT for batch algebraic aggregates —
    * map-side partial aggregation already collapses a hot key to one row
    * per map task, so plain and salted time identically. The salt is the
    * fix where that rescue is absent: streaming aggregation (AQE and its
    * runtime stats are disabled in streaming; state-store partitions are
    * fixed at first start), and two-phase shapes whose phase-1 output must
    * stay bounded. Skewed batch JOINs need neither — AQE's skew split
    * handles them at runtime (same snapshot).
    */
  def saltedAgg(df: DataFrame, key: Column, valueCol: Column, salts: Int = 16): DataFrame = {
    val salted = df
      .withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("pn"), sum(valueCol.cast("decimal(18,2)")).as("pt"))
    salted
      .groupBy(col("key"))
      .agg(sum(col("pn")).as("n"), sum(col("pt")).cast("double").as("total"))
  }

  /** Write a DataFrame as a bucketed+sorted managed table. Joins between
    * tables bucketed by the same key/count skip the shuffle entirely.
    *
    * Idempotent across JVMs: a fresh in-memory catalog doesn't know about a
    * previous session's table, but its warehouse directory survives on disk
    * and `saveAsTable` then fails with LOCATION_ALREADY_EXISTS — so both the
    * catalog entry and any stale location are cleared first.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketKey: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whPath = (try Option(new java.net.URI(wh).getPath) catch { case _: Exception => None })
      .getOrElse(wh)
    // Spark lowercases managed-table directory names; assumes the default
    // database (a non-default db's tables live under <db>.db/ and aren't
    // handled here)
    deleteRecursively(new java.io.File(whPath, table.toLowerCase))
    // a catalog table, not a store: `saveAsTable` keeps a write's options
    // as the table's storage properties, so `storeWrite` would pin the
    // engine's file-system class into the catalog and every later read
    df.write
      .mode("overwrite")
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .format("parquet")
      .saveAsTable(table)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Read a bucketed table back. */
  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Compact a directory of (typically many small) parquet files into
    * ~`targetBytes`-sized files — the periodic maintenance op every
    * streaming/file sink needs, since each micro-batch or task leaves its
    * own part file and a 100 TB table of 1 MB files spends more time in
    * footer reads and task scheduling than in data. `coalesce` (narrow
    * dependency, no shuffle) merges existing partitions; content is
    * untouched. Returns the output file count.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): Int = {
    val fs = StoredTable.fileSystem(spark, new org.apache.hadoop.fs.Path(inPath))
    val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nOut = StoredTable.sizedSlices(totalBytes, perSlice = targetBytes)
    spark.read.parquet(inPath).coalesce(nOut)
      .storeWrite.mode("overwrite").parquet(outPath)
    nOut
  }

  /** SCD-1 upsert (MERGE): apply a change set to a base table. `changes`
    * carries full replacement rows plus a boolean `deleteCol`; change keys
    * must be unique. Untouched base rows survive via a LEFT ANTI join on
    * the key, then non-delete change rows union in — inserts, updates, and
    * deletes in one pass. Scale shape: a CDC batch is small relative to
    * the base, so the anti join broadcasts the key set and the base table
    * NEVER shuffles; the rewrite cost is the scan + write, which is the
    * floor for any merge without a deletion-vector format.
    */
  def upsert(base: DataFrame, changes: DataFrame, keyCol: String,
             deleteCol: String = "_deleted"): DataFrame = {
    val keep = base.join(
      broadcast(changes.select(col(keyCol))), Seq(keyCol), "left_anti")
    keep.unionByName(changes.where(!col(deleteCol)).drop(deleteCol))
  }

  /** SCD-2 upsert (history-preserving MERGE): where SCD-1 (`upsert`)
    * overwrites, SCD-2 keeps every prior version as a closed row. `base`
    * carries `versionCol`/`currentCol` bookkeeping columns; `changes`
    * carries replacement attribute rows (no bookkeeping, change keys
    * unique). For each changed key the existing current row flips
    * `currentCol` to false and a new row appends with version
    * `max(version)+1`; unknown keys insert at version 1. Same scale shape
    * as SCD-1: the change set is the small CDC side, so both the close and
    * the version lookup are broadcast joins and the base NEVER shuffles —
    * plus one tiny per-key max-version aggregate over changed keys only.
    */
  def scd2Upsert(base: DataFrame, changes: DataFrame, keyCol: String,
                 versionCol: String = "version",
                 currentCol: String = "is_current"): DataFrame = {
    val changeKeys = changes.select(col(keyCol))
    // rows whose key is being replaced flip to non-current; the rest pass through
    val flipped = base
      .join(broadcast(changeKeys), Seq(keyCol), "left_semi")
      .withColumn(currentCol, lit(false))
    val untouched = base.join(broadcast(changeKeys), Seq(keyCol), "left_anti")
    // next version per changed key = max existing + 1 (1 for brand-new keys);
    // the agg runs on the semi-joined slice, i.e. |changes| rows, not |base|
    val nextVersion = base
      .join(broadcast(changeKeys), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol))
      .agg(max(col(versionCol)).as("__maxv"))
    val appended = changes
      .join(broadcast(nextVersion), Seq(keyCol), "left")
      .withColumn(versionCol, coalesce(col("__maxv") + 1, lit(1L)))
      .withColumn(currentCol, lit(true))
      .drop("__maxv")
    untouched.unionByName(flipped).unionByName(appended.select(untouched.columns.map(col).toIndexedSeq: _*))
  }

  /** Morton/z-value of two numeric columns, each min-max scaled to `bits`
    * bits and bit-interleaved — rows close in BOTH dimensions get close
    * z-values. Static expression tree of native bitwise ops (codegen'd,
    * no UDF): 2·bits OR-terms.
    */
  private def scaledCol(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val span = math.max(1L, hi - lo)
    val top = (1L << bits) - 1
    least(lit(top), greatest(lit(0L),
      ((c.cast("long") - lit(lo)) * lit(top) / lit(span)).cast("long")))
  }

  def zValue(a: Column, aMin: Long, aMax: Long,
             b: Column, bMin: Long, bMax: Long, bits: Int = 16): Column = {
    val sa = scaledCol(a, aMin, aMax, bits)
    val sb = scaledCol(b, bMin, bMax, bits)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Hilbert-curve index of the scaled (a, b) pair — the classic xy→d
    * rotation walk (public-domain algorithm, cf. Wikipedia "Hilbert
    * curve"). Unlike Morton/z-order, the Hilbert curve has no long
    * diagonal jumps, so consecutive curve positions are always spatially
    * adjacent — file z-ranges cover tighter boxes and 2-D range predicates
    * intersect fewer files (this is why Delta's OPTIMIZE offers Hilbert
    * over Z). JVM UDF by design: it is the WRITE path's clustering key,
    * computed once per row at rewrite time, never in a read plan.
    */
  def hilbertValue(a: Column, aMin: Long, aMax: Long,
                   b: Column, bMin: Long, bMax: Long, bits: Int = 16): Column = {
    val n = 1L << bits
    val xy2d = udf { (x0: Long, y0: Long) =>
      var x = x0; var y = y0; var d = 0L
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    xy2d(scaledCol(a, aMin, aMax, bits), scaledCol(b, bMin, bMax, bits))
  }

  /** [[zorderWrite]] with the Hilbert key: range-partition + sort on the
    * Hilbert index, drop the helper column. Same rewrite cost, strictly
    * better expected box locality.
    */
  def hilbertWrite(df: DataFrame, colA: String, colB: String,
                   path: String, nFiles: Int): Unit = {
    val r = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    val h = hilbertValue(col(colA), r.getLong(0), r.getLong(1),
                         col(colB), r.getLong(2), r.getLong(3))
    df.withColumn("__h", h)
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .storeWrite.mode("overwrite").parquet(path)
  }

  /** Write `df` clustered on ONE column into `nFiles` parquet files:
    * range-partition + sort within partitions, so each file covers a
    * disjoint, compact range of the column. The workhorse production
    * layout — a time-series table clustered on its timestamp serves every
    * time-range query from footer min/max stats, skipping the files whose
    * range can't match. The 1-D sibling of [[zorderWrite]] (which trades
    * per-dimension precision for TWO range dimensions): for a single
    * dominant predicate column, plain range clustering prunes strictly
    * better. Cost: the one range shuffle any layout rewrite pays.
    */
  def clusteredWrite(df: DataFrame, clusterCol: String,
                     path: String, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))
      .storeWrite.mode("overwrite").parquet(path)

  /** Write `df` z-ordered by two numeric columns into `nFiles` parquet
    * files: range-partition on the z-value, sort within partitions, drop
    * the helper column. Each output file then covers a compact z-range —
    * a 2-D box predicate intersects the (min,max) column stats of only a
    * few files, so parquet footer pruning skips the rest. This is the
    * multi-dimensional complement to `writeBucketed` (join co-location)
    * and partitioned layout (equality pruning): clustering for RANGE
    * predicates on two columns at once, where a single-column sort can
    * only serve one of them. The min/max scan is one tiny agg job at
    * write time; the write itself is the one range shuffle a layout
    * rewrite inherently costs.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String,
                  path: String, nFiles: Int): Unit = {
    val r = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    val z = zValue(col(colA), r.getLong(0), r.getLong(1),
                   col(colB), r.getLong(2), r.getLong(3))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .storeWrite.mode("overwrite").parquet(path)
  }

  /** Atomic-commit protocol for the immutable-version sink layout
    * (`v0, v1, …` directories as written by the streaming upsert's MERGE
    * sink). A version is COMMITTED only once the `_LATEST` pointer file
    * names it; the write path stages the directory under a temp name,
    * renames it into place, then swaps the pointer — both renames are
    * single-filesystem-op atomic, so a reader can never list a
    * half-written version as current. This is the manifest-pointer commit
    * every lakehouse format ends up with (Delta's `_last_checkpoint`,
    * Iceberg's `version-hint.text`): at 100 TB with concurrent readers,
    * directory listing alone races the writer.
    */
  private[graft] val PointerFile = "_LATEST"

  /** Object-store-safe commit log: `_manifest/<20-digit version>.commit`,
    * one immutable entry per committed version, never rewritten. The
    * `_LATEST` rename swap is atomic on POSIX/HDFS but NOT on S3-class
    * stores (rename there is copy+delete, and a reader can observe the
    * gap); a single-key PUT of a NEW object, however, is atomic and
    * immediately list-visible on every major object store. So the
    * manifest variant commits by creating one new file — the Iceberg
    * metadata-log shape — and readers recover the current version as the
    * max manifest entry (zero-padded names make lexicographic listing =
    * numeric order). Entries are O(commits): metadata-scale, bounded by
    * [[vacuumVersions]] retention.
    */
  private[graft] val ManifestDir = "_manifest"

  // ---- version-store filesystem layer --------------------------------------
  // All version/manifest/pointer/vacuum file ops go through the Hadoop
  // FileSystem API, so the commit protocol actually runs against HDFS/S3-
  // class stores (the 100 TB deployment path), not just java.io.File.
  // Local paths resolve to the RAW local filesystem (StoredTable.rawFileSystem):
  // the checksummed LocalFileSystem wrapper would strew .crc sidecars through
  // version and manifest directories that listing-based recovery (and any
  // external reader) would then have to know to skip.

  private def listNames(dir: org.apache.hadoop.fs.Path,
      dirsOnly: Boolean = false): Array[String] = {
    val f = StoredTable.rawFileSystem(dir)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir)
      .filter(st => !dirsOnly || st.isDirectory)
      .map(_.getPath.getName)
  }

  private def writeSmallFile(p: org.apache.hadoop.fs.Path, content: String,
      overwrite: Boolean): Unit = {
    val out = StoredTable.rawFileSystem(p).create(p, overwrite)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def manifestEntries(root: String): Array[Long] =
    listNames(new org.apache.hadoop.fs.Path(root, ManifestDir))
      .filter(n => n.endsWith(".commit") && n.length == 27 &&
        n.dropRight(7).forall(_.isDigit))
      .map(_.dropRight(7).toLong)

  /** Highest committed version: the manifest log wins when present, else
    * the legacy `_LATEST` pointer; `None` for a target predating both
    * (readers then fall back to directory listing).
    */
  def committedVersion(root: String): Option[Long] = {
    val fromManifest = manifestEntries(root)
    if (fromManifest.nonEmpty) Some(fromManifest.max)
    else {
      val p = new org.apache.hadoop.fs.Path(root, PointerFile)
      val f = StoredTable.rawFileSystem(p)
      if (!f.exists(p) || f.getFileStatus(p).isDirectory) None
      else scala.util.Try {
        val len = f.getFileStatus(p).getLen.toInt
        val in = f.open(p)
        val bytes = new Array[Byte](len)
        try in.readFully(bytes) finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      }.toOption
    }
  }

  /** Atomically publish `stagedDir` as version `version` under `root`:
    * rename the staged directory to `v<version>` (a replayed batch deletes
    * and replaces ITS OWN version first — idempotent by construction),
    * then swap the `_LATEST` pointer via write-temp + atomic rename.
    * Crash between the two renames leaves a dangling uncommitted `v<N>`
    * that the pointer never names and the replay overwrites.
    */
  def commitVersion(root: String, version: Long, stagedDir: java.io.File): Unit =
    commitVersion(root, version, stagedDir.getAbsolutePath)

  def commitVersion(root: String, version: Long, stagedDir: String): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = StoredTable.rawFileSystem(rootP)
    val dst = new org.apache.hadoop.fs.Path(rootP, s"v$version")
    if (f.exists(dst)) f.delete(dst, true)
    // single-namespace-op rename on HDFS-class stores; on an object store
    // the staged "directory" is a key prefix and this is the one copying
    // step — which is why the COMMIT signal below never depends on it
    // being atomic
    if (!f.rename(new org.apache.hadoop.fs.Path(stagedDir), dst))
      sys.error(s"commitVersion: rename $stagedDir -> $dst failed")
    // commit marker #1: append-only manifest entry — the object-store-safe
    // signal (one create-new of an immutable object; no rename anywhere on
    // the commit path). A replayed batch finds its entry already present:
    // that's the idempotent re-commit of the same version, not an error.
    val mdir = new org.apache.hadoop.fs.Path(rootP, ManifestDir)
    f.mkdirs(mdir)
    val entry = new org.apache.hadoop.fs.Path(mdir, f"$version%020d.commit")
    if (!f.exists(entry))
      try writeSmallFile(entry, version.toString, overwrite = false)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    // commit marker #2: the legacy `_LATEST` pointer (write-temp + atomic
    // overwrite-rename via FileContext), kept for pre-manifest readers; on
    // POSIX/HDFS it is exactly as safe, on object stores the manifest above
    // is the one that holds — so a store with no AbstractFileSystem binding
    // (FileContext unsupported) degrades to delete+rename without weakening
    // the commit.
    val tmp = new org.apache.hadoop.fs.Path(rootP, PointerFile + ".tmp")
    val dstPtr = new org.apache.hadoop.fs.Path(rootP, PointerFile)
    writeSmallFile(tmp, version.toString, overwrite = true)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, StoredTable.activeHadoopConf)
      fc.rename(tmp, dstPtr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (f.exists(dstPtr)) f.delete(dstPtr, false)
        if (!f.rename(tmp, dstPtr))
          sys.error(s"commitVersion: pointer swap $tmp -> $dstPtr failed")
    }
  }

  /** Version numbers present under `root`, newest first. */
  private[graft] def listVersions(root: String): Array[Long] =
    listNames(new org.apache.hadoop.fs.Path(root), dirsOnly = true)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.length > 1)
      .map(_.drop(1).toLong)
      .sorted(Ordering[Long].reverse)

  /** The MERGE-sink stream's last checkpoint-committed batch, if a
    * checkpoint exists under the target (`<root>/_chk/commits/<id>`).
    */
  private def lastCheckpointedBatch(root: String): Option[Long] =
    listNames(new org.apache.hadoop.fs.Path(s"$root/_chk", "commits"))
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .sorted(Ordering[Long].reverse)
      .headOption

  /** Version-retention vacuum for the immutable-version sink layout:
    * delete every committed version older than the newest `keep`,
    * returning the number removed. The retention half of the maintenance
    * triad (compact = file count, partition overwrite = partition-scoped
    * rewrite, vacuum = history). Driver-side filesystem walk by design:
    * versions are O(runs), metadata-scale — never data-scale — and the
    * listing is one directory read. Readers of the LATEST version are
    * unaffected; time travel to vacuumed versions is deliberately
    * surrendered, which is the entire point of retention.
    *
    * Two safety rails beyond the count:
    *  - only POINTER-COMMITTED versions are vacuum candidates; a dangling
    *    uncommitted directory (crash between the two commit renames) is
    *    left for its replaying batch to overwrite.
    *  - replay guard: the stream's checkpoint can trail the pointer by one
    *    batch (crash after `commitVersion` but before the checkpoint
    *    commit). The replayed batch B = lastCheckpointedBatch+1 rebuilds
    *    from `latestVersion(below = B)`, so the newest version ≤
    *    lastCheckpointedBatch survives regardless of `keep` — without it,
    *    a keep=1 vacuum in that window would silently erase all prior
    *    totals from the rebuilt version.
    */
  def vacuumVersions(root: String, keep: Int = 1): Int = {
    require(keep >= 1, "must keep at least the latest version")
    val all = listVersions(root)
    val ceiling = committedVersion(root)
    val committed = all.filter(v => ceiling.forall(v <= _))
    val protectForReplay = lastCheckpointedBatch(root)
      .flatMap(c => committed.find(_ <= c))
    val stale = committed.drop(keep).filterNot(v => protectForReplay.contains(v))
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = StoredTable.rawFileSystem(rootP)
    stale.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(rootP, s"v$v"), true)
      // retire the version's manifest entry with it: the log stays
      // O(retained versions), and a time-travel read of a vacuumed version
      // fails at the manifest (clean) instead of at a missing directory
      f.delete(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(rootP, ManifestDir), f"$v%020d.commit"), false)
    }
    stale.length
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `update`, leaving every other partition's files byte-untouched. This
    * is the lake maintenance primitive behind partition-scoped rewrites —
    * late-data backfill, GDPR erasure of one day/tenant, compaction of a
    * hot partition — where a plain `mode("overwrite")` would delete the
    * whole table and rewriting 100 TB to touch 100 GB is not an option.
    *
    * Scale shape: cost is O(rows in the touched partitions) — the write
    * job plans only `update`'s rows, and commit replaces just the matching
    * partition directories. Untouched partitions are never read, planned,
    * or listed beyond the final commit's directory swap.
    */
  def overwritePartitions(update: DataFrame, dir: String,
                          partitionCol: String): Unit = {
    val spark = update.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try update.storeWrite.mode("overwrite").partitionBy(partitionCol).parquet(dir)
    finally spark.conf.set(key, prev)
  }

  /** Partition RETENTION — the TTL/archival primitive: drop every
    * partition of a `partitionCol`-partitioned table whose (decoded)
    * partition value `expire` accepts, as a PURE METADATA operation — no
    * data file is ever read, planned, or rewritten; surviving partitions
    * are byte-untouched. This is how a lake ages out data ("retain 90
    * days"): at 100 TB a retention pass that scans or rewrites anything
    * is already wrong — cost must be O(dropped partition dirs).
    *
    * The predicate sees the partition STRING value (directory-encoded,
    * Hive-unescaped `__HIVE_DEFAULT_PARTITION__` excluded — a null
    * partition is never age-droppable by value). Returns the dropped
    * partition values.
    */
  def dropPartitions(spark: org.apache.spark.sql.SparkSession, dir: String,
                     partitionCol: String, expire: String => Boolean): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = StoredTable.fileSystem(spark, root)
    val prefix = s"$partitionCol="
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(prefix)) {
        val value = unescapePathName(name.stripPrefix(prefix))
        if (value != "__HIVE_DEFAULT_PARTITION__" && expire(value)) {
          if (!fs.delete(st.getPath, true))
            throw new IllegalStateException(
              s"dropPartitions: could not delete ${st.getPath} — table left " +
                "with the partitions dropped so far; re-run to resume")
          dropped += value
        }
      }
    }
    dropped.toSeq.sorted
  }

  /** Inverse of the Hive/Spark partition-path escaping (the writer escapes
    * reserved chars as `%XX`): decode ONLY well-formed `%XX` sequences and
    * pass everything else through verbatim. `URLDecoder` is NOT that
    * inverse — it turns a literal `+` (never escaped on write) into a
    * space and throws on a stray `%` from a foreign writer; on a
    * destructive drop a mis-decoded value is fed to the expire predicate,
    * so a partition could be wrongly dropped or retained. Mirrors Spark's
    * `ExternalCatalogUtils.unescapePathName` (public behavior).
    */
  private[graft] def unescapePathName(path: String): String = {
    val sb = new StringBuilder(path.length)
    var i = 0
    while (i < path.length) {
      val c = path.charAt(i)
      if (c == '%' && i + 2 < path.length &&
          isHex(path.charAt(i + 1)) && isHex(path.charAt(i + 2))) {
        sb.append(Integer.parseInt(path.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
}
