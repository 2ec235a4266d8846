package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The store-mutation protocol every stored-index family shares — the one
  * module that knows it (the band index, the census, the semantic store
  * and the IVF store in [[Dedup]] and [[Similarity]], the BM25 tables in
  * [[TextIndex]]). Every mutation of a stored table goes the same way:
  *
  *   1. PRE-FLIGHT ([[preflight]]): refuse the leftovers of a crashed swap
  *      — the [[MaintenanceSentinel]] or the op's trash dir — BEFORE any
  *      staging, and clear the op's stale stage (data-free, safe).
  *      `fs.mkdirs` returns true on an existing dir and an HDFS rename
  *      into an existing dir NESTS the source, so retrying over stale
  *      state would record wrong (orig, aside) pairs and restore or
  *      delete the wrong partitions.
  *   2. STAGE: the op writes its replacement rows under its stage dir,
  *      the live store fully readable throughout.
  *   3. VERIFY ([[Swap.verify]]): the staged output exists, checked
  *      before the sentinel goes up — a missing stage leaves the store
  *      unchanged.
  *   4. SWAP ([[Swap.commit]], the [[recoverableSwap]]): sentinel up,
  *      originals aside into the trash, staged output promoted, sentinel
  *      down, trash deleted — restored on any failure before the last
  *      promote.
  *
  * Alongside it: the job-free store open every probe reads through
  * ([[readStore]], which refuses while a swap is in progress), the
  * copy-on-write erasure core, batch-TTL retention, batch compaction,
  * the range-clustered restage and the size target every maintenance
  * rewrite stages through ([[clusteredStage]], [[sizedSlices]]), the
  * pinned-manifest I/O every family's parameters go through
  * ([[ManifestIo]]), the writer pool the concurrent table writes share
  * ([[inParallel]]), and
  * the one way the engine reaches its files: every store write starts at
  * [[StoreWriter.storeWrite]] and every driver-side file operation takes
  * its `FileSystem` from [[fileSystem]], so local stores never start a
  * `chmod` process ([[SpawnFreeLocalFileSystem]]). Each family keeps only
  * its own table recipes.
  */
object StoredTable {

  /** Data-source options that send one write's `file:` paths through
    * [[SpawnFreeLocalFileSystem]]. Spark merges a write's options into that
    * write's Hadoop conf, so its tasks, its committer and its `_SUCCESS`
    * marker all use the class. They are set per write, not on the session:
    * the caller owns the session's conf, and a session-wide `fs.file.impl`
    * would change every other read and write the caller runs. The cache
    * is off for the write because `FileSystem.get` caches by scheme,
    * authority and user, not by conf — the session's cached
    * `LocalFileSystem` would come back otherwise.
    */
  private[graft] val storeWriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[SpawnFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.storeWrite` — the one start of every store write: `ds.write` with
    * [[storeWriteOptions]].
    */
  implicit final class StoreWriter[T](private val ds: Dataset[T]) extends AnyVal {
    def storeWrite: DataFrameWriter[T] = ds.write.options(storeWriteOptions)
  }

  /** The file system for driver-side store operations on `path`
    * (`mkdirs`, `create`, `rename`, `delete`, listings): a fresh
    * [[SpawnFreeLocalFileSystem]] over `conf` for a `file:` path (or a
    * scheme-less one under a local default file system), else the path's
    * own file system.
    */
  private[graft] def fileSystem(conf: Configuration, path: Path): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path.getFileSystem(conf)
    else {
      val fs = new SpawnFreeLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
  }

  private[graft] def fileSystem(spark: SparkSession, path: Path): FileSystem =
    fileSystem(spark.sparkContext.hadoopConfiguration, path)

  /** [[fileSystem]] under the active (else default) session's Hadoop conf,
    * with a local path on the RAW layer: no `.crc` sidecar beside a file
    * meant for other readers (a version pointer, a dumped document).
    */
  private[graft] def rawFileSystem(path: Path): FileSystem =
    fileSystem(activeHadoopConf, path) match {
      case l: LocalFileSystem => l.getRaw
      case other => other
    }

  /** The active (else default) session's Hadoop conf, or a fresh one —
    * for file operations that run without a session in hand.
    */
  private[graft] def activeHadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())

  /** Bounded, named writer pool for the per-batch concurrent store writes:
    * a micro-batch's independent outputs (accepted rows, band append, doc
    * appends) are submitted as concurrent Spark jobs so the batch pays the
    * slowest write, not the sum. A dedicated fixed pool makes that
    * parallelism a deliberate constant instead of borrowing the JVM-global
    * fork-join pool, whose width follows the machine and whose threads are
    * shared with whatever else the process runs. Daemon threads (never
    * block JVM exit), named for thread dumps.
    */
  private lazy val writerPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        new java.util.concurrent.ThreadFactory {
          private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-store-writer-${seq.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Run independent store writes concurrently on the writer pool and
    * return their results in order. Every body is waited out before the
    * first failure (in order) is rethrown, so no writer outlives the call
    * to race a retry. Bodies must not call back into this pool.
    */
  private[graft] def inParallel[T](bodies: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val running = bodies.map(b => Future(b())(writerPool))
    running.foreach(Await.ready(_, Duration.Inf))
    running.map(Await.result(_, Duration.Inf))
  }

  /** Serial driver-side listing for store reads: the two-level batch/mod
    * layout exceeds the default parallel-discovery threshold after a few
    * dozen partitions and Spark would spawn a LISTING JOB per micro-batch
    * read — pure overhead at per-batch dir counts.
    *
    * The set/restore of the session-global threshold is guarded by a lock:
    * concurrent callers sharing the session (the writer-pool futures, or
    * two queries probing different stores) could otherwise interleave
    * set/restore and leave the override active session-wide, or clobber a
    * caller's own setting. The listing happens eagerly inside
    * `read.parquet`, so the critical section covers exactly the work the
    * override exists for.
    * The open runs NO Spark job: the read carries the data schema of
    * one footer ([[storeDataSchema]], read before the lock), so Spark
    * skips its schema-inference job; partition columns still infer from
    * the directory names, so the schema equals a plain `read.parquet`'s.
    */
  private val readStoreLock = new Object
  private[graft] def readStore(s2: SparkSession, path: String): DataFrame = {
    // a maintenance swap raises this sentinel for the window in which
    // source partitions are moved aside but the replacement is not yet
    // promoted — a read in that window would silently see a truncated
    // store (missed duplicates), so refuse loudly instead
    if (swapInProgress(fileSystem(s2, new Path(path)), path))
      throw new IllegalStateException(
        s"store at $path has a maintenance swap in progress ($MaintenanceSentinel " +
          "present) — refusing to read a possibly half-swapped store; if no " +
          "maintenance job is live, a crashed swap left it: restore the " +
          "set-aside partitions and remove the sentinel")
    val reader = storeDataSchema(s2, path).fold(s2.read)(s2.read.schema)
    readStoreLock.synchronized {
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val prev = s2.conf.get(key)
      s2.conf.set(key, "8192")
      try reader.parquet(path) finally s2.conf.set(key, prev)
    }
  }

  /** The data schema `read.parquet(path)` would infer, without its job:
    * Spark's own `org.apache.spark.sql.parquet.row.metadata` footer key
    * of ONE data file, the same single-file rule Spark's inference
    * applies with `mergeSchema` off. The file is found by a `listStatus`
    * walk down the first partition directories (never a recursive
    * `listFiles`, which on the local file system starts a process per
    * file to read its permissions). `None` — the caller reads plainly —
    * when the store holds no data file or the footer has no key.
    */
  private def storeDataSchema(spark: SparkSession,
                              path: String): Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fileSystem(conf, new Path(path))
    def firstDataFile(dir: Path): Option[Path] = {
      val (files, dirs) = fs.listStatus(dir).filterNot { st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")
      }.partition(_.isFile)
      files.headOption.map(_.getPath).orElse(dirs.iterator.filter(_.getPath.getName.contains("="))
        .map(d => firstDataFile(d.getPath)).collectFirst { case Some(f) => f })
    }
    scala.util.Try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(firstDataFile(new Path(path)).get, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
      org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[org.apache.spark.sql.types.StructType]
    }.toOption
  }

  /** Name of the swap-window sentinel raised inside a store dir by the
    * maintenance ops while source partitions are aside but the replacement
    * is not yet promoted. [[readStore]] (every probe's read path) refuses
    * while it exists.
    */
  private[graft] val MaintenanceSentinel = ".compact_inprogress"

  /** Whether a swap holds the sentinel of store dir `dir` — the one
    * metadata existence check behind [[readStore]]'s refusal, retention's
    * refusal, and the streams' external-writer guards.
    */
  private[graft] def swapInProgress(fs: FileSystem, dir: String): Boolean =
    fs.exists(new Path(dir, MaintenanceSentinel))

  /** One pre-flighted store mutation: the slot (`sentinelDir`, `trash`)
    * its swap runs in. Made only by [[preflight]], so every swap has
    * refused stale leftovers before its op staged anything.
    */
  private[graft] final class Swap private[StoredTable] (
      fs: FileSystem, opName: String, sentinelDir: Path, trash: Path) {

    /** Protocol step 3: every `staged` output exists — checked before the
      * sentinel goes up, so a missing stage throws with the store unchanged.
      */
    def verify(staged: Path*): Unit =
      staged.find(p => !fs.exists(p)).foreach { p =>
        throw new IllegalStateException(
          s"$opName: staged rewrite missing under $p — store left unchanged")
      }

    /** Protocol step 4: the [[recoverableSwap]] of this slot. */
    def commit(asides: Seq[Path], promotes: Seq[(Path, Path)], cleanup: Seq[Path],
               afterPromote: () => Unit = () => ()): Unit =
      recoverableSwap(fs, opName, sentinelDir, trash, asides, promotes, cleanup, afterPromote)
  }

  /** Protocol step 1 for a swap whose sentinel lives in `sentinelDir` and
    * whose originals set aside into `trash`: throw naming the leftover if
    * either the sentinel or the trash dir exists, then delete each
    * `staleStages` dir a failed run left (data-free, safe to clear).
    */
  private[graft] def preflight(fs: FileSystem, opName: String, sentinelDir: Path,
                               trash: Path, staleStages: Path*): Swap = {
    val sentinel = new Path(sentinelDir, MaintenanceSentinel)
    for (left <- Seq(sentinel, trash) if fs.exists(left))
      throw new IllegalStateException(
        s"$opName: leftover $left from an unfinished swap at $sentinelDir — " +
          s"recover (restore the set-aside files from $trash, remove the " +
          "sentinel) before retrying")
    staleStages.foreach(fs.delete(_, true))
    new Swap(fs, opName, sentinelDir, trash)
  }

  /** [[preflight]] for a table rewritten through a stage BESIDE it: trash
    * `.<table>_<tag>_old` and stage `.<table>_<tag>_stage` in the table's
    * parent dir (dot-prefixed: invisible to partition discovery). Returns
    * the swap and its (cleared) stage.
    */
  private[graft] def preflightBeside(fs: FileSystem, table: Path, opName: String,
                                     tag: String): (Swap, Path) = {
    val stage = new Path(table.getParent, s".${table.getName}_${tag}_stage")
    (preflight(fs, opName, table,
      new Path(table.getParent, s".${table.getName}_${tag}_old"), stage), stage)
  }

  /** The RECOVERABLE CHECKED SWAP shared by every store mutation (erasure,
    * compaction, re-quantization, hot-cell split, every store family) —
    * one implementation of the protocol instead of a hand-rolled copy per
    * op (the [[ManifestIo]] lesson applied to the swap):
    *
    *   raise the [[MaintenanceSentinel]] in `sentinelDir` (exclusive
    *   create — concurrent swaps fail here; [[readStore]] — every probe's
    *   read path — refuses while it exists) → create `trash` → move each
    *   of `asides` into `trash` → promote each `(stagedSrc, dst)` →
    *   `afterPromote` (manifest bump / cache invalidation, while the
    *   store is already consistent) → drop the sentinel → delete `trash`
    *   and each `cleanup` root.
    *
    * Failure anywhere before the last promote RESTORES the original
    * store: already-promoted dsts are deleted FIRST (staged data is
    * recomputable, and on HDFS a rename into an existing dir NESTS — the
    * originals must rename into a free slot), then the moved-aside
    * originals rename back in reverse order, then trash and sentinel are
    * cleared so a retry does not fail the caller's stale-leftover check.
    * If the RESTORE ITSELF fails at any step (a promoted dst cannot be
    * deleted, or a rename-back returns false), trash and sentinel are
    * LEFT IN PLACE — the un-restored originals live only in trash, so
    * deleting it there would be permanent data loss — and the thrown
    * message names the manual-recovery path; [[readStore]] keeps
    * refusing until the operator clears the sentinel.
    * Failures AFTER the store is consistent (sentinel/cleanup deletes)
    * throw with the manual-fix path but never un-promote. Every
    * `FileSystem` boolean is checked. Ops reach it through [[Swap.commit]],
    * so the pre-flight and the staged-output check always ran first.
    */
  private[graft] def recoverableSwap(
      fs: FileSystem,
      opName: String,
      sentinelDir: Path,
      trash: Path,
      asides: Seq[Path],
      promotes: Seq[(Path, Path)],
      cleanup: Seq[Path],
      afterPromote: () => Unit = () => ()): Unit = {
    val sentinel = new Path(sentinelDir, MaintenanceSentinel)
    fs.create(sentinel, false).close() // swap window opens
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    // Restore the original store after a mid-swap failure described by
    // `failure`, then throw. Every restore step is CHECKED: if any
    // rename-back returns false, the un-restored partitions exist only
    // inside `trash`, so trash and sentinel are left in place (readStore
    // keeps refusing) and the message switches to manual recovery —
    // deleting trash at that point would be permanent store loss.
    def restoreAndThrow(failure: String): Nothing = {
      val unrestored = moved.reverse.filterNot { case (orig, aside) => fs.rename(aside, orig) }
      if (unrestored.nonEmpty)
        throw new IllegalStateException(
          s"$opName: $failure; RESTORE INCOMPLETE — rename-back failed for " +
            unrestored.map { case (orig, aside) => s"$aside -> $orig" }.mkString(", ") +
            s" — trash and sentinel left in place; restore those partitions " +
            s"manually, then remove $sentinel")
      val trashGone = fs.delete(trash, true)
      val sentGone = fs.delete(sentinel, false)
      if (!trashGone || !sentGone)
        throw new IllegalStateException(
          s"$opName: $failure — original store restored, but " +
            s"${Seq(trash.toString).filter(_ => !trashGone) ++ Seq(sentinel.toString).filter(_ => !sentGone) mkString ", "} " +
            "could not be removed; delete manually before retrying")
      throw new IllegalStateException(s"$opName: $failure — original store restored")
    }
    if (!fs.mkdirs(trash)) {
      val sentGone = fs.delete(sentinel, false)
      throw new IllegalStateException(
        s"$opName: cannot create $trash — store left unchanged" +
          (if (sentGone) "" else s"; ALSO could not remove $sentinel — remove it manually"))
    }
    // index-prefixed aside names: FILE-granular swaps (splitHotCells) set
    // aside part-files whose bare names repeat across batch= dirs (one
    // write job reuses its task file names per partition), so the bare
    // name alone would collide inside the flat trash dir
    asides.zipWithIndex.foreach { case (orig, i) =>
      val aside = new Path(trash, s"$i-${orig.getName}")
      if (!fs.rename(orig, aside))
        restoreAndThrow(s"failed to move $orig aside")
      moved += ((orig, aside))
    }
    val promoted = scala.collection.mutable.ArrayBuffer.empty[Path]
    promotes.foreach { case (src, dst) =>
      if (!fs.rename(src, dst)) {
        // free the original slots first; if a promoted dst cannot be
        // deleted, rename-back into that slot would nest on HDFS — stop
        // here with trash and sentinel intact rather than half-restore
        val undeletable = promoted.filterNot(p => fs.delete(p, true))
        if (undeletable.nonEmpty)
          throw new IllegalStateException(
            s"$opName: failed to promote $src, and already-promoted " +
              s"${undeletable.mkString(", ")} could not be deleted to free the " +
              s"original slots — trash and sentinel left in place; restore the " +
              s"partitions in $trash manually, then remove $sentinel")
        restoreAndThrow(s"failed to promote $src")
      }
      promoted += dst
    }
    afterPromote()
    if (!fs.delete(sentinel, false))
      throw new IllegalStateException(
        s"$opName: store is CONSISTENT, but the swap sentinel could not be " +
          s"removed — remove $sentinel manually")
    val undeleted = (trash +: cleanup).filter(p => fs.exists(p) && !fs.delete(p, true))
    if (undeleted.nonEmpty)
      throw new IllegalStateException(
        s"$opName: store is CONSISTENT, but set-aside leftovers could not be " +
          s"deleted — remove ${undeleted.mkString(", ")} manually")
  }

  /** The files of `store` a scan reported holding rows (`uris`, as
    * `input_file_name()` names them), sorted by path: found by
    * `listStatus` of only the partition directories (`depth` levels
    * deep) those URIs name — never a recursive `listFiles`, which on the
    * local file system starts a process per file — and matched by
    * partition path plus file name, so the scan URIs' scheme/authority
    * does not matter.
    */
  private[graft] def owningFiles(fs: FileSystem, store: Path, depth: Int,
                                 uris: Seq[String]): Seq[FileStatus] =
    uris.map(new Path(_)).groupBy(f => relDir(f.getParent, depth)).toSeq
      .flatMap { case (rel, files) =>
        val names = files.map(_.getName).toSet
        fs.listStatus(inStore(store, rel)).filter(st => names(st.getPath.getName))
      }.sortBy(_.getPath.toString)

  /** Every data file under `stage` (`depth` partition levels deep), paired
    * with its slot in the same partition directory of `store` — a
    * FILE-granular promote beside the untouched files (part-file names
    * are uuid-unique). Each target directory is created, so a partition
    * new to the live store promotes too.
    */
  private[graft] def stagedFilePromotes(fs: FileSystem, stage: Path, store: Path,
                                        depth: Int): Seq[(Path, Path)] = {
    def leaves(root: Path, lvl: Int): Seq[Path] =
      if (lvl == 0) Seq(root)
      else fs.listStatus(root).map(_.getPath).filter(_.getName.contains("=")).toSeq
        .flatMap(leaves(_, lvl - 1))
    val promotes = leaves(stage, depth).flatMap { d =>
      fs.listStatus(d).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => (f, new Path(inStore(store, relDir(d, depth)), f.getName)))
    }
    promotes.foreach { case (_, dst) => fs.mkdirs(dst.getParent) }
    promotes
  }

  /** The last `depth` path components of `dir` (its partition path). */
  private def relDir(dir: Path, depth: Int): String =
    Iterator.iterate(dir)(_.getParent).take(depth).map(_.getName).toSeq.reverse.mkString("/")

  private def inStore(store: Path, rel: String): Path =
    if (rel.isEmpty) store else new Path(store, rel)

  /** FILE-TARGETED ROW DELETION from a partitioned store — the shared
    * right-to-erasure core behind `Similarity.deleteFromIvfStore`,
    * `Dedup.deleteFromMinhashIndex`, `Dedup.deleteFromSemStore` and the
    * text index's tables: given a victim predicate, remove matching rows
    * by COPY-ON-WRITE of ONLY the files that hold any victim, at file
    * granularity through the checked swap — untouched files stay
    * byte-identical, moved bytes track victim placement rather than
    * store size.
    *
    * Mechanics: ONE job prices the request AND names the owning files
    * (a groupBy over `input_file_name()` of victim rows — bounded by the
    * store's file count); 0 victims → store untouched, no swap. The
    * owning files resolve through [[owningFiles]]. They re-read with
    * `basePath` (partition provenance preserved) and the store's schema
    * (no inference job), drop their victims, and write back MAP-ONLY:
    * each task sorts its rows on `partitionCols ++ clusterCols` and
    * writes one file per partition directory it read — no cache, no
    * range-sampling job, no shuffle, and never more files than it
    * replaces (a file larger than a scan split is the one exception:
    * each split writes its own). The swap promotes the rewritten files
    * beside the untouched ones ([[stagedFilePromotes]]). Pre-flight,
    * verify and swap as every mutation here (trash and stage beside the
    * table, tag `delete`). Returns rows deleted.
    */
  private[graft] def deleteRowsFromStore(
      spark: SparkSession,
      storeDir: String,
      opName: String,
      victimCol: Column,
      partitionCols: Seq[String],
      clusterCols: Seq[String],
      afterPromote: () => Unit = () => ()): Long =
    deleteRowsFromStoreBy(spark, storeDir, opName,
      markVictims = _.where(victimCol),
      keepSurvivors = _.where(!victimCol),
      partitionCols = partitionCols, clusterCols = clusterCols,
      afterPromote = afterPromote)

  /** BULK-victim form of the erasure core: victims arrive as a TABLE of
    * ids, not a literal list. The `Seq[Long]` entry points build a
    * literal `isin` whose expression tree is built, optimized, and
    * task-serialized per job — fine for a handful of ids, but a real
    * compliance batch is 10⁵–10⁷ ids, and the literal form stops
    * scaling around 10⁴ (plan-construction time and driver memory both
    * ∝ |ids|). Here the victim set stays a DataFrame end to end: the
    * pricing scan marks victims with a BROADCAST LEFT-SEMI join and the
    * survivor rewrite drops them with the matching LEFT-ANTI — 10⁷
    * longs broadcast as ~80 MB, well inside executor memory, and the
    * plan size is CONSTANT in |victims|. `prune` optionally conjoins a
    * partition-pruning predicate onto the victim-marking scan (e.g. the
    * did_mod prune when ids map to their own partitions); the survivor
    * side never prunes — every non-victim row of an affected file must
    * be rewritten regardless of partition.
    */
  private[graft] def deleteRowsFromStoreJoin(
      spark: SparkSession,
      storeDir: String,
      opName: String,
      victims: DataFrame,
      key: String,
      partitionCols: Seq[String],
      clusterCols: Seq[String],
      prune: Column = lit(true),
      afterPromote: () => Unit = () => ()): Long = {
    val v = victims.select(col(key)).distinct()
    deleteRowsFromStoreBy(spark, storeDir, opName,
      markVictims = df => df.where(prune).join(broadcast(v), Seq(key), "left_semi"),
      keepSurvivors = df => df.join(broadcast(v), Seq(key), "left_anti"),
      partitionCols = partitionCols, clusterCols = clusterCols,
      afterPromote = afterPromote)
  }

  /** [[preflight]] of the erasure core's swap on `storeDir` — for an op
    * that erases several tables and must refuse a leftover on ANY of them
    * before erasing the first.
    */
  private[graft] def preflightErasure(spark: SparkSession, storeDir: String,
                                      opName: String): Unit = {
    val storeP = new Path(storeDir)
    preflightBeside(fileSystem(spark, storeP),
      storeP, opName, "delete")
    ()
  }

  /** The one erasure-core implementation behind both victim forms:
    * `markVictims` filters a store read down to victim rows (pricing),
    * `keepSurvivors` filters affected-file rows down to what survives
    * (rewrite). Split out so literal-predicate and broadcast-join victim
    * semantics share every line of the pricing/rewrite/swap protocol.
    */
  private def deleteRowsFromStoreBy(
      spark: SparkSession,
      storeDir: String,
      opName: String,
      markVictims: DataFrame => DataFrame,
      keepSurvivors: DataFrame => DataFrame,
      partitionCols: Seq[String],
      clusterCols: Seq[String],
      afterPromote: () => Unit): Long = {
    val storeP = new Path(storeDir)
    val fs = fileSystem(spark, storeP)
    val (swap, stageRoot) = preflightBeside(fs, storeP, opName, "delete")
    // one job: victim count AND owning-file list (≤ store file count).
    // input_file_name() attaches BEFORE victim marking: a join-based
    // marker can bring in a second file source (a parquet victim table),
    // and the expression is only well-defined against one.
    val store = readStore(spark, storeDir)
    val perFile = markVictims(store.withColumn("_graft_file", input_file_name()))
      .groupBy(col("_graft_file").as("f")).agg(count(lit(1)).as("n"))
      .collect()
    val deleted = perFile.map(_.getLong(1)).sum
    if (deleted == 0L) return 0L
    val depth = partitionCols.length
    val affected = owningFiles(fs, storeP, depth, perFile.map(_.getString(0)).toSeq).map(_.getPath)
    require(affected.nonEmpty,
      s"$opName: victim rows reported but no owning files resolved — " +
        "store listing and scan disagree; refusing to swap")
    keepSurvivors(spark.read.schema(store.schema)
        .option("basePath", fs.makeQualified(storeP).toString)
        .parquet(affected.map(_.toString): _*))
      .sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*)
      .storeWrite.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(stageRoot.toString)
    swap.verify(stageRoot)
    swap.commit(
      asides = affected,
      promotes = stagedFilePromotes(fs, stageRoot, storeP, depth),
      cleanup = Seq(stageRoot),
      afterPromote = afterPromote)
    deleted
  }

  /** BATCH-TTL RETENTION core shared by the `batch=`-partitioned store
    * families ([[Similarity.retainIvfStoreBatches]],
    * [[Dedup.retainSemStoreBatches]], [[Dedup.retainCensusStoreBatches]],
    * and all four `TextIndex.retainTextIndexBatches` tables): drop every
    * `batch <= cutoff` partition of `storeDir` as
    * PURE METADATA ([[Layout.dropPartitions]] — no data file read,
    * planned, or rewritten; survivors byte-untouched). The `batch=-1`
    * LAYOUT SEED never ages. Refuses while a maintenance swap is in
    * progress (dropping dirs under a half-swapped store would corrupt
    * the restore path) and refuses to age out every real batch — an
    * empty store is unseedable; rebuild instead. `afterDrop` runs once
    * if anything dropped (cache invalidation). Returns dropped ids.
    */
  private[graft] def retainStoreBatches(
      spark: SparkSession,
      storeDir: String,
      opName: String,
      cutoff: Long,
      afterDrop: () => Unit = () => ()): Seq[Long] = {
    val root = new Path(storeDir)
    val fs = fileSystem(spark, root)
    if (swapInProgress(fs, storeDir))
      throw new IllegalStateException(
        s"$opName: maintenance swap in progress at $storeDir " +
          s"($MaintenanceSentinel present) — retry after it completes")
    val batches = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
    require(batches.exists(_ > cutoff),
      s"$opName: cutoff $cutoff would age out every batch of $storeDir — " +
        "an empty store is unseedable; rebuild instead")
    val dropped = Layout.dropPartitions(spark, storeDir, "batch",
      v => v != "-1" && v.toLong <= cutoff).map(_.toLong)
    if (dropped.nonEmpty) afterDrop()
    dropped
  }

  /** [[preflight]] of [[compactStore]]'s swap on `storeDir` — for an op
    * that compacts several tables and must refuse a leftover on ANY of
    * them before compacting the first.
    */
  private[graft] def preflightCompaction(spark: SparkSession, storeDir: String): Swap = {
    val storeP = new Path(storeDir)
    preflight(fileSystem(spark, storeP),
      "compactStore", storeP, new Path(storeDir, ".compact_old"))
  }

  /** Compact ONE batch-partitioned, hash-fanned-out store table — the
    * maintenance op shared by the band/doc index (`Dedup.compactIndex`),
    * census deltas and semantic cell assignments: rewrite every
    * `batch <= upTo` partition into one consolidated `batch=upTo`
    * partition under the same `modCol` fanout.
    *
    * Rewrite shape: PARALLEL and SIZE-TARGETED. Rows hash-repartition by
    * (mod, slice) — `slice` splits each mod's rows into
    * ⌈store_bytes / (nMods × targetFileBytes)⌉ pieces ([[sizedSlices]]),
    * `saltCol` being any well-distributed column of the table (doc_id /
    * vec_id / win) — so the rewrite runs one task per output file and
    * output files track `targetFileBytes` regardless of store size. The
    * target is [[TargetFileBytes]]; only specs pass a smaller one, to
    * force several slices out of a small store. A range holding no rows
    * stages nothing, so the stage then gets one schema-only file in mod 0
    * (the seed layout) — a store without a file would be unreadable.
    * The stage promotes to `batch=upTo` through the protocol above, the
    * old partitions set aside into `.compact_old` inside the store.
    */
  private[graft] def compactStore(
      spark: SparkSession,
      storeDir: String,
      modCol: String,
      saltCol: String,
      nMods: Int,
      upTo: Long,
      targetFileBytes: Long = TargetFileBytes): Unit = {
    val storeP = new Path(storeDir)
    val fs = fileSystem(spark, storeP)
    val swap = preflightCompaction(spark, storeDir)
    val olds = fs.listStatus(storeP).filter { st =>
      val name = st.getPath.getName
      name.startsWith("batch=") && name.stripPrefix("batch=").toLong <= upTo
    }
    val totalBytes = olds.map(st => fs.getContentSummary(st.getPath).getLength).sum
    val slices = sizedSlices(totalBytes, perSlice = nMods.toLong * targetFileBytes)
    val stagedP = new Path(s"$storeDir.compact_stage")
    val rows = readStore(spark, storeDir)
      .where(col("batch") <= upTo)
      .drop("batch")
    rows
      .repartition(nMods * slices, col(modCol),
        pmod(xxhash64(col(saltCol)), lit(slices)))
      .storeWrite.mode("overwrite").partitionBy(modCol).parquet(stagedP.toString)
    if (!fs.exists(stagedP) ||
        !fs.listStatus(stagedP).exists(_.getPath.getName.startsWith(s"$modCol=")))
      rows.drop(modCol).coalesce(1)
        .storeWrite.mode("overwrite").parquet(s"$stagedP/$modCol=0")
    swap.verify(stagedP)
    swap.commit(
      asides = olds.map(_.getPath).toSeq,
      promotes = Seq((stagedP, new Path(s"$storeDir/batch=$upTo"))),
      cleanup = Nil)
  }

  /** The file size every maintenance rewrite targets: 128 MiB, a
    * parquet-friendly size that keeps per-file overhead small without
    * making one task's output unwieldy.
    */
  private[graft] val TargetFileBytes: Long = 128L * 1024 * 1024

  /** THE SIZE TARGET: how many slices a rewrite of `bytes` stages so each
    * output file stays near `perSlice` bytes (default [[TargetFileBytes]];
    * a hash-fanned table passes `fanout × target`, one slice per mod):
    * ⌈bytes / perSlice⌉, but never fewer than `floor`. A rewrite whose
    * per-row work runs after the exchange (a re-assignment or relabel
    * UDF) floors at the session's parallelism, so a byte-small store
    * still spreads that work over every core.
    */
  private[graft] def sizedSlices(bytes: Long, floor: Int = 1,
                                 perSlice: Long = TargetFileBytes): Int =
    math.max(floor.toLong, (bytes + perSlice - 1) / perSlice).toInt

  /** THE RANGE-CLUSTERED RESTAGE every maintenance rewrite that clusters
    * its output stages through (the IVF seed, compaction and hot-cell
    * split, the census erasure, the text-index fold): `rows`
    * range-partitioned on `clusterBy` into `slices` ranges (Spark's
    * default count when `None`), each sorted on `clusterBy`, written in
    * overwrite mode under `partitionBy` to `out`. Clustered output lets a
    * probe skip parquet row groups by min/max stats.
    *
    * `rows` is persisted for the write and released in a `finally`: the
    * range exchange SAMPLES its child to derive the bounds, so an
    * unpersisted child runs its whole plan twice — the store scan, any
    * victim join, and any per-row UDF (cell assignment, relabel). Cached,
    * the sampling pass is the one evaluation and the shuffle reads the
    * cache. A range holding no rows still stages one schema-only file
    * (Spark's first write task always writes one when `partitionBy` is
    * empty).
    */
  private[graft] def clusteredStage(rows: DataFrame, clusterBy: Seq[String],
                                    partitionBy: Seq[String], out: String,
                                    slices: Option[Int]): Unit = {
    val cached = rows.persist()
    val keys = clusterBy.map(col)
    try slices.fold(cached.repartitionByRange(keys: _*))(cached.repartitionByRange(_, keys: _*))
      .sortWithinPartitions(keys: _*)
      .storeWrite.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(out)
    finally { cached.unpersist(); () }
  }

  /** Shared render/IO/drift core of every pinned store manifest (the
    * artifact, band-index, census and semantic manifests in [[Dedup]],
    * the text-index manifest in [[TextIndex]]) — one contract, one
    * one-screen instantiation per family: build params render to a
    * canonical ordered JSON line pinned next to the store; every consumer
    * re-renders its own params and THROWS on any byte difference, so a
    * store/consumer parameter mismatch fails loudly instead of returning
    * silently wrong candidate sets. I/O goes through the store path's
    * Hadoop `FileSystem` ([[fileSystem]]) — the same resolution the
    * store's parquet writers use — so a store rooted on HDFS/S3 carries
    * its manifest WITH the data rather than stranding it on the driver's
    * local disk.
    */
  private[graft] final class ManifestIo(kind: String, fileName: String) {
    private def hconf = SparkSession.active.sparkContext.hadoopConfiguration
    private def path(root: String) = new Path(root, fileName)
    def render(fields: (String, Any)*): String =
      fields.map {
        // escape backslash/quote (and bare control chars) so a string
        // param can never render a malformed line that then fails every
        // consumer's byte-equality check with an unreadable diff
        case (k, v: String) =>
          val esc = v.flatMap {
            case '"'           => "\\\""
            case '\\'          => "\\\\"
            case c if c < ' '  => f"\\u${c.toInt}%04x"
            case c             => c.toString
          }
          s""""$k":"$esc""""
        case (k, v)         => s""""$k":$v"""
      }.mkString("{", ",", "}")
    def exists(root: String): Boolean = {
      val p = path(root); fileSystem(hconf, p).exists(p)
    }
    def write(root: String, json: String): Unit = {
      val p = path(root)
      val out = fileSystem(hconf, p).create(p, true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def read(root: String): String = {
      val p = path(root)
      val fs = fileSystem(hconf, p)
      if (!fs.exists(p))
        throw new IllegalStateException(
          s"$kind at $root has no manifest — refusing to read an unverifiable store")
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
    }
    /** Assert the consumer's rendered params against the pinned manifest. */
    def check(root: String, want: String): Unit = {
      val found = read(root)
      if (found != want)
        throw new IllegalStateException(
          s"$kind parameter drift at $root:\n  store:    $found\n  consumer: $want")
    }
    /** Parse one integer field out of the pinned manifest — for store
      * properties a consumer READS rather than declares (`nmods`,
      * the evolving `nlist`).
      */
    def intField(root: String, key: String): Int =
      ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(read(root)).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"malformed $kind manifest at $root: ${read(root)}"))
    /** Like [[intField]] but with a default — for fields ADDED after
      * stores already existed (absence means the pre-field behavior, so
      * old manifests stay verifiable without migration).
      */
    def intFieldOr(root: String, key: String, default: Int): Int =
      ("\"" + key + "\":(-?\\d+)").r.findFirstMatchIn(read(root)).map(_.group(1).toInt)
        .getOrElse(default)
  }
}
