package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Dedup, LogStore, NioRawLocalFileSystem, SpawnFreeLocalFileSystem, StoredTable, TextIndex}
import graft.operators.StoredTable.StoreWriter
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** Counts every `setPermission` the raw local layer receives — the calls
  * that start a `chmod` process when Hadoop has no native library.
  */
class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingLocalFileSystem.setPermissions.incrementAndGet()
    super.setPermission(p, permission)
  }
}

/** A checksummed local file system over [[CountingRawLocalFileSystem]];
  * installed by name as a session's `fs.file.impl`.
  */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

object CountingLocalFileSystem {
  val setPermissions = new AtomicLong()
}

/** The engine's local file system ([[SpawnFreeLocalFileSystem]]): it leaves
  * the same permissions and `.crc` sidecars as Hadoop's default, and every
  * store write and driver-side store file operation goes through it.
  */
class LocalStoreFsSpec extends SparkSpec {
  import spark.implicits._

  /** relative path (part-file uuids dropped) → POSIX permissions, for every
    * file and directory under `root`, the root included.
    */
  private def permissions(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val out = scala.collection.mutable.Map.empty[String, String]
    val it = Files.walk(base).iterator()
    while (it.hasNext) {
      val p = it.next()
      val rel = base.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      out(rel) = java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }
    out.toMap
  }

  private def dataFiles(root: String): Seq[java.nio.file.Path] = {
    val it = Files.walk(Paths.get(root)).iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")) out += p
    }
    out.toSeq.sorted
  }

  test("the engine's file system leaves Hadoop's permissions and .crc sidecars, " +
       "and its reads still verify checksums") {
    val tmp = Files.createTempDirectory("storefs").toString
    val frame = spark.range(0, 400, 1, 3).select(col("id"), (col("id") % 5).as("m"),
      concat(lit("row"), col("id")).as("s"))
    frame.write.partitionBy("m").parquet(s"$tmp/default")
    frame.storeWrite.partitionBy("m").parquet(s"$tmp/engine")
    val (dflt, engine) = (permissions(s"$tmp/default"), permissions(s"$tmp/engine"))
    assert(engine.keySet.count(_.startsWith("m=")) > 5, s"expected partition dirs: ${engine.keys}")
    assert(engine == dflt, s"permissions differ:\n  default: $dflt\n  engine:  $engine")
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    def rwx(p: FsPermission) =
      java.nio.file.attribute.PosixFilePermissions.toString(NioRawLocalFileSystem.posixSet(p.toShort))
    assert(engine("m=0") == rwx(FsPermission.getDirDefault.applyUMask(umask)))
    assert(engine.keys.filter(_.endsWith(".parquet")).forall(
      engine(_) == rwx(FsPermission.getFileDefault.applyUMask(umask))), engine)

    // both stores keep one .crc sidecar per data file
    for (store <- Seq("default", "engine")) {
      val files = dataFiles(s"$tmp/$store")
      assert(files.nonEmpty && files.forall(f =>
        Files.exists(f.resolveSibling(s".${f.getFileName}.crc"))), s"$store: $files")
    }

    // one flipped byte fails the checksummed read of either store
    for (store <- Seq("default", "engine")) {
      val victim = dataFiles(s"$tmp/$store").head
      val bytes = Files.readAllBytes(victim)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
      Files.write(victim, bytes)
      val fs = StoredTable.fileSystem(spark, new Path(victim.toUri))
      assert(fs.isInstanceOf[SpawnFreeLocalFileSystem])
      val in = fs.open(new Path(victim.toUri))
      try intercept[ChecksumException](in.readFully(0, new Array[Byte](bytes.length)))
      finally in.close()
    }
  }

  test("modes outside 0777 take Hadoop's own path; the nine rwx bits map one to one") {
    assert(NioRawLocalFileSystem.inProcess(Integer.parseInt("755", 8)))
    for (m <- Seq("1755", "2755", "4755"))
      assert(!NioRawLocalFileSystem.inProcess(Integer.parseInt(m, 8)), m)
    for (m <- 0 until 512) {
      val want = java.nio.file.attribute.PosixFilePermissions.fromString(
        "rwxrwxrwx".zipWithIndex.map { case (c, i) => if ((m & (1 << (8 - i))) != 0) c else '-' }.mkString)
      assert(NioRawLocalFileSystem.posixSet(m) == want, m.toOctalString)
    }
    // java.nio cannot set the sticky bit, so a sticky directory proves the
    // call reached Hadoop's chmod
    val dir = new Path(Files.createTempDirectory("sticky").toUri.toString, "d")
    val fs = StoredTable.fileSystem(spark, dir)
    assert(fs.mkdirs(dir))
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1750", 8).toShort))
    val mode = Files.getAttribute(Paths.get(dir.toUri), "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1750", 8), mode.toOctalString)
    // and a plain mode goes through java.nio to the same bits
    fs.setPermission(dir, new FsPermission(Integer.parseInt("711", 8).toShort))
    assert(java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(dir.toUri))) == "rwx--x--x")
  }

  test("the store operations never hand a permission to the session's file system") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    val tmp = Files.createTempDirectory("nospawn").toString
    val docs = (0L until 90L).map(i => (i, s"alpha beta$i gamma${i % 7} delta ${i % 3}"))
      .toDF("doc_id", "text")
    val logs = (0 until 40).map(i =>
      LogStore.LogDoc(s"u${i % 9}", "activity", "schedulechange", 1700000000000L + i, s"payload $i"))
      .toDS()
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      // the counting file system is live for a plain session write
      CountingLocalFileSystem.setPermissions.set(0)
      spark.range(3).write.parquet(s"$tmp/control")
      assert(CountingLocalFileSystem.setPermissions.get > 0,
        "a plain write did not reach the counting file system")

      CountingLocalFileSystem.setPermissions.set(0)
      LogStore.writeLogs(LogStore.ingest(logs), s"$tmp/logs")
      val text = s"$tmp/text"
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") < 45), text, 0L)
      TextIndex.appendTextIndexBatch(docs.where(col("doc_id") >= 45), text, 1L)
      assert(TextIndex.deleteFromTextIndex(spark, text, Seq(3L, 50L)) == 2L)
      val band = s"$tmp/band"
      Dedup.seedStreamStores(docs, band, s"$tmp/acc", Seq("doc_id"), n = 3, perms = 32)
      Dedup.minhashIncrementalStored(spark, band, docs.where(col("doc_id") < 45), 0L).collect()
      Dedup.minhashIncrementalStored(spark, band, docs.where(col("doc_id") >= 45), 1L).collect()
      assert(Dedup.deleteFromMinhashIndex(spark, band, Seq(3L, 50L)) == 2L)
      Dedup.compactIndex(spark, band, upTo = 1L)
      assert(CountingLocalFileSystem.setPermissions.get == 0,
        s"${CountingLocalFileSystem.setPermissions.get} setPermission call(s) reached the " +
          "session's file system — a store path that starts a chmod process")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    // the stores still answer
    assert(spark.read.parquet(s"$tmp/logs").count() == 40L)
    assert(spark.read.parquet(s"$tmp/band/sigs").where(col("doc_id").isin(3L, 50L)).isEmpty)
  }
}
