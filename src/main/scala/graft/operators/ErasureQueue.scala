package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import StoredTable.StoreWriter

/** Shared PENDING-ERASURE QUEUE — right-to-erasure coordinated with a
  * LIVE ingest stream, one implementation for every stored-index family
  * (the [[StoredTable]] / [[StoredTable.ManifestIo]] lesson applied to the queue): a
  * direct delete while the family's stream ingests is out of the
  * single-writer contract — the stream's own between-batch maintenance
  * and the external delete would race on the swap sentinel, and
  * whichever loses throws. The queue removes the race: the request
  * lands as a FILE under `<root>/.pending_erasures` (write-then-rename,
  * so a draining reader never sees a partial payload), and the stream
  * drains it at its next trigger, where it IS the single writer.
  *
  * Two request forms, matching the two victim forms of the erasure
  * core: `.req` — a driver-serialized id list (a handful of ids);
  * `.reqp` — a PARQUET DIRECTORY holding the victim table, written
  * distributed (a compliance batch of 10⁵–10⁷ ids must never funnel
  * through driver memory) and applied through the broadcast semi/anti
  * path.
  *
  * Drain contract: requests apply in name order through the family's
  * delete op and are removed ONLY after their swap completes, so a
  * crash mid-drain re-applies the request on resume (deletion is
  * idempotent — already-erased ids price to 0 victims and touch
  * nothing). A request applies to rows present at drain time — a victim
  * still in flight upstream of the ingest must be re-enqueued after it
  * lands (compliance pipelines re-issue until an audit probe comes back
  * empty; the delete op returning 0 is that audit's cheap form). On a
  * stopped stream the queue simply waits: the next run drains it before
  * processing any batch.
  */
private[graft] object ErasureQueue {

  /** Queue dir name under the store's root/work dir. */
  val DirName = ".pending_erasures"

  /** Publish a literal id-list request (`.req`). */
  def enqueueIds(spark: SparkSession, root: String, ids: Seq[Long],
                 opName: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(ids.nonEmpty, s"$opName: empty id set")
    val fs = StoredTable.fileSystem(spark, new Path(root))
    val dir = new Path(root, DirName)
    fs.mkdirs(dir)
    val name = java.util.UUID.randomUUID().toString
    val tmp = new Path(dir, s"_$name.tmp")
    val out = fs.create(tmp, false)
    try out.write(ids.distinct.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"$name.req")))
      throw new IllegalStateException(
        s"$opName: could not publish request $name under $dir")
  }

  /** Publish a bulk victim-table request (`.reqp` parquet dir). */
  def enqueueTable(spark: SparkSession, root: String, victims: DataFrame,
                   key: String, opName: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = StoredTable.fileSystem(spark, new Path(root))
    val dir = new Path(root, DirName)
    fs.mkdirs(dir)
    val name = java.util.UUID.randomUUID().toString
    val tmp = new Path(dir, s"_$name.tmp")
    victims.select(col(key).cast("long").as(key)).distinct()
      .storeWrite.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, new Path(dir, s"$name.reqp")))
      throw new IllegalStateException(
        s"$opName: could not publish bulk request $name under $dir")
  }

  /** Drain every pending request against the store via the family's
    * delete ops. Returns rows/docs erased (the delete ops' own units).
    */
  def drain(spark: SparkSession, root: String,
            applyIds: Seq[Long] => Long,
            applyTable: DataFrame => Long): Long = {
    import org.apache.hadoop.fs.Path
    val fs = StoredTable.fileSystem(spark, new Path(root))
    val dir = new Path(root, DirName)
    if (!fs.exists(dir)) return 0L
    val reqs = fs.listStatus(dir)
      .filter(s => (s.isFile && s.getPath.getName.endsWith(".req")) ||
        (s.isDirectory && s.getPath.getName.endsWith(".reqp")))
      .sortBy(_.getPath.getName)
    var erased = 0L
    reqs.foreach { st =>
      if (st.isDirectory) {
        val victims = spark.read.parquet(st.getPath.toString)
        if (!victims.isEmpty) erased += applyTable(victims)
        if (!fs.delete(st.getPath, true))
          throw new IllegalStateException(
            s"drain: applied but could not retire ${st.getPath}")
      } else {
        val in = fs.open(st.getPath)
        val ids = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).map(_.toLong).toSeq
        finally in.close()
        if (ids.nonEmpty) erased += applyIds(ids)
        if (!fs.delete(st.getPath, false))
          throw new IllegalStateException(
            s"drain: applied but could not retire ${st.getPath}")
      }
    }
    erased
  }
}
