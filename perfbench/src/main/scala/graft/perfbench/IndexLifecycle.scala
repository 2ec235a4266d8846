package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Corpus, Dedup, Maintenance, TextIndex}

/** `index_lifecycle`: appends, serves and erasures on the stored indexes.
  * Set-up seeds a BM25 text index with two batches and a MinHash band
  * index with the same documents, twice over. Each cycle then
  * appends one batch to both, serves BM25 queries, erases two documents
  * from both, runs the text index's planned maintenance (retention keeps
  * the newest two batches) and compacts the band index. Compaction runs in
  * every cycle, so every cycle does the same work whether a run fits one
  * cycle or two. The first set-up copy takes the untimed warm-up (see
  * [[Indexes.warmUp]]) and the measured window runs on the second. A traced run seeds a third copy, untimed, for its traced window.
  * Two set-up repetitions, not three, because a cycle's calls cost seconds
  * each and the runs must fit the benchmark's time budget.
  */
object IndexLifecycle {
  val BatchDocs = 300
  val SetupBatches = 2
  val SetupReps = 2
  val ServesPerCycle = 2
  val VictimsPerCycle = 2
  val TtlBatches = 2
  val MaxLiveBatches = 8
  val TopK = 10
  val MinEst = 0.5
  val Verify: Option[Double] = Some(0.7)
  val ProbeDocs = 200

  private def df(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")

  private def batch(seed: Long, b: Int): Vector[(Long, String)] =
    Gen.textBatch(seed, "lifecycle", b, BatchDocs, b.toLong * 100000L)

  /** One seeded copy of both indexes and the live sets its gates compare against. */
  private final class Indexes(ctx: Ctx, out: Outcome, dir: String) {
    private val spark = ctx.spark
    private val seed = ctx.o.seed
    val textIdx = s"$dir/text"
    val bandIdx = s"$dir/band"
    val textLive = mutable.LinkedHashMap.empty[Long, (Long, String)] // doc → (batch, text)
    val bandLive = mutable.LinkedHashMap.empty[Long, String]
    val erased = mutable.ArrayBuffer.empty[Long]
    var docsIndexed = 0L

    def seedStores(): Unit = {
      val seedBatches = (0 until SetupBatches).map(b => batch(seed, b))
      val all = df(spark, seedBatches.flatten)
      // the two indexes are independent stores, so they are seeded side by side
      import scala.concurrent.ExecutionContext.Implicits.global
      val text = Future(TextIndex.appendTextIndexBatches(
        seedBatches.zipWithIndex.map { case (d, b) => df(spark, d) -> b.toLong }, textIdx))
      val band = Future {
        Dedup.seedStreamStores(all, bandIdx, s"$dir/acc", Seq("doc_id"), n = 3, perms = 32)
        Dedup.minhashIncrementalStored(spark, bandIdx, all, batchId = 0L,
          minEstJaccard = MinEst, verifyJaccard = Verify).collect()
      }
      Await.result(text.zip(band), Duration.Inf)
      seedBatches.zipWithIndex.foreach { case (docs, b) =>
        docs.foreach { case (id, t) => textLive(id) = (b.toLong, t); bandLive(id) = t }
      }
    }

    def storeSize: (Long, Long, Long, Long) = {
      val (tf, tb) = ctx.storeSize(new File(textIdx))
      val (bf, bb) = ctx.storeSize(new File(bandIdx))
      (tf, tb, bf, bb)
    }

    /** One BM25 serve with seeded terms, gated against `Corpus.bm25TopK` over the live docs. */
    private def serve(r: scala.util.Random): Unit = {
      val terms = Seq.fill(2)(Gen.Vocab(10 + r.nextInt(190))).distinct
      val req = ctx.nextRequest()
      val got = ctx.timed(ctx.span("textindex.serve", req) {
        TextIndex.bm25TopKStored(spark, textIdx, terms, k = TopK).collect()
      }).map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val want = Corpus.bm25TopK(df(spark, textLive.toSeq.map { case (id, (_, t)) => (id, t) }),
        terms, k = TopK).collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      out.attempted += 1
      out.check(got == want, s"textindex.serve $req ${terms.mkString(",")}: got $got want $want")
    }

    /** Seeded victims: live documents of batch `b`, present in both indexes. */
    private def victimsOf(r: scala.util.Random, b: Long): Vector[Long] = {
      val live = textLive.collect { case (id, (bb, _)) if bb == b && bandLive.contains(id) => id }.toVector
      r.shuffle(live).take(VictimsPerCycle).sorted
    }

    private def deleteText(c: Int, victims: Vector[Long]): Unit = {
      val n = ctx.timed(ctx.span("textindex.delete", c) { TextIndex.deleteFromTextIndex(spark, textIdx, victims) })
      out.attempted += 1
      out.check(n == victims.length, s"textindex.delete cycle $c: erased $n of $victims")
    }

    private def maintain(c: Int, ttl: Int): Unit = {
      val plan = ctx.timed(ctx.span("maintenance.run", c) {
        Maintenance.runTextIndexMaintenance(spark, textIdx, ttl, MaxLiveBatches).collect()
      })
      out.attempted += 1
      plan.foreach { p =>
        p.getString(0) match {
          case "retain" => textLive.filterInPlace { case (_, (b, _)) => b > p.getLong(1) }
          case "compact" =>
            val upTo = p.getLong(1)
            textLive.mapValuesInPlace { case (_, (b, t)) => (if (b <= upTo) upTo else b, t) }
          case _ =>
        }
      }
      out.check(plan.nonEmpty, s"maintenance.run cycle $c: empty plan")
    }

    private def deleteBand(c: Int, victims: Vector[Long]): Unit = {
      val n = ctx.timed(ctx.span("dedup.delete", c) { Dedup.deleteFromMinhashIndex(spark, bandIdx, victims) })
      out.attempted += 1
      out.check(n == victims.length, s"dedup.delete cycle $c: erased $n of $victims")
      victims.foreach { v => textLive.remove(v); bandLive.remove(v) }
      erased ++= victims
    }

    private def compact(c: Int, upTo: Long): Unit = {
      ctx.timed(ctx.span("dedup.compact", c) { Dedup.compactIndex(spark, bandIdx, upTo = upTo) })
      out.attempted += 1
    }

    def cycle(c: Int): Unit = {
      val r = Gen.rnd(seed, "lifecycle-cycle", c.toLong)
      val docs = batch(seed, c)
      val frame = df(spark, docs)
      ctx.timed(ctx.span("textindex.append", c) { TextIndex.appendTextIndexBatch(frame, textIdx, c.toLong) })
      docs.foreach { case (id, t) => textLive(id) = (c.toLong, t) }
      docsIndexed += docs.length

      for (_ <- 0 until ServesPerCycle) serve(r)
      val victims = victimsOf(r, c - 1L)
      deleteText(c, victims)
      maintain(c, TtlBatches)

      val drops = ctx.timed(ctx.span("dedup.append", c) {
        Dedup.minhashIncrementalStored(spark, bandIdx, frame, batchId = c.toLong,
          minEstJaccard = MinEst, verifyJaccard = Verify).collect()
      })
      docs.foreach { case (id, t) => bandLive(id) = t }
      out.attempted += 1
      out.check(drops.forall(x => docs.exists(_._1 == x.getLong(0))), s"dedup.append cycle $c: drop outside the batch")

      deleteBand(c, victims)
      compact(c, c.toLong)
    }

    /** Untimed warm-up: one call of each engine function of a cycle that
      * seeding did not already run (seeding runs both appends), so none of
      * them runs for the first time in the JVM inside the window. The
      * maintenance call uses a ttl of 1 so that its retention path runs.
      * The gates count.
      */
    def warmUp(): Unit = {
      val r = Gen.rnd(seed, "lifecycle-warm-up")
      serve(r)
      val victims = victimsOf(r, SetupBatches - 1L)
      deleteText(-1, victims)
      maintain(-1, ttl = 1)
      deleteBand(-1, victims)
      compact(-1, SetupBatches - 1L)
    }
  }

  def run(ctx: Ctx, out: Outcome): Seq[Double] = {
    val copies = (0 to SetupReps).map(rep => new Indexes(ctx, out, new File(ctx.o.work, s"idx$rep").getPath))
    val setups = copies.take(SetupReps).map { ix =>
      val t0 = System.nanoTime()
      ix.seedStores()
      (System.nanoTime() - t0) / 1e9
    }
    copies.head.warmUp()
    if (ctx.tracer.isDefined) copies(SetupReps).seedStores()

    // the band index grows by a batch per cycle while the text index keeps
    // two live batches, so storage is read after the first cycle: a run of
    // one cycle and a run of two report the same state
    val (ix, firstCycleRatio) = ctx.measure { pass =>
      val ix = copies(1 + pass)
      var firstCycleRatio = 0.0
      var c = SetupBatches
      while (ctx.keepGoing) {
        ctx.unit(ix.cycle(c))
        c += 1
        val (tf, tb, bf, bb) = ix.storeSize
        ctx.storeAfterUnit += ((tf + bf, tb + bb))
        if (ctx.units.length == 1)
          firstCycleRatio = (tb + bb).toDouble / ix.textLive.values.map(_._2.length.toLong).sum
      }
      gates(ctx, out, ix.textIdx, ix.bandIdx, ix.erased.toSeq, ix.bandLive, c)
      (ix, firstCycleRatio)
    }

    val (tf, tb, bf, bb) = ix.storeSize
    out.e2e("items_per_s") = ix.docsIndexed / ctx.measuredSeconds
    out.e2e("unit_p50_ms") = Stats.median(ctx.units.map(_ * 1000).toSeq)
    out.e2e("stored_bytes_per_input_byte") = firstCycleRatio
    out.sizes ++= Seq("cycles" -> ctx.units.length, "docs_indexed" -> ix.docsIndexed,
      "batch_docs" -> BatchDocs, "text_live_docs" -> ix.textLive.size, "band_live_docs" -> ix.bandLive.size,
      "erased" -> ix.erased.length, "text_store_files" -> tf, "text_store_bytes" -> tb,
      "band_store_files" -> bf, "band_store_bytes" -> bb,
      "index_bytes_per_live_doc" -> (tb + bb).toDouble / ix.textLive.size,
      "input_md5" -> Gen.md5(batch(ctx.o.seed, 0).map(_._2).mkString("\n")))
    for (s <- Seq("textindex.append", "textindex.delete", "dedup.append", "dedup.delete"))
      out.exact(s"$s.jobs") = ctx.counter(s, "jobs").round
    out.exact("text_store_files") = tf
    out.exact("band_store_files") = bf

    if (ctx.tracer.isDefined) {
      out.layer("textindex.append_s") = Stats.median(ctx.ms("textindex.append")) / 1000
      out.layer("textindex.serve_ms") = Stats.median(ctx.ms("textindex.serve"))
      out.layer("textindex.delete_s") = Stats.median(ctx.ms("textindex.delete")) / 1000
      out.layer("maintenance.run_s") = Stats.median(ctx.ms("maintenance.run")) / 1000
      out.layer("dedup.append_s") = Stats.median(ctx.ms("dedup.append")) / 1000
      out.layer("dedup.delete_s") = Stats.median(ctx.ms("dedup.delete")) / 1000
      out.layer("dedup.compact_s") = Stats.median(ctx.ms("dedup.compact")) / 1000
    }
    setups
  }

  /** Erased documents are absent from every table that holds doc ids, and
    * a final probe of the band index equals the in-memory incremental
    * dedup over the live corpus.
    */
  private def gates(ctx: Ctx, out: Outcome, textIdx: String, bandIdx: String,
                    erased: Seq[Long], bandLive: collection.Map[Long, String], nextBatch: Int): Unit = {
    val spark = ctx.spark
    val ids = erased.map(java.lang.Long.valueOf)
    val tables = Seq(s"$textIdx/postings", s"$textIdx/docs", s"$bandIdx/bands", s"$bandIdx/sigs",
      s"$bandIdx/shingles")
    for (t <- tables) {
      val left = if (ids.isEmpty) 0L else spark.read.parquet(t).where(col("doc_id").isin(ids: _*)).count()
      out.check(left == 0, s"erasure: $left erased rows remain in $t")
    }
    val probe = Gen.textBatch(ctx.o.seed, "lifecycle-probe", 0, ProbeDocs, 90000000L) ++
      Gen.rnd(ctx.o.seed, "lifecycle-probe-dups").shuffle(bandLive.toVector).take(ProbeDocs / 10)
        .zipWithIndex.map { case ((_, t), i) => (91000000L + i, t) }
    val got = Dedup.minhashIncrementalStored(spark, bandIdx, df(spark, probe), batchId = nextBatch.toLong,
      minEstJaccard = MinEst, verifyJaccard = Verify).collect().map(_.getLong(0)).toSet
    val want = Dedup.minhashIncremental(df(spark, bandLive.toSeq), df(spark, probe),
      minEstJaccard = MinEst, verifyJaccard = Verify).collect().map(_.getLong(0)).toSet
    out.attempted += 1
    out.check(got == want && got.size >= ProbeDocs / 10,
      s"final band-index probe: stored ${got.size} drops, in-memory ${want.size}, differ by ${(got diff want) ++ (want diff got)}")
  }
}
