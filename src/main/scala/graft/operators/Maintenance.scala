package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MAINTENANCE PLANNER — the deterministic ops advisor every stored-index
  * family shares. At 100 TB nobody hand-schedules compaction and
  * retention per store: a control loop reads each store's O(batches)
  * metadata, applies the declared policy, and emits the maintenance
  * actions for the single-writer window to run. This object is that
  * loop's decision step, factored out so the policy is (a) one
  * auditable piece of arithmetic, (b) identical across families (the
  * text index, the IVF cells, the band/census/sem stores all age and
  * fold the same `batch=` way), and (c) exactly value-oracle-able —
  * the plan is a pure function of (batch ids, per-batch row counts),
  * both of which the store's stats tables record and a twin can
  * recompute from the base data.
  *
  * Policy (two rules, composed in the order the families' own docs
  * prescribe — retention decides first, compaction sees survivors):
  *
  *  1. BATCH-TTL RETENTION: with `newest = max(batch)`, the cutoff is
  *     `newest − ttlBatches`; recommend `retain(cutoff)` iff at least
  *     one batch would drop AND at least one survives (the shared
  *     core's drop-all refusal, applied at plan time instead of
  *     failing at run time).
  *  2. COMPACTION: if the surviving live-batch count exceeds
  *     `maxLiveBatches`, recommend `compact(upTo = newest − 1)` —
  *     fold everything but the newest batch (the incremental-append
  *     head stays unfolded, so a hot appender never races the fold's
  *     swap window). Composition stays conservative exactly as
  *     [[StoredTable.retainStoreBatches]]'s scaladoc requires: the
  *     recommended upTo is younger than any recommended cutoff only
  *     when retention fires too, and the runner executes retention
  *     FIRST.
  *
  * The decision inputs are O(batches) driver-side rows (the same
  * boundedness class as every stats read in the serve paths); nothing
  * corpus-sized is touched. The returned frame is a local plan table
  * `(action, param, n_batches, n_docs)`:
  *   - `action`  — 'retain' | 'compact' | 'none'
  *   - `param`   — the cutoff (retain) / upTo (compact) / −1 (none)
  *   - `n_batches` — batches the action touches
  *   - `n_docs`  — their summed per-batch doc counts (the stats
  *     invariant means this equals the base-table count over the same
  *     batches — which is what the oracle recomputes)
  */
object Maintenance {

  private val planSchema = StructType(Seq(
    StructField("action", StringType, nullable = false),
    StructField("param", LongType, nullable = false),
    StructField("n_batches", LongType, nullable = false),
    StructField("n_docs", LongType, nullable = false)))

  /** The family-agnostic decision core over `(batch, n_docs)` pairs.
    * Pure arithmetic — no I/O — so family wrappers stay one stats-read
    * thin and specs can drive it directly.
    */
  private[graft] def planFromBatchStats(
      spark: SparkSession, batchDocs: Seq[(Long, Long)],
      ttlBatches: Int, maxLiveBatches: Int): DataFrame = {
    require(ttlBatches >= 0 && maxLiveBatches >= 1,
      s"planStoreMaintenance: ttlBatches=$ttlBatches maxLiveBatches=$maxLiveBatches")
    require(batchDocs.nonEmpty, "planStoreMaintenance: empty store (no batches)")
    val byBatch = batchDocs.sortBy(_._1)
    val newest = byBatch.last._1
    val cutoff = newest - ttlBatches
    val (aged, live) = byBatch.partition(_._1 <= cutoff)
    // drop-all refusal at plan time: the shared retention core would
    // refuse anyway; a plan that schedules a guaranteed failure is wrong
    val retain =
      if (aged.nonEmpty && live.nonEmpty)
        Seq(Row("retain", cutoff, aged.length.toLong, aged.map(_._2).sum))
      else Nil
    val survivors = if (retain.nonEmpty) live else byBatch
    val foldable = survivors.filter(_._1 <= newest - 1)
    // a single-batch fold is a guaranteed no-op (the fold's output IS
    // that batch) — a plan that schedules one is wrong, same principle
    // as the plan-time drop-all refusal
    val compact =
      if (survivors.length > maxLiveBatches && foldable.length >= 2)
        Seq(Row("compact", newest - 1, foldable.length.toLong,
          foldable.map(_._2).sum))
      else Nil
    val rows = retain ++ compact
    val out = if (rows.nonEmpty) rows else Seq(Row("none", -1L, 0L, 0L))
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*), planSchema)
  }

  /** Plan maintenance for a stored TEXT INDEX ([[TextIndex]] layout):
    * the decision inputs come from the `stats/` table — one row per
    * batch `(n_docs, total_toks)`, the same O(batches) read every BM25
    * serve performs. The stats invariant (a batch's stats row equals
    * the aggregate of its docs) is what makes `n_docs` here equal the
    * base-corpus count over the same batches — the oracle's recompute.
    */
  def planTextIndexMaintenance(spark: SparkSession, idxDir: String,
                               ttlBatches: Int, maxLiveBatches: Int): DataFrame = {
    // O(batches) bounded collect — the planner's declared input size.
    // batch is a DISCOVERED partition column (int for small ids): cast.
    val batchDocs = StoredTable.readStore(spark, s"$idxDir/stats")
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    planFromBatchStats(spark, batchDocs, ttlBatches, maxLiveBatches)
  }

  /** Plan AND EXECUTE maintenance for a stored text index — the control
    * loop's full step: decide from the O(batches) stats rows, then run
    * the actions in the order the plan's composition contract requires
    * (retention FIRST, so compaction folds survivors only; both ops
    * raise the shared sentinel, so this inherits the single-writer
    * contract). Returns the executed plan (the same
    * `(action, param, n_batches, n_docs)` rows [[planTextIndexMaintenance]]
    * emits — 'none' rows execute nothing), so a scheduler can log
    * exactly what ran. Bounded collect: ≤ 2 plan rows.
    */
  def runTextIndexMaintenance(spark: SparkSession, idxDir: String,
                              ttlBatches: Int, maxLiveBatches: Int): DataFrame = {
    val plan = planTextIndexMaintenance(spark, idxDir, ttlBatches, maxLiveBatches)
    val rows = plan.collect() // ≤ 2 rows — the plan's declared size
    rows.find(_.getString(0) == "retain").foreach { r =>
      TextIndex.retainTextIndexBatches(spark, idxDir, cutoff = r.getLong(1))
    }
    rows.find(_.getString(0) == "compact").foreach { r =>
      TextIndex.compactTextIndexBatches(spark, idxDir, upTo = r.getLong(1))
    }
    plan
  }

  /** Plan maintenance for a stored IVF cell store ([[Similarity]]
    * layout): batch ids and per-batch row counts come from one
    * cell-store aggregate grouped by the `batch=` partition column —
    * partition-column-only grouping, so the scan reads no vector
    * payload bytes (column pruning leaves only the partition dirs'
    * metadata and row counts). The never-aging `batch=-1` layout seed
    * is excluded from the decision exactly as
    * [[Similarity.retainIvfStoreBatches]] excludes it from aging.
    */
  def planIvfStoreMaintenance(spark: SparkSession, workDir: String,
                              ttlBatches: Int, maxLiveBatches: Int): DataFrame = {
    val batchDocs = StoredTable.readStore(spark, s"$workDir/cells")
      .where(col("batch") =!= -1L)
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(count(lit(1)).as("n_rows"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    planFromBatchStats(spark, batchDocs, ttlBatches, maxLiveBatches)
  }
}
