package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: dump formatted physical plans for INTERNAL operator
  * pipelines — the frames an operator stages just before a write (an
  * index append, a store fold), which never appear in a declared
  * query's returned plan. PlanAudit explains what a query RETURNS;
  * this explains what its fixtures DO, so an optimization to an
  * ingest/maintenance path has before/after plan evidence
  * (`plans/r17/…`) the returned-DF explain cannot show.
  *
  *   sbt "runMain graft.ExplainOps /root/testdata/sf0.001 textidx_append_postings"
  */
object ExplainOps {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def wanted(name: String): Boolean = names.isEmpty || names.contains(name)
    def show(name: String)(df: => DataFrame): Unit =
      if (wanted(name)) {
        println(s"==== $name ====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    val docs = Tables.documents(spark, dir)

    // the text-index append's POSTINGS pipeline: `dl` is the size of the
    // scan's token array, carried through the tf groupBy, so the append
    // needs no doc_id-keyed window (and its exchange + sort) over the
    // postings. The round-16 window form's dump is
    // plans/r17/textidx_append_postings_before.txt.
    show("textidx_append_postings") {
      import graft.functions.{TextFunctions => TF}
      val nMods = 16
      docs
        .select(col("doc_id"), TF.tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"),
          coalesce(size(col("toks")).cast("long"), lit(0L)).as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
        .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("tm_mod"))
        .repartitionByRange(col("tm_mod"), col("term"), col("doc_id"))
        .sortWithinPartitions(col("tm_mod"), col("term"), col("doc_id"))
    }

    // seedIvfStore's range-staged write: a range exchange SAMPLES its
    // child to derive partition bounds, so the assigned frame is
    // persisted — the sampling pass is the one evaluation of the
    // assignment UDF and the shuffle reads the InMemoryRelation (an
    // InMemoryTableScan under the Exchange). The uncached form, which
    // evaluated the UDF twice, is plans/r17/sim_ivf_seed_before.txt.
    // the seeding trains and writes an index, so skip it when filtered out
    val seed = "seedivf_range_stage"
    if (wanted(seed)) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val work = java.nio.file.Files.createTempDirectory("graft_explain_seed")
      val w = work.toFile.getAbsolutePath
      graft.operators.Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 4)
      val assigned = graft.operators.Similarity.assignStored(emb, s"$w/ivf_index")
      show(seed) {
        assigned.persist()
          .repartitionByRange(4, col("cell"), col("vec_id"))
          .sortWithinPartitions("cell", "vec_id")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
    spark.stop()
  }
}
