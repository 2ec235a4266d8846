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
  *   sbt "runMain graft.ExplainOps /root/testdata/sf0.001 textidx_append"
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

    // the text-index append's POSTINGS pipeline, BOTH forms side by
    // side: the round-16 shape re-derived `dl` with a doc_id-keyed
    // window over the postings (its own hash exchange + sort), the
    // round-17 shape carries `dl` from the scan's codegen'd token
    // counter through the tf groupBy (identical value by construction —
    // tokens partition exactly into terms). One exchange less per
    // ingest batch.
    show("textidx_append_postings_window_OLD") {
      import graft.functions.{TextFunctions => TF}
      import org.apache.spark.sql.expressions.Window
      val nMods = 16
      docs
        .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
        .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
        .repartitionByRange(col("tm_mod"), col("term"), col("doc_id"))
        .sortWithinPartitions(col("tm_mod"), col("term"), col("doc_id"))
    }
    show("textidx_append_postings_carried_NEW") {
      import graft.functions.{TextFunctions => TF}
      val nMods = 16
      docs
        .select(col("doc_id"),
          coalesce(TF.tokenCount(col("text")).cast("long"), lit(0L)).as("dl"),
          explode(TF.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("tm_mod", pmod(hash(col("term")), lit(nMods)).cast("int"))
        .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("tm_mod"))
        .repartitionByRange(col("tm_mod"), col("term"), col("doc_id"))
        .sortWithinPartitions(col("tm_mod"), col("term"), col("doc_id"))
    }
    show("textidx_append_postings_arraysize_NEW2") {
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

    // seedIvfStore's range-staged write, BOTH forms (round 17 change
    // §13): a range exchange SAMPLES its child to derive partition
    // bounds, so the OLD form evaluated the assignment UDF over the
    // whole corpus twice — once in the hidden sampling pass, once in
    // the shuffle map pass. The NEW form persists the assigned frame:
    // the sampling pass is the one evaluation and the shuffle reads the
    // InMemoryRelation (visible below as InMemoryTableScan replacing
    // the Project[UDF]-over-Scan subtree under the Exchange).
    // the seeding trains and writes an index, so skip it when filtered out
    val (seedOld, seedNew) = ("seedivf_range_stage_uncached_OLD", "seedivf_range_stage_cached_NEW")
    if (wanted(seedOld) || wanted(seedNew)) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val work = java.nio.file.Files.createTempDirectory("graft_explain_seed")
      val w = work.toFile.getAbsolutePath
      graft.operators.Similarity.saveIvfIndex(emb, s"$w/ivf_index", nlist = 4)
      val assigned = graft.operators.Similarity.assignStored(emb, s"$w/ivf_index")
      show(seedOld) {
        assigned
          .repartitionByRange(4, col("cell"), col("vec_id"))
          .sortWithinPartitions("cell", "vec_id")
      }
      show(seedNew) {
        val cached = assigned.persist()
        val out = cached
          .repartitionByRange(4, col("cell"), col("vec_id"))
          .sortWithinPartitions("cell", "vec_id")
        out
      }
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
    spark.stop()
  }
}
