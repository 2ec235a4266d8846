package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorOps

/** Dev tool: per-phase wall-clock attribution for the heavyweight
  * lifecycle fixtures — the inside-the-query complement of Profile
  * (which times whole queries). Phases mirror the fixture code exactly;
  * numbers guide optimization, nothing here feeds the bench record.
  *
  * Round-17 findings recorded from this probe (sf0.1, local[32]):
  * q_sim_ivf_hier's cost was seed-dominated — the assignment UDF ran
  * twice under the range write (sampling pass + shuffle pass) and the
  * assigner itself spent most of each row on pointer-chasing the 8k
  * scattered centroid rows; the flattened early-exit assigner plus the
  * persisted seed cut seed 9.3 → 4.2 s and the bare function 150 → 88
  * µs/row with bit-identical assignments (same sink checksum).
  *
  *   sbt "runMain graft.PhaseProbe [sfDir]"
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-36s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // ---- q_sim_ivf_hier, phase by phase (fixture copied verbatim) ----
    val factor = 256
    val tmpFix = java.nio.file.Files.createTempDirectory("graft_probe_emb")
    val in = tmpFix.toFile.getAbsolutePath + "/corpus"
    t("fixture: expand+write 256x") {
      val expanded = s.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"), col("label"),
          explode(sequence(lit(0), lit(factor - 1))).as("copy"))
        .select((col("vec_id") * factor + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (x, j) => (x.cast("double") +
                (pmod(xxhash64(col("vec_id"), col("copy"), j), lit(1001))
                  .cast("double") / lit(1000.0) - lit(0.5)) * lit(0.2))
                .cast("float"))).as("embedding"),
          col("label"))
      expanded.repartition(32).write.mode("overwrite").parquet(in)
    }

    (0 until 2).foreach { rep =>
      println(s"== rep $rep ==")
      val work = java.nio.file.Files.createTempDirectory("graft_probe_hier")
      val w = work.toFile.getAbsolutePath
      val expanded = s.read.parquet(in)
      t("train: hierarchical 8192") {
        Similarity.trainIvfIndexHierarchical(
          expanded, s"$w/ivf_index", nlist = 8192, oversample = 10)
      }
      val cents = t("  seed/loadIvfIndex") {
        Similarity.loadIvfIndex(s, s"$w/ivf_index")
      }
      val assigner = t("  seed/build assigner (driver)") {
        Similarity.nearestCellAssigner(cents)
      }
      t("  seed/assign-only noop") {
        val assignUdf = udf((v: Seq[Float]) => assigner(v))
        expanded.withColumn("cell", assignUdf(col("embedding")))
          .write.mode("overwrite").format("noop").save()
      }
      t("seed: cell-clustered store") {
        Similarity.seedIvfStore(expanded, w)
      }
      locally {
        val sample = expanded.limit(20000)
          .select("embedding").collect()
          .map(_.getSeq[Float](0))
        var sink = 0
        sample.take(2000).foreach(v => sink += assigner(v))
        val t0 = System.nanoTime()
        sample.foreach(v => sink += assigner(v))
        val dt = (System.nanoTime() - t0) / 1e3 / sample.length
        println(f"[phase]   assigner driver loop: $dt%.1f us/row (sink=$sink)")
      }
      val stored = t("readStore") {
        graft.operators.StoredTable.readStore(s, s"$w/cells").drop("batch")
      }
      val nlistTrained = t("loadIvfIndex") {
        Similarity.loadIvfIndex(s, s"$w/ivf_index").length
      }
      val probes = expanded.where(col("vec_id").isin(0L, 256L))
      val approx = Similarity.ivfProbeSetTopKStored(
        stored, s"$w/ivf_index", probes, k = 10, nprobe = 32)
      val p = probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))
      import org.apache.spark.sql.expressions.Window
      val byProbe = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      val truth = expanded.crossJoin(broadcast(p))
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine",
          round(VectorOps.cosine(col("embedding"), col("probe_emb")), 4))
        .withColumn("rk", row_number().over(byProbe))
        .where(col("rk") <= 10)
        .select("probe_id", "vec_id")
      val gate = truth.join(approx.select("probe_id", "vec_id"),
          Seq("probe_id", "vec_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as("n_common"))
        .select(col("probe_id"),
          lit(nlistTrained == 8192).as("nlist_ok"),
          (col("n_common") >= 8).as("recall_ok"))
        .orderBy("probe_id")
      t("gate: probe+truth+semi-join") {
        gate.write.mode("overwrite").format("noop").save()
      }
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmpFix.toFile)
    spark.stop()
  }
}
