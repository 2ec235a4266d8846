package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc operator timing harness (dev tool, not part of the driver
  * contract). Times each SparkEntry query end-to-end at a given SF dir,
  * or only the named ones. With `SPARK_GRAFT_REPEAT=3` it is the bench
  * protocol's best-of-3 for a subset (noop sink, warmup, clearCache
  * between runs), so its numbers compare with the round record:
  *
  *   SPARK_GRAFT_REPEAT=3 sbt "runMain graft.Profile /root/testdata/sf0.1 q_dedup_funnel q_dedup_explain"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JVM/codegen/footer costs land here, not on the first query
    SparkEntry.queries.get("q_scan_project")
      .foreach(fn => fn(spark, dir).write.mode("overwrite").format("noop").save())
    // SPARK_GRAFT_REPEAT=N → best of N back-to-back runs (the bench
    // protocol's warm measurement) instead of the default single cold run
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val best = (0 until repeat).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.mode("overwrite").format("noop").save() // full materialization
          val t = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          t
        }.min
        println(f"[profile] $name%-24s $best%6.2f s")
      }
    }
    spark.stop()
  }
}
