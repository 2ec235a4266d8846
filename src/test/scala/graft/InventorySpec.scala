package graft

/** Driver-contract consistency: these are the exact conditions the driver's
  * smoke and correctness gates depend on, checked in-suite so a regression
  * fails here first.
  */
class InventorySpec extends SparkSpec {

  test("every oracleSql key has a queries entry (driver joins on key)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("no query name is declared twice") {
    // the registry's maps are keyed by name: a second declaration would
    // otherwise shadow the first without a trace
    val names = SparkEntry.declared.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"query names declared more than once: $dups")
  }

  test("entry() returns rows on sf0.001 (the t1 smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Pinned EXACT count — the same number SURVEY §2.3's headline states.
    * A new query must touch both (and the survey table) in one commit, so
    * the contract doc and the engine cannot drift silently; the round-12
    * verdict caught exactly that drift (doc said 255, engine held 262).
    */
  private val DeclaredQueryCount = 315

  test("inventory matches the SURVEY §2.3 contract count and keys are well-formed") {
    assert(SparkEntry.queries.size == DeclaredQueryCount,
      s"queries.size=${SparkEntry.queries.size} != pinned $DeclaredQueryCount — " +
        "update the pin AND SURVEY §2.3's headline count together")
    assert(SparkEntry.queries.keys.forall(_.startsWith("q_")))
    assert(SparkEntry.oracleSql.size == DeclaredQueryCount,
      "every declared query needs an oracle entry (value- or invariant-oracled)")
  }

  test("a sample of queries from each family runs and is non-empty at sf0.001") {
    val sample = Seq("q_scan_project", "q_topk_global", "q_reassemble",
      "q_star_join", "q_window_topk_user", "q_dedup_exact", "q_text_stats",
      "q_sim_topk", "q_tumbling_1d", "q_mm_meta", "q_salted_agg")
    sample.foreach { name =>
      val n = SparkEntry.queries(name)(spark, Sf0001).count()
      assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("EVERY declared query executes without throwing at sf0.001") {
    // Verify.scala swallows per-query exceptions (a broken query surfaces as
    // a missing parquet only at the driver's gate); this catches it in-suite.
    // Empty results are legal (e.g. anti joins) — only throwing is not.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, Sf0001).count(); spark.catalog.clearCache(); None }
      // String.valueOf: getMessage can be null (bare NPE) and the report
      // path itself must not throw
      catch { case e: Throwable => Some(s"$name: ${String.valueOf(e.getMessage).take(120)}") }
    }
    assert(failures.isEmpty, s"queries threw at sf0.001:\n${failures.mkString("\n")}")
  }
}
