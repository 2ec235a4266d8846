package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — the declared query inventory (SURVEY.md §2.3).
  *
  * Each query is declared once, beside its oracle SQL, as a
  * [[graft.queries.Query]] in one family module under `graft.queries`;
  * this registry derives the two maps the driver mains read from those
  * declarations.
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the reference's `getLogChangesByType`
    * semantics (`BigDataLogControl.cs:206-268`); driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Fixtures.logComposite(spark, "/root/testdata/sf0.001")

  private[graft] def deleteRecursivelyOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(root))
        Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
    }))

  /** Every declaration, family by family. */
  private[graft] lazy val declared: Seq[Query] = Seq(
    LogQueries.declared, ConnectorQueries.declared, AnalyticsQueries.declared,
    RelationalQueries.declared, DedupQueries.declared,
    SimilarityQueries.declared, TextIndexQueries.declared,
    CorpusQueries.declared, MultimodalQueries.declared,
    StreamingQueries.declared, LayoutQueries.declared).flatten

  private lazy val byName: Map[String, Query] = {
    val dups = declared.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    declared.map(q => q.name -> q).toMap
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, q) => n -> q.oracleSql }
}
