package graft
package queries

import org.apache.spark.sql.functions._
import Fixtures._

/** Physical layout and table maintenance: compaction, partition
  * overwrite and retention, MERGE upserts (SCD-1/2), z-order/Hilbert/
  * time clustering, bucketed joins and skew-safe aggregation.
  */
private[graft] object LayoutQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] small-files compaction: events deliberately fragmented into
    // 64 part files once per JVM, then Layout.compact coalesces (narrow,
    // no shuffle) to ~target-sized files. The declared result is the
    // compacted table read back — compaction must be content-invisible vs
    // the plain oracle; the file-count arithmetic is asserted in
    // LayoutSpec. --
    Query("q_compact", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"compact:$d", {
        val tmp = scratchDir("graft_compact")
        val frag = tmp + "/frag"
        val out = tmp + "/compacted"
        events(s, d).select("event_id", "user_id", "event_type", "value")
          .repartition(64).write.mode("overwrite").parquet(frag)
        graft.operators.Layout.compact(s, frag, out, targetBytes = 4L * 1024 * 1024)
        out
      })
      s.read.parquet(dir).orderBy("event_id")
    },
      // compaction is content-invisible: same rows as the source table
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),

    // -- [NS] dynamic partition overwrite: events laid out by event_type
    // once per JVM, then the 'click' partition ALONE is rewritten (GDPR-
    // style erasure: odd-user rows dropped) via Layout.overwritePartitions.
    // partitionOverwriteMode=dynamic replaces only the partitions present
    // in the update batch — the other four partitions' files are byte-
    // untouched (file identity asserted in LayoutSpec). The oracle
    // recomputes the post-rewrite table relationally. --
    Query("q_partition_overwrite", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"partoverwrite:$d", {
        val out = scratchDir("graft_partow") + "/events_by_type"
        val ev = events(s, d).select("event_id", "user_id", "event_type", "value")
        ev.write.partitionBy("event_type").parquet(out)
        graft.operators.Layout.overwritePartitions(
          ev.where(col("event_type") === "click" && col("user_id") % 2 === 0),
          out, "event_type")
        out
      })
      s.read.parquet(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type <> 'click' OR user_id % 2 = 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- [NS] PARTITION RETENTION (TTL aging): drop every partition older
    // than the cutoff as a PURE METADATA operation — no data file is
    // read, planned, or rewritten; surviving partitions byte-identical
    // (at 100 TB a retention pass that scans anything is already wrong —
    // cost is O(dropped partition dirs)). The events table lands
    // day-partitioned, the oldest 7 of its 30 days age out, and the
    // declared result is the per-day aggregate over the RETAINED table —
    // a true value oracle (the twin recomputes the same cutoff from the
    // same table) — with the drop count and cold-file identity as gates. --
    Query("q_retention_drop", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"retention:$d", {
        val out = scratchDir("graft_retention") + "/events_by_day"
        val ev = events(s, d).select(col("event_id"), col("event_type"),
          col("value"), to_date(col("ts")).cast("string").as("day"))
        ev.coalesce(4).write.partitionBy("day").parquet(out)
        // cutoff: the 7th distinct day — one 1-row sniff, the same value
        // the twin derives with ORDER BY ... LIMIT 1 OFFSET 6
        val cutoff = ev.select(col("day")).distinct()
          .orderBy(col("day")).limit(7).agg(max(col("day"))).head().getString(0)
        // survivor signature: (size, sha256) — the same tuple/SHA
        // discipline as every other cold-file identity gate (a summed
        // mtime+size signature would pass a rewrite whose deltas cancel)
        val before = snapStoreFiles(out)
        val dropped = graft.operators.Layout.dropPartitions(
          s, out, "day", _ <= cutoff)
        val after = snapStoreFiles(out)
        // survivors must be byte-identical — untouched size and content
        // hash (no rewrite happened; the drop is directory metadata only)
        val survivorsIdentical = after.forall { case (f, sig) =>
          before.get(f).contains(sig)
        }
        require(dropped.size == 7 && survivorsIdentical &&
          after.nonEmpty && before.size > after.size,
          s"retention must drop exactly the 7 oldest days metadata-only " +
            s"(dropped=${dropped.size}, identical=$survivorsIdentical)")
        out
      })
      s.read.parquet(dir)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("day")
    },
      // end state after the click-partition rewrite: every other partition
      // as-is, click reduced to its even-user rows
      // retention: the retained table equals events past the 7th distinct
      // day (the twin derives the same cutoff); the metadata-only-drop and
      // cold-file gates are require()d inside the fixture build
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) > (
        |  SELECT dd FROM (SELECT DISTINCT CAST(ts AS DATE) AS dd FROM events
        |                  ORDER BY dd LIMIT 1 OFFSET 6))
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] SCD-1 upsert (MERGE): a deterministic change set derived from
    // the base (updates for id%100=0, deletes for id%97=0 not already
    // updated, inserts at id+1000000) applied via Layout.upsert — one
    // broadcast anti join (the base never shuffles) plus a union. The
    // oracle recomputes the merge relationally. --
    Query("q_upsert", (s, d) => {
      val base = events(s, d).select("event_id", "event_type", "value")
      val updates = base.where(col("event_id") % 100 === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") + 1000).as("value"), lit(false).as("_deleted"))
      val deletes = base.where(col("event_id") % 97 === 0 && col("event_id") % 100 =!= 0)
        .select(col("event_id"), col("event_type"), col("value"), lit(true).as("_deleted"))
      val inserts = base.where(col("event_id") % 101 === 0)
        .select((col("event_id") + 1000000).as("event_id"),
          lit("ins").as("event_type"), lit(1.0).as("value"), lit(false).as("_deleted"))
      graft.operators.Layout
        .upsert(base, updates.unionByName(deletes).unionByName(inserts), "event_id")
        .orderBy("event_id")
    },
      // relational recomputation of the SCD-1 merge: survivors = base rows
      // whose key is untouched; plus updated rows; plus inserted rows
      """WITH updates AS (
        |  SELECT event_id, event_type, value + 1000 AS value
        |  FROM events WHERE event_id % 100 = 0),
        |deletes AS (
        |  SELECT event_id FROM events
        |  WHERE event_id % 97 = 0 AND event_id % 100 <> 0),
        |inserts AS (
        |  SELECT event_id + 1000000 AS event_id, 'ins' AS event_type,
        |    CAST(1.0 AS DOUBLE) AS value
        |  FROM events WHERE event_id % 101 = 0)
        |SELECT event_id, event_type, value FROM events
        |WHERE event_id NOT IN (SELECT event_id FROM updates)
        |  AND event_id NOT IN (SELECT event_id FROM deletes)
        |UNION ALL SELECT * FROM updates
        |UNION ALL SELECT * FROM inserts
        |ORDER BY event_id""".stripMargin),

    // -- [NS] SCD-2 history-preserving upsert: where q_upsert overwrites,
    // this closes the replaced current rows (is_current=false) and appends
    // the changes as version max+1 (1 for brand-new keys). Change set:
    // balance updates for s_suppkey%10=0, inserts at s_suppkey+100000 for
    // s_suppkey%7=0. All three joins broadcast the small change side — the
    // base never shuffles. The oracle recomputes the history relationally. --
    Query("q_scd2", (s, d) => {
      val supp = Tables.supplier(s, d)
      val base = supp.select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .withColumn("version", lit(1L))
        .withColumn("is_current", lit(true))
      val updates = supp.where(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey"), col("s_name"),
          (col("s_acctbal") + 500).as("s_acctbal"))
      val inserts = supp.where(col("s_suppkey") % 7 === 0)
        .select((col("s_suppkey") + 100000).as("s_suppkey"),
          lit("NEW").as("s_name"), lit(0.0).as("s_acctbal"))
      graft.operators.Layout
        .scd2Upsert(base, updates.unionByName(inserts), "s_suppkey")
        .orderBy("s_suppkey", "version")
    },
      // SCD-2 history recomputed relationally: base rows keep version 1 and
      // flip is_current iff their key is in the change set; change rows
      // append at version 2 (existing keys) or 1 (new keys), current
      """WITH chg AS (
        |  SELECT s_suppkey, s_name, s_acctbal + 500 AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 10 = 0
        |  UNION ALL
        |  SELECT s_suppkey + 100000 AS s_suppkey, 'NEW' AS s_name,
        |    CAST(0.0 AS DOUBLE) AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 7 = 0)
        |SELECT s_suppkey, s_name, s_acctbal, CAST(1 AS BIGINT) AS version,
        |  s_suppkey NOT IN (SELECT s_suppkey FROM chg) AS is_current
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal,
        |  CAST(CASE WHEN s_suppkey IN (SELECT s_suppkey FROM supplier)
        |       THEN 2 ELSE 1 END AS BIGINT) AS version,
        |  true AS is_current
        |FROM chg
        |ORDER BY s_suppkey, version""".stripMargin),

    // -- [NS] z-order clustered layout: events rewritten once per JVM with
    // bit-interleaved (user_id, event_id) range partitioning
    // (Layout.zorderWrite), then read back through a 2-D box predicate —
    // the multi-dimensional data-skipping layout (each file covers a
    // compact z-range, so parquet footer min/max prune most files; a
    // single-column sort can only serve one of the two predicates).
    // Pruning counts are asserted in LayoutSpec; the layout must be
    // result-invisible vs the plain filtered oracle. --
    // -- [NS] Hilbert-curve clustered layout: same contract as the z-order
    // twin below, better box locality (no Morton diagonal jumps); pruning
    // comparison asserted in LayoutSpec, layout result-invisible vs the
    // same plain-filter oracle --
    Query("q_hilbert_layout", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"hilbert:$d", {
        val out = scratchDir("graft_hilbert") + "/events_h"
        graft.operators.Layout.hilbertWrite(
          events(s, d).select("event_id", "user_id", "event_type", "value"),
          "user_id", "event_id", out, nFiles = 16)
        out
      })
      s.read.parquet(dir)
        .where(col("user_id").between(3, 7) && col("event_id").between(100, 20000))
        .orderBy("event_id")
    },
      // the Hilbert rewrite is layout only — same rows as a plain filter
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE user_id BETWEEN 3 AND 7 AND event_id BETWEEN 100 AND 20000
        |ORDER BY event_id""".stripMargin),

    Query("q_zorder_layout", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"zorder:$d", {
        val out = scratchDir("graft_zorder") + "/events_z"
        graft.operators.Layout.zorderWrite(
          events(s, d).select("event_id", "user_id", "event_type", "value"),
          "user_id", "event_id", out, nFiles = 16)
        out
      })
      s.read.parquet(dir)
        .where(col("user_id").between(3, 7) && col("event_id").between(100, 20000))
        .orderBy("event_id")
    },
      // the z-ordered rewrite is layout only — same rows as a plain filter
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE user_id BETWEEN 3 AND 7 AND event_id BETWEEN 100 AND 20000
        |ORDER BY event_id""".stripMargin),

    // -- [NS] time-clustered layout: events rewritten once per JVM range-
    // partitioned + sorted on ts_ns (Layout.clusteredWrite — the workhorse
    // production layout for a time-series table), then read through a
    // time-range predicate that parquet footer stats serve from 1-2 of the
    // 16 files (pruning asserted in LayoutSpec). Layout must be
    // result-invisible vs the plain filtered oracle. --
    Query("q_time_clustered", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"clustered:$d", {
        val out = scratchDir("graft_clustered") + "/events_t"
        graft.operators.Layout.clusteredWrite(
          events(s, d).select("event_id", "ts_ns", "event_type", "value"),
          "ts_ns", out, nFiles = 16)
        out
      })
      // ts_ns-only predicate (NOT nsRange): in THIS layout the written
      // files physically carry ts_ns, so the nanos comparison is the one
      // that parquet footer stats serve — and there is no ts column here
      s.read.parquet(dir)
        .where(col("ts_ns") >= 1704412800000000000L &&
          col("ts_ns") < 1704672000000000000L) // [2024-01-05, 2024-01-08) UTC
        // the raw-nanos column drives the pruning predicate; the declared
        // output carries the µs timestamp (nanos exceed DuckDB's precision)
        .select(col("event_id"), timestamp_micros(expr("ts_ns div 1000")).as("ts"),
          col("event_type"), col("value"))
        .orderBy("event_id")
    },
      // the time-clustered rewrite is layout only — same rows as a plain
      // filter over the source table
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
        |WHERE epoch_ns(ts) >= 1704412800000000000 AND epoch_ns(ts) < 1704672000000000000
        |ORDER BY event_id""".stripMargin),

    // -- [NS] bucketed co-located join: write both sides bucketed+sorted by
    // the join key, then join through the catalog — no exchange on either
    // side (asserted in LayoutSpec). Tables are rewritten each invocation
    // so a regenerated testdata set can never leak stale rows through the
    // warehouse. This is the declared-query form of Layout.writeBucketed,
    // the 100 TB answer to repeated big-big joins.
    Query("q_bucketed_join", (s, d) => {
      // write once per session: the SF dir is fixed for a JVM's lifetime, so
      // an in-catalog table is current; a FRESH JVM never sees the previous
      // session's in-memory catalog and always rewrites (and writeBucketed
      // clears any stale on-disk location first), so regenerated testdata
      // still can't leak stale rows
      if (!s.catalog.tableExists("bl_orders"))
        graft.operators.Layout.writeBucketed(
          Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          "bl_orders", "o_orderkey", 8)
      if (!s.catalog.tableExists("bl_lineitem"))
        graft.operators.Layout.writeBucketed(
          Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"),
          "bl_lineitem", "l_orderkey", 8)
      graft.operators.Layout.readTable(s, "bl_lineitem")
        .join(graft.operators.Layout.readTable(s, "bl_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] skew-immune two-phase aggregate (event_type is low-cardinality
    // = the skewed-key case; result must equal the direct groupBy) --
    Query("q_salted_agg", (s, d) =>
      graft.operators.Layout.saltedAgg(events(s, d), col("event_type"), col("value"))
        .orderBy("key"),
      """SELECT event_type AS key, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
