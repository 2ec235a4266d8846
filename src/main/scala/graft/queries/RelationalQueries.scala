package graft
package queries

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Relational and SQL breadth: joins and join hints, set operations,
  * subqueries, TPC-H, scalar-function families and the Spark 4 SQL
  * surface.
  */
private[graft] object RelationalQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] relational breadth: star join, semi/anti, set ops, json --
    Query("q_star_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    },
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    Query("q_join_outer", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0)), 4).as("total_spend"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  CAST(sum(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),

    Query("q_join_semi", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin),

    // -- [NS] join strategy hints: the same aggregate join under an
    // explicit SHUFFLE_HASH hint — the manual override for when the
    // optimizer's choice is wrong (a build side that fits memory but
    // exceeds the broadcast threshold). Hints must be result-invisible;
    // the hinted plan shape is asserted in a spec, the values here --
    Query("q_join_hint", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).hint("shuffle_hash"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0.0)), 4).as("total_spend"))
        .orderBy("c_custkey"),
      // hints are result-invisible: identical twin to q_join_outer
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  CAST(sum(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),

    Query("q_join_anti", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin),

    Query("q_set_union", (s, d) => {
      val e = events(s, d)
      e.where(col("event_type") === "click").select("user_id", "event_type")
        .union(e.where(col("event_type") === "signup").select("user_id", "event_type"))
        .distinct()
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type FROM events WHERE event_type = 'click'
        |  UNION
        |  SELECT user_id, event_type FROM events WHERE event_type = 'signup')
        |ORDER BY user_id, event_type""".stripMargin),

    Query("q_set_except", (s, d) => {
      val e = events(s, d).where(col("event_type") === "error")
      e.where(col("ts") < tsLit("2024-01-08 00:00:00")).select("user_id").distinct()
        .except(e.where(col("ts") >= tsLit("2024-01-22 00:00:00")).select("user_id").distinct())
        .orderBy("user_id")
    },
      """SELECT user_id FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08 00:00:00'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-22 00:00:00')
        |ORDER BY user_id""".stripMargin),

    Query("q_set_except_all", (s, d) => {
      val e = events(s, d)
      e.where(col("event_type").isin("click", "view")).select("user_id")
        .exceptAll(e.where(col("event_type") === "view").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type IN ('click', 'view')
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'view')
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    Query("q_json_props", (s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy("event_id"),
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events ORDER BY event_id"),

    // -- [NS] VARIANT semi-structured surface (Spark 4): parse the props
    // JSON once into the binary VARIANT encoding and path-extract typed
    // fields from it — the schema-on-read shape for logs whose payload
    // drifts. Unlike from_json, VARIANT needs no up-front struct schema;
    // unlike get_json_object, extraction reads the pre-parsed binary form,
    // not the string. try_variant_get returns null (never throws) on a
    // path/type miss — the posture a 100 TB ingest of drifting payloads
    // needs. --
    Query("q_variant_get", (s, d) =>
      events(s, d)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          try_variant_get(col("v"), "$.k", "int").as("k"),
          try_variant_get(col("v"), "$.missing", "string").as("absent"))
        .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  CAST(NULL AS VARCHAR) AS absent
        |FROM events ORDER BY event_id""".stripMargin),

    // -- [NS] correlated scalar subqueries (TPC-H Q2/Q17 shape): parts
    // strictly larger than their type's average size. Catalyst de-correlates
    // the agg subquery into a grouped aggregate + join — asserted in the
    // spec; no per-row re-execution anywhere. Stated in multiplication form
    // (size·count > sum) so both engines compare exact integers, not
    // engine-rounded decimal averages. --
    Query("q_scalar_subquery", (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("part_sq")
      s.sql("""SELECT p_partkey, p_type, p_size FROM part_sq p
              |WHERE CAST(p_size AS BIGINT) *
              |      (SELECT count(*) FROM part_sq p2 WHERE p2.p_type = p.p_type)
              |    > (SELECT sum(CAST(p_size AS BIGINT)) FROM part_sq p2
              |       WHERE p2.p_type = p.p_type)
              |ORDER BY p_partkey""".stripMargin)
    },
      """SELECT p_partkey, p_type, p_size FROM part p
        |WHERE CAST(p_size AS BIGINT) *
        |      (SELECT count(*) FROM part p2 WHERE p2.p_type = p.p_type)
        |    > (SELECT CAST(sum(p_size) AS BIGINT) FROM part p2
        |       WHERE p2.p_type = p.p_type)
        |ORDER BY p_partkey""".stripMargin),

    // -- [NS] grouping breadth: cube + grouping sets --
    Query("q_cube_type_day", (s, d) =>
      events(s, d)
        .withColumn("day", to_date(col("ts")))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first),
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events
        |GROUP BY CUBE (event_type, CAST(ts AS DATE))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin),

    Query("q_grouping_sets", (s, d) => {
      events(s, d).withColumn("day", to_date(col("ts")))
        .createOrReplaceTempView("events_gs")
      s.sql("""SELECT event_type, day, count(*) AS n FROM events_gs
               GROUP BY GROUPING SETS ((event_type), (day))
               ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")
    },
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events
        |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin),

    Query("q_set_intersect", (s, d) => {
      val e = events(s, d)
      e.where(col("event_type") === "click").select("user_id")
        .intersect(e.where(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    },
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY user_id""".stripMargin),

    // -- [NS] more join shapes: range join, dim joins over part/supplier --
    Query("q_range_join", (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_fast_lines"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS n_fast_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // broadcast dim join FIRST, then aggregate: with a broadcast join the
    // fact side never shuffles for the join, and map-side partial
    // aggregation collapses each partition to |brands| rows before the only
    // exchange — strictly less shuffled data than pre-aggregating by the
    // join key (measured: pre-agg by l_partkey added a full fact shuffle
    // and was ~40% slower). Pre-agg-by-key only pays off when the join
    // itself would shuffle (sort-merge, non-broadcastable dim).
    Query("q_brand_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_brand"),
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    Query("q_supplier_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(dsum(col("l_extendedprice"), 4).as("revenue"), count(lit(1)).as("n"))
        .orderBy("s_name"),
      """SELECT s_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),

    // -- [REF/NS] scalar function breadth: string / datetime / math --
    Query("q_string_funcs", (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        length(col("text")).as("n"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        regexp_replace(lower(substring(col("text"), 1, 50)), "[aeiou]", "").as("devoweled"),
        concat_ws("|", col("lang"), col("source")).as("tag"))
        .orderBy("doc_id"),
      """SELECT doc_id, length(text) AS n,
        |  upper(substring(text, 1, 10)) AS head10,
        |  regexp_replace(lower(substring(text, 1, 50)), '[aeiou]', '', 'g') AS devoweled,
        |  concat_ws('|', lang, source) AS tag
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_time_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("dom"),
        hour(col("ts")).as("h"),
        unix_millis(col("ts")).as("epoch_ms"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS dom, CAST(hour(ts) AS INT) AS h,
        |  epoch_ms(CAST(ts AS TIMESTAMP)) AS epoch_ms
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q_math_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        round(sqrt(abs(col("value"))), 4).as("root"),
        ceil(col("value")).as("up"),
        floor(col("value")).as("down"),
        round(log1p(abs(col("value"))), 4).as("logv"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  round(sqrt(abs(value)), 4) AS root,
        |  CAST(ceil(value) AS BIGINT) AS up,
        |  CAST(floor(value) AS BIGINT) AS down,
        |  round(ln(1 + abs(value)), 4) AS logv
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q_date_arith", (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        date_add(col("o_orderdate").cast("date"), 7).as("next_week"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .as("epoch_days"),
        last_day(col("o_orderdate").cast("date")).as("eom"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("q"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 7 AS next_week,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS epoch_days,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // -- [NS] TPC-H Q1: the canonical pricing-summary aggregate, decimal-
    // exact sums so parallel partial aggregation matches DuckDB bit-for-bit
    Query("q_tpch_q1", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= tsLit("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          // factors cast to decimal BEFORE multiplying: the source values
          // are 2-decimal quantities, so each cast is exact and the decimal
          // product is exact — whereas casting the double product hits
          // engine-specific double→decimal rounding on .xxxx5 boundaries
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")) *
            (lit(1) + col("l_tax").cast("decimal(18,2)")))
            .cast("double").as("sum_charge"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s_qty"),
          sum(col("l_discount").cast("decimal(18,4)")).as("s_disc"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_base"), col("sum_disc"), col("sum_charge"),
          round(col("s_qty").cast("double") / col("n"), 4).as("avg_qty"),
          round(col("s_disc").cast("double") / col("n"), 4).as("avg_disc"),
          col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- [NS] TPC-H Q3 (shipping priority): the canonical 3-table
    // fact-to-fact join. The filtered customer side broadcasts (dim-sized
    // after the segment filter); orders⋈lineitem is the one real shuffle,
    // keyed on orderkey; segment/date filters push to all three scans; the
    // top-10 is a TakeOrderedAndProject, never a global sort. Revenue in
    // exact decimal per the engine convention. --
    Query("q_tpch_q3", (s, d) => {
      val cust = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") < tsLit("1998-06-30 00:00:00"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") > tsLit("1998-06-30 00:00:00"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // -- [NS] TPC-H Q10 (returned-item reporting): lineitem filtered to
    // returns joins the quarter's orders, grouped per customer with the
    // nation dim riding broadcast — top-20 by lost revenue as a
    // TakeOrderedAndProject. The classic "who to call" operational query. --
    Query("q_tpch_q10", (s, d) => {
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= tsLit("1996-01-01 00:00:00") &&
          col("o_orderdate") < tsLit("1996-04-01 00:00:00"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // -- [NS] TPC-H Q6 (forecast revenue change): the pure scan-bandwidth
    // headline — every predicate pushes to the parquet scan (date range,
    // discount band, quantity cap), the read schema is 4 columns, and the
    // whole query is one map-side partial sum into a 1-row combine. At
    // 100 TB this query IS the IO subsystem. --
    Query("q_tpch_q6", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsLit("1997-01-01 00:00:00") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n")),
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin),

    // -- [NS] TPC-H Q14 (promo revenue): conditional aggregation over a
    // broadcast fact⋈dim join, one shipdate month. Both legs of the ratio
    // are decimal-exact sums; the percentage divides the two exact doubles
    // (IEEE-deterministic) and rounds to 4 — the fact table never shuffles,
    // part broadcasts, the date range prunes row groups at the scan. --
    Query("q_tpch_q14", (s, d) => {
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-03-01 00:00:00") &&
          col("l_shipdate") < tsLit("1996-04-01 00:00:00"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)))
            .cast("double").as("promo_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .withColumn("promo_pct",
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 4))
    },
      """WITH j AS (
        |  SELECT p_type,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT promo_revenue, total_revenue,
        |  round(100.0 * promo_revenue / total_revenue, 4) AS promo_pct
        |FROM (SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(rev) AS DOUBLE) AS total_revenue FROM j)""".stripMargin),

    // -- [NS] TPC-H Q18 (large-volume customers): the big-aggregate-feeds-
    // big-join shape. sum(l_quantity) per order is ONE hash aggregate with
    // map-side partials; the >250 HAVING filter drops ~99% of orders BEFORE
    // any join, so the surviving keys join orders (shuffle on orderkey) and
    // broadcast-join customer. Top-k is TakeOrderedAndProject, never a full
    // sort. --
    Query("q_tpch_q18", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 250.0)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // -- [NS] TPC-H Q19 (discounted revenue, disjunctive predicates): the
    // OR-of-conjunctions join. The equi-key (l_partkey = p_partkey) still
    // drives a broadcast HASH join — the three brand/size/quantity
    // conjunctions evaluate as a residual filter on matches, not a nested
    // loop; per-side prunable conjuncts (quantity band, size band) are
    // pushed below the join by Catalyst. --
    Query("q_tpch_q19", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val pt = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
      val clause = (col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 10) && col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#23" &&
          col("p_size").between(5, 20) && col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#15" &&
          col("p_size").between(20, 35) && col("l_quantity").between(25, 40))
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey") && clause)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 25 AND 40)""".stripMargin),

    // -- [NS] TPC-H Q5 (local-supplier volume): the 6-table join. The two
    // genuinely big sides (lineitem, orders) meet in ONE shuffle on
    // orderkey; customer/supplier/nation/region are all dim-sized and
    // broadcast, including the c_nationkey = s_nationkey local-supplier
    // equality folded into the supplier join. Region filter prunes before
    // the nation broadcast. --
    Query("q_tpch_q5", (s, d) => {
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= tsLit("1996-01-01 00:00:00") &&
          col("o_orderdate") < tsLit("1997-01-01 00:00:00"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val reg = Tables.region(s, d).where(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM customer c
        |JOIN orders o ON c_custkey = o_custkey
        |JOIN lineitem l ON l_orderkey = o_orderkey
        |JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation n ON s_nationkey = n_nationkey
        |JOIN region r ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // -- [NS] TPC-H Q2 (min-cost supplier; schema-adapted: the generator
    // has no partsupp, so the offer book is the distinct (part, supplier)
    // pairs observed in lineitem, unit cost = min(l_extendedprice /
    // l_quantity)). The groupwise-min-then-join-back shape survives: both
    // aggs are map-side-partial hash aggs keyed on partkey (the second
    // reuses the first's partitioning — no extra shuffle), the join back
    // is on (partkey, min), and part/supplier/nation/region all broadcast.
    // IEEE division + exact min selection make the double-equality join
    // engine-portable: both engines pick bits from the same input set. --
    Query("q_tpch_q2", (s, d) => {
      val offer = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("ucost"))
      val best = offer.groupBy(col("l_partkey").as("b_partkey"))
        .agg(min(col("ucost")).as("min_cost"))
      val pt = Tables.part(s, d)
        .where(col("p_type") === "LARGE" && col("p_size").between(10, 20))
        .select("p_partkey", "p_size")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val reg = Tables.region(s, d).where(col("r_name") === "EUROPE")
        .select("r_regionkey")
      offer
        .join(best, col("l_partkey") === col("b_partkey") &&
          col("ucost") === col("min_cost"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_size"),
          round(col("min_cost"), 4).as("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      """WITH offer AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS ucost
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS b_partkey, min(ucost) AS min_cost FROM offer GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_size,
        |  round(min_cost, 4) AS unit_cost
        |FROM offer
        |JOIN best ON l_partkey = b_partkey AND ucost = min_cost
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin),

    // -- [NS] TPC-H Q4 (order-priority checking; schema-adapted: no
    // commit/receipt dates, so "late" = a lineitem shipped more than 60
    // days after the order date). The EXISTS compiles to ONE left-semi
    // hash join on orderkey with the date comparison as a residual; the
    // quarter filter on orders is pushed to the scan. No per-order
    // subquery re-execution survives. --
    Query("q_tpch_q4", (s, d) => {
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= tsLit("1996-01-01 00:00:00") &&
          col("o_orderdate") < tsLit("1996-07-01 00:00:00"))
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      ord.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] TPC-H Q7 (volume shipping between two nations): lineitem
    // and orders meet in ONE shuffle on orderkey; customer, supplier, and
    // both nation legs broadcast. The nation legs are pre-filtered to the
    // two nations of interest — at 100 TB that shrinks the broadcast
    // matches before the pair-disjunction residual runs. --
    Query("q_tpch_q7", (s, d) => {
      val twoNations = Seq("NATION_1", "NATION_2")
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsLit("1998-01-01 00:00:00"))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_shipdate")
      val n1 = Tables.nation(s, d).where(col("n_name").isin(twoNations: _*))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).where(col("n_name").isin(twoNations: _*))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      li.join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // -- [NS] TPC-H Q8 (national market share): the 7-table join with a
    // conditional aggregate. Only li⋈orders shuffles; part (type-filtered),
    // customer, supplier, both nation legs, and region all broadcast. Both
    // ratio legs are exact decimal sums out of the SAME partial aggregate;
    // the division happens once per year-group on identical bits. --
    Query("q_tpch_q8", (s, d) => {
      val vol = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))
      val pt = Tables.part(s, d).where(col("p_type") === "STANDARD")
        .select("p_partkey")
      val natCust = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val natSupp = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val reg = Tables.region(s, d).where(col("r_name") === "ASIA")
        .select("r_regionkey")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
          .where(col("o_orderdate") >= tsLit("1996-01-01 00:00:00") &&
            col("o_orderdate") < tsLit("1998-01-01 00:00:00"))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(natCust), col("c_nationkey") === col("cn_key"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(natSupp), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0))).as("nat_dec"),
          sum(vol).as("tot_dec"))
        .select(col("o_year"),
          round(col("nat_dec").cast("double") / col("tot_dec").cast("double"), 4)
            .as("mkt_share"),
          col("tot_dec").cast("double").as("total_volume"))
        .orderBy("o_year")
    },
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE), 4) AS mkt_share,
        |  CAST(sum(vol) AS DOUBLE) AS total_volume
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] TPC-H Q9 (product-type profit; schema-adapted cost basis:
    // p_retailprice * l_quantity stands in for the absent partsupp
    // supplycost). Amount is exact-decimal end to end; grouped by supplier
    // nation × ship year. Part and supplier/nation broadcast; the fact
    // table never shuffles before its partial aggregate. --
    Query("q_tpch_q9", (s, d) => {
      val amount = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)")) -
        col("p_retailprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(18,2)")
      val pt = Tables.part(s, d).where(col("p_type") === "PROMO")
        .select("p_partkey", "p_retailprice")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
          "l_discount", "l_shipdate")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),

    // -- [NS] TPC-H Q11 (important stock; schema-adapted: "stock value" =
    // revenue per part from suppliers in nations 0-2). The
    // fraction-of-total HAVING is the scalar-aggregate shape: the total is
    // ONE extra reduce over the already-aggregated per-part table (tiny),
    // broadcast back as a 1-row cross join. value*1000 > total compares
    // exact decimals — no float-epsilon dependence. --
    Query("q_tpch_q11", (s, d) => {
      val supp = Tables.supplier(s, d)
        .where(col("s_nationkey").isin(0, 1, 2)).select("s_suppkey")
      val perPart = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("value_dec"))
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
      perPart.crossJoin(broadcast(total))
        .where(col("value_dec") * 1000 > col("total_dec"))
        .select(col("partkey"), col("value_dec").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("partkey"))
    },
      """WITH val AS (
        |  SELECT l_partkey AS partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1, 2))
        |  GROUP BY 1)
        |SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
        |FROM val
        |WHERE value_dec * 1000 > (SELECT sum(value_dec) FROM val)
        |ORDER BY part_value DESC, partkey""".stripMargin),

    // -- [NS] TPC-H Q12 (ship-mode service levels; schema-adapted: the
    // generator has no l_shipmode, so the mode is a deterministic function
    // of l_linenumber). One shuffle join on orderkey; both priority
    // counters come out of the same partial aggregate. --
    Query("q_tpch_q12", (s, d) => {
      val mode = when(col("l_linenumber") % 3 === 0, "AIR")
        .when(col("l_linenumber") % 3 === 1, "SHIP").otherwise("TRUCK")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsLit("1997-01-01 00:00:00"))
        .select(col("l_orderkey"), mode.as("ship_mode"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("ship_mode"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("ship_mode")
    },
      """SELECT CASE l_linenumber % 3 WHEN 0 THEN 'AIR' WHEN 1 THEN 'SHIP' ELSE 'TRUCK' END AS ship_mode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] TPC-H Q13 (customer order-count distribution): left outer
    // join with an ON-clause filter (the o_comment stand-in is an
    // order-priority exclusion), then two stacked aggregations. The
    // distribution agg runs over a customer-count-sized input — the second
    // shuffle is tiny by construction. --
    Query("q_tpch_q13", (s, d) => {
      val perCust = Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderpriority"),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "5-LOW",
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // -- [NS] TPC-H Q15 (top supplier): the revenue view + max scalar
    // subquery. Revenue stays exact decimal through the max comparison, so
    // the equality join back is bit-safe; the 1-row max broadcasts. --
    Query("q_tpch_q15", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsLit("1996-04-01 00:00:00"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(top))
        .where(col("rev_dec") === col("max_dec"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // -- [NS] TPC-H Q16 (supplier counting; schema-adapted: offer book =
    // distinct lineitem pairs; the complaint-comment exclusion becomes a
    // negative-acctbal NOT IN, compiled as a broadcast anti join).
    // count(DISTINCT) over pre-deduped pairs — the expensive distinct is
    // map-side combined before its one shuffle. --
    Query("q_tpch_q16", (s, d) => {
      val offer = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val pt = Tables.part(s, d)
        .where(col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45) &&
          col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val complained = Tables.supplier(s, d).where(col("s_acctbal") < 0)
        .select("s_suppkey")
      offer.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(complained), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """WITH offer AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM offer JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // -- [NS] TPC-H Q17 (small-quantity-order revenue): the correlated
    // per-part avg de-correlated into one grouped aggregate joined back on
    // partkey. The avg is exact-decimal-sum / count so both engines divide
    // identical bits. The per-part table is part-cardinality-sized — at
    // lake scale it hash-joins on the same partkey the aggregate produced,
    // no extra exchange. --
    Query("q_tpch_q17", (s, d) => {
      val perPart = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pa_key"))
        .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      val pt = Tables.part(s, d)
        .where(col("p_brand") === "Brand#3" && col("p_size") < 10)
        .select("p_partkey")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pa_key"))
        .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0, 4).as("avg_yearly"),
          count(lit(1)).as("n"))
    },
      """WITH per_part AS (
        |  SELECT l_partkey AS pa_key,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN per_part ON l_partkey = pa_key
        |WHERE p_brand = 'Brand#3' AND p_size < 10
        |  AND l_quantity < 0.5 * avg_qty""".stripMargin),

    // -- [NS] TPC-H Q20 (potential part promotion; schema-adapted:
    // suppliers who shipped >50 units of any PROMO part in 1996). The
    // nested-IN chain becomes two stacked semi joins: part filter semi
    // into the per-(supplier, part) shipped aggregate, the surviving
    // supplier keys semi into supplier. Nothing bigger than the aggregate
    // ever shuffles. --
    Query("q_tpch_q20", (s, d) => {
      val promo = Tables.part(s, d).where(col("p_type") === "PROMO")
        .select("p_partkey")
      val shipped = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= tsLit("1996-01-01 00:00:00") &&
          col("l_shipdate") < tsLit("1997-01-01 00:00:00"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_dec"))
        .where(col("qty_dec") > 50)
        .select("l_suppkey").distinct()
      Tables.supplier(s, d).where(col("s_nationkey") < 13)
        .join(broadcast(shipped), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    },
      """WITH shipped AS (
        |  SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, s_nationkey
        |FROM supplier
        |WHERE s_nationkey < 13
        |  AND s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty_dec > 50)
        |ORDER BY s_suppkey""".stripMargin),

    // -- [NS] TPC-H Q21 (suppliers who kept orders waiting; schema-
    // adapted: "late" = shipped >90 days after the order date of a
    // finished order; a waiting supplier is late on a multi-supplier order
    // where NO other supplier was late). The exists / not-exists pair
    // de-correlates into per-order distinct counts joined back — one
    // shuffle on orderkey, no per-row subquery. The annotated join is
    // persisted because both the per-order profile and the final filter
    // read it. --
    Query("q_tpch_q21", (s, d) => {
      val ann = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
        .persist()
      val perOrder = ann.groupBy(col("l_orderkey").as("po_key"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      ann.where(col("late"))
        .join(perOrder, col("l_orderkey") === col("po_key"))
        .where(col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(Tables.supplier(s, d).where(col("s_nationkey") < 5)
          .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
      """WITH ann AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per_order AS (
        |  SELECT l_orderkey AS po_key, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM ann GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM ann
        |JOIN per_order ON l_orderkey = po_key
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE late AND n_supp >= 2 AND n_late = 1 AND s_nationkey < 5
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // -- [NS] TPC-H Q22 (global sales opportunity; schema-adapted: country
    // code = c_nationkey band; every generated customer has at least one
    // order, so the anti join is "no orders since 2000"). The avg-balance
    // bar is a 1-row scalar aggregate broadcast as a cross join; the anti
    // join hashes on custkey. --
    Query("q_tpch_q22", (s, d) => {
      val band = Tables.customer(s, d)
        .where(col("c_nationkey").isin(5, 10, 15, 20, 24))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val bar = band.where(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .where(col("o_orderdate") >= tsLit("2000-01-01 00:00:00"))
        .select("o_custkey")
      band.crossJoin(broadcast(bar))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
        .orderBy("cntrycode")
    },
      """WITH band AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (5, 10, 15, 20, 24)),
        |bar AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM band WHERE c_acctbal > 0)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM band, bar
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] full-outer join surface: per-user high-value purchase vs
    // error profiles, users present on either side. USING-style key
    // coalescing; both sides are pre-aggregated (user-cardinality-sized)
    // before the join, so the full-outer shuffle moves aggregates, not
    // events. --
    Query("q_join_full", (s, d) => {
      val purch = events(s, d)
        .where(col("event_type") === "purchase" && col("value") > 150)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purch"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("purch_val"))
      val errs = events(s, d)
        .where(col("event_type") === "error" && col("value") > 150)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_err"))
      purch.join(errs, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_purch"), lit(0L)).as("n_purch"),
          round(coalesce(col("purch_val"), lit(0.0)), 4).as("purch_val"),
          coalesce(col("n_err"), lit(0L)).as("n_err"))
        .orderBy("user_id")
    },
      """WITH purch AS (
        |  SELECT user_id, count(*) AS n_purch,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS purch_val
        |  FROM events WHERE event_type = 'purchase' AND value > 150 GROUP BY 1),
        |errs AS (
        |  SELECT user_id, count(*) AS n_err
        |  FROM events WHERE event_type = 'error' AND value > 150 GROUP BY 1)
        |SELECT user_id, coalesce(n_purch, 0) AS n_purch,
        |  round(coalesce(purch_val, 0), 4) AS purch_val,
        |  coalesce(n_err, 0) AS n_err
        |FROM purch FULL OUTER JOIN errs USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // -- [NS] conditional / null-handling scalar surface --
    Query("q_conditional_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        when(col("value") > 100, "high").when(col("value") > 10, "mid").otherwise("low").as("band"),
        coalesce(nullif(col("event_type"), lit("view")), lit("filtered")).as("type_or_filtered"),
        round(greatest(col("value"), lit(0.0)), 4).as("clamped_lo"),
        round(least(col("value"), lit(500.0)), 4).as("clamped_hi"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
        |  coalesce(nullif(event_type, 'view'), 'filtered') AS type_or_filtered,
        |  round(greatest(value, 0.0), 4) AS clamped_lo,
        |  round(least(value, 500.0), 4) AS clamped_hi
        |FROM events ORDER BY event_id""".stripMargin),

    // -- [NS] AES column encryption round-trip: decrypt(encrypt(text)) is
    // the identity — the at-rest column-crypto surface (GCM, random IV, so
    // only the ROUND TRIP is deterministic — which is what's declared) --
    Query("q_aes_roundtrip", (s, d) =>
      documents(s, d).select(
        col("doc_id"),
        aes_decrypt(
          aes_encrypt(col("text").cast("binary"), lit("0123456789abcdef")),
          lit("0123456789abcdef")).cast("string").as("rt"))
        .orderBy("doc_id"),
      // round-trip identity: decrypt(encrypt(text)) = text
      """SELECT doc_id, text AS rt FROM documents ORDER BY doc_id"""),

    // -- [NS] timezone conversion: UTC instants rendered as wall time in
    // three zones (one DST-observing — the conversion is rule-aware, not a
    // fixed offset) plus a zone-local formatted hour; the oracle converts
    // through DuckDB's AT TIME ZONE chain --
    Query("q_timezone", (s, d) =>
      events(s, d).select(
        col("event_id"),
        from_utc_timestamp(col("ts"), "America/New_York").as("ny_wall"),
        from_utc_timestamp(col("ts"), "Asia/Tokyo").as("tokyo_wall"),
        date_format(from_utc_timestamp(col("ts"), "Europe/Paris"), "yyyy-MM-dd HH")
          .as("paris_hour"))
        .orderBy("event_id"),
      // same instants through the AT TIME ZONE chain (DST-rule-aware)
      """SELECT event_id,
        |  CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS ny_wall,
        |  CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP) AS tokyo_wall,
        |  strftime(CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Paris' AS TIMESTAMP), '%Y-%m-%d %H') AS paris_hour
        |FROM events ORDER BY event_id""".stripMargin),

    // -- [NS] parameterized SQL: named parameter markers bound server-side
    // (`spark.sql(text, args)`) — the injection-safe way user input reaches
    // a query; literals never string-concatenate into the text --
    Query("q_sql_params", (s, d) => {
      events(s, d).createOrReplaceTempView("graft_events_params")
      s.sql(
        """SELECT event_type, count(*) AS n
          |FROM graft_events_params
          |WHERE value > :floor AND event_type IN (:a, :b)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("floor" -> 50.0, "a" -> "click", "b" -> "purchase"))
    },
      // parameters bound to their literal values
      """SELECT event_type, count(*) AS n FROM events
        |WHERE value > 50.0 AND event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // -- [NS] string collations (Spark 4): case-insensitive grouping via
    // UTF8_LCASE — the engine-level answer to case-variant keys (the
    // normalize-by-hand alternative is q_dedup_exact_norm). Mixed case is
    // planted deterministically; the output key is lower()ed because a
    // collated group's representative is first-seen. --
    Query("q_collation", (s, d) =>
      events(s, d)
        .withColumn("mixed",
          when(col("event_id") % 2 === 0, upper(col("event_type")))
            .otherwise(col("event_type")))
        .groupBy(collate(col("mixed"), "UTF8_LCASE").as("k"))
        .agg(count(lit(1)).as("n"))
        .select(lower(col("k")).as("event_type"), col("n"))
        .orderBy("event_type"),
      // collated grouping = grouping on the lowercased key
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
        |               ELSE event_type END) AS event_type
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // -- [NS] SQL pipe syntax (Spark 4) + lateral column aliases: the
    // modern composable-SQL surface — each |> stage consumes the previous
    // one, and `v` is referenced by the sibling alias `v2` in the same
    // SELECT. Same plan as the nested-SQL equivalent; the oracle is the
    // plain-SQL twin. --
    Query("q_sql_pipe", (s, d) => {
      events(s, d).createOrReplaceTempView("graft_events_pipe")
      s.sql(
        """FROM graft_events_pipe
          ||> WHERE event_type IN ('click', 'purchase')
          ||> SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, v * 2 AS v2
          ||> AGGREGATE count(*) AS n, CAST(sum(v2) AS DOUBLE) AS doubled_total
          |   GROUP BY event_type
          ||> ORDER BY event_type""".stripMargin)
    },
      // the pipe chain re-expressed as plain SQL
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * 2) AS DOUBLE) AS doubled_total
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- [NS] try_* ANSI-safety family: errors become NULLs instead of
    // killing a 10-hour job — division by a zero denominator, long-add
    // overflow, and out-of-bounds array access; the oracle reproduces each
    // null site relationally. The overflow addend fires on id%1000 only:
    // try_add's internal catch costs ~40µs PER overflowing row (measured
    // 4.1 s at sf0.1 with every row overflowing), so the demo keeps the
    // exception path as rare as production data would --
    Query("q_try_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        round(try_divide(col("value"), (col("user_id") % 3).cast("double")), 4)
          .as("safe_div"),
        try_add(col("event_id"),
          when(col("event_id") % 1000 === 0, lit(Long.MaxValue)).otherwise(lit(1L)))
          .as("safe_add"),
        try_element_at(array(col("event_type")), lit(2)).as("safe_elem"))
        .orderBy("event_id"),
      // each try_* null site reproduced: zero denominator, guaranteed
      // overflow for positive ids, index past a 1-element list
      """SELECT event_id,
        |  CASE WHEN user_id % 3 = 0 THEN NULL
        |       ELSE round(value / CAST(user_id % 3 AS DOUBLE), 4) END AS safe_div,
        |  CASE WHEN event_id % 1000 = 0 THEN
        |    CASE WHEN event_id > 0 THEN NULL
        |         ELSE CAST(CAST(event_id AS HUGEINT) + 9223372036854775807 AS BIGINT) END
        |  ELSE event_id + 1 END AS safe_add,
        |  CAST(NULL AS VARCHAR) AS safe_elem
        |FROM events ORDER BY event_id""".stripMargin),

    // -- [NS] arg-min/max aggregates (deterministic: keyed by unique event_id) --
    Query("q_minmax_by", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          max_by(round(col("value"), 4), col("event_id")).as("latest_value"),
          min_by(round(col("value"), 4), col("event_id")).as("first_value"),
          max(col("event_id")).as("max_id"),
          min(col("event_id")).as("min_id"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  arg_max(round(value, 4), event_id) AS latest_value,
        |  arg_min(round(value, 4), event_id) AS first_value,
        |  max(event_id) AS max_id, min(event_id) AS min_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] array function surface over the embedding column --
    // -- [NS] higher-order array functions (lambda surface): transform /
    // filter / aggregate / zip_with / exists in one pass. All lambda
    // results here are exact integers (counts and comparisons, no float
    // folds) so the oracle is bit-deterministic regardless of either
    // engine's summation order. --
    Query("q_higher_order", (s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        // transform + aggregate with integer accumulation: positive count
        aggregate(transform(col("embedding"), x => when(x > 0, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).as("n_pos_agg"),
        // filter: the same count via the filtered array's size
        size(filter(col("embedding"), x => x > 0)).as("n_pos_filter"),
        // zip_with against the reversed vector: how many positions beat
        // their mirror (strict), an exact pairwise comparison
        aggregate(zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => when(a > b, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .as("n_beats_mirror"),
        // exists: any component above 3 sigma-ish
        exists(col("embedding"), x => x > 3.0f).as("has_outlier"))
        .orderBy("vec_id"),
      """SELECT vec_id,
        |  CAST(list_sum(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS INT) AS n_pos_agg,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos_filter,
        |  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CASE WHEN embedding[i] > embedding[len(embedding) - i + 1] THEN 1 ELSE 0 END)) AS INT) AS n_beats_mirror,
        |  len(list_filter(embedding, x -> x > 3.0)) > 0 AS has_outlier
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Query("q_array_funcs", (s, d) =>
      embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        round(array_max(col("embedding")).cast("double"), 4).as("vmax"),
        round(array_min(col("embedding")).cast("double"), 4).as("vmin"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("head"),
        round(element_at(array_sort(col("embedding")), 3).cast("double"), 4).as("third_smallest"))
        .orderBy("vec_id"),
      """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS vmax,
        |  round(CAST(list_min(embedding) AS DOUBLE), 4) AS vmin,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS head,
        |  round(CAST(list_sort(embedding)[3] AS DOUBLE), 4) AS third_smallest
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // -- [NS] explode_outer: the null-preserving generator — rows whose
    // array is EMPTY survive with a null element instead of vanishing (the
    // classic silent-row-loss trap of plain explode); every 10th doc gets
    // an empty array deterministically --
    Query("q_explode_outer", (s, d) =>
      documents(s, d)
        .withColumn("arr",
          when(col("doc_id") % 10 === 0, array().cast("array<string>"))
            .otherwise(slice(TF.tokens(lower(col("text"))), 1, 3)))
        .select(col("doc_id"), explode_outer(col("arr")).as("tok"))
        .orderBy(col("doc_id"), col("tok").asc_nulls_last),
      // empty arrays survive as one null row (the outer-generator contract)
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')[1:3] END AS arr
        |  FROM documents)
        |SELECT doc_id,
        |  unnest(CASE WHEN len(arr) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS tok
        |FROM a
        |ORDER BY doc_id, tok NULLS LAST""".stripMargin),

    // -- [NS] regex scalar surface --
    Query("q_regex_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        regexp_extract(col("props"), "\\d+", 0).cast("int").as("k_extracted"),
        col("props").rlike("\"k\": 1").as("k_starts_1"),
        regexp_count(col("props"), lit("\\d")).as("n_digits"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CAST(regexp_extract(props, '\d+', 0) AS INT) AS k_extracted,
        |  regexp_matches(props, '"k": 1') AS k_starts_1,
        |  CAST(len(regexp_extract_all(props, '\d')) AS INT) AS n_digits
        |FROM events ORDER BY event_id""".stripMargin),

    // -- [NS] ordered set collection per group (sorted distinct CSV) --
    Query("q_collect_sorted", (s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_set(col("event_type"))), ",").as("types_csv"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id"),
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] unpivot/melt: wide numeric columns to long (metric, val) rows --
    Query("q_unpivot", (s, d) =>
      Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          round(col("val"), 4).as("val"))
        // val in the sort: (orderkey, linenumber) is NOT unique in this
        // synthetic lineitem, so the value column must break the tie
        .orderBy("l_orderkey", "l_linenumber", "metric", "val"),
      """SELECT l_orderkey, l_linenumber, metric, round(val, 4) AS val
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
        |      ON l_quantity, l_discount, l_tax INTO NAME metric VALUE val)
        |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin),

    // -- [NS] positional window values over a full-partition frame --
    Query("q_window_nth", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, d)
        .select(col("event_id"),
          first(col("event_id")).over(w).as("first_evt"),
          last(col("event_id")).over(w).as("last_evt"),
          nth_value(col("event_id"), 2).over(w).as("second_evt"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |  first_value(event_id) OVER w AS first_evt,
        |  last_value(event_id) OVER w AS last_evt,
        |  nth_value(event_id, 2) OVER w AS second_evt
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin),

    // -- [NS] SQL subquery surface: uncorrelated IN + scalar subquery
    // (Catalyst rewrites these to semi joins / scalar plans) --
    Query("q_in_subquery", (s, d) => {
      events(s, d).createOrReplaceTempView("events_sq")
      s.sql("""SELECT event_id, user_id FROM events_sq
               WHERE user_id IN (SELECT DISTINCT user_id FROM events_sq WHERE event_type = 'signup')
                 AND value > (SELECT min(value) FROM events_sq)
               ORDER BY event_id""")
    },
      """SELECT event_id, user_id FROM events
        |WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
        |  AND value > (SELECT min(value) FROM events)
        |ORDER BY event_id""".stripMargin),

    // -- [NS] correlated EXISTS with an extra predicate — the decorrelation
    // rewrite (predicate pulled into the derived semi-join condition) --
    Query("q_exists_correlated", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_ec")
      Tables.orders(s, d).createOrReplaceTempView("orders_ec")
      s.sql("""SELECT c_custkey, c_name FROM customer_ec c
               WHERE EXISTS (SELECT 1 FROM orders_ec o
                             WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
               ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin),

    // -- [NS] LATERAL correlated subquery: per-region top-2 nations — the
    // SQL form of "for each outer row, run this dependent subquery";
    // Catalyst decorrelates it into a ranked join (DecorrelateInnerQuery),
    // so nothing executes per-row --
    Query("q_lateral_join", (s, d) => {
      Tables.region(s, d).createOrReplaceTempView("region_lj")
      Tables.nation(s, d).createOrReplaceTempView("nation_lj")
      s.sql("""SELECT r.r_name, l.n_nationkey, l.n_name
               FROM region_lj r,
               LATERAL (SELECT n_nationkey, n_name FROM nation_lj
                        WHERE n_regionkey = r.r_regionkey
                        ORDER BY n_nationkey LIMIT 2) l
               ORDER BY r_name, n_nationkey""")
    },
      """SELECT r.r_name, l.n_nationkey, l.n_name
        |FROM region r,
        |LATERAL (SELECT n_nationkey, n_name FROM nation
        |         WHERE n_regionkey = r.r_regionkey
        |         ORDER BY n_nationkey LIMIT 2) l
        |ORDER BY r_name, n_nationkey""".stripMargin),

    // -- [NS] explicit cartesian: small × small cross join --
    Query("q_cross_join", (s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name"),
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"),

    // -- [NS] complex-type surface: map construction/access/keys and struct
    // nesting in one codegen'd pass — the type system beyond arrays (maps
    // and structs are what schema'd JSON/props columns decode into) --
    Query("q_complex_types", (s, d) =>
      events(s, d).where(col("event_id") < 1000)
        .select(col("event_id"),
          map(lit("type"), col("event_type"),
              lit("uid"), col("user_id").cast("string")).as("m"),
          struct(col("user_id").as("uid"), col("value").as("v")).as("st"))
        .select(
          col("event_id"),
          element_at(col("m"), "type").as("type_val"),
          size(col("m")).cast("int").as("n_keys"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys_csv"),
          col("st.uid").as("uid"),
          round(col("st.v"), 4).as("v"))
        .orderBy("event_id"),
      // the map/struct plumbing is Spark-side; every output is derivable
      // directly from the base columns
      """SELECT event_id, event_type AS type_val, CAST(2 AS INT) AS n_keys,
        |  'type,uid' AS keys_csv, user_id AS uid, round(value, 4) AS v
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin),

    // -- [NS] SQL DDL surface: CREATE OR REPLACE TEMP VIEW + CTAS
    // (CREATE TABLE ... USING PARQUET LOCATION ... AS SELECT) through the
    // session catalog, then a pure-SQL join through both catalog objects.
    // The CTAS materializes once per JVM (scratch guard); the views are
    // metadata, re-registered per call. Oracle recomputes the same join
    // directly over the base parquet. --
    Query("q_sql_ddl", (s, d) => {
      // table name carries the sf dir (hex of its hash): two dirs in one
      // JVM (spec at sf0.001, a dev Verify at sf0.01) must not clobber one
      // catalog entry out from under the other's scratch guard
      val tbl = f"graft_cust_orders_${d.hashCode & 0x7fffffff}%x"
      scratchDirs.getOrElseUpdate(s"ctas:$d", {
        val out = scratchDir("graft_ctas") + "/cust_orders"
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_src")
        s.sql(s"DROP TABLE IF EXISTS `$tbl`")
        s.sql(
          s"""CREATE TABLE `$tbl` USING PARQUET LOCATION '$out' AS
             |SELECT o_custkey, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
             |FROM graft_orders_src GROUP BY o_custkey""".stripMargin)
        out
      })
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_v")
      s.sql(
        s"""SELECT c.c_mktsegment, count(*) AS n_cust,
           |  CAST(sum(CAST(o.spend AS DECIMAL(18,2))) AS DOUBLE) AS segment_spend
           |FROM graft_customer_v c
           |JOIN `$tbl` o ON c.c_custkey = o.o_custkey
           |GROUP BY c.c_mktsegment
           |ORDER BY c.c_mktsegment""".stripMargin)
    },
      // the catalog objects are pass-through: same join computed directly
      """WITH co AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(co.spend AS DECIMAL(18,2))) AS DOUBLE) AS segment_spend
        |FROM customer c JOIN co ON c.c_custkey = co.o_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin),
  )
}
