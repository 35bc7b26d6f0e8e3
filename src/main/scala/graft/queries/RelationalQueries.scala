package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{AsofJoin, BloomJoin, Layout, Skyline}

import QueryHelpers._

/** The SQL surface: TPC-H-shaped joins and aggregates, windows, set
  * operators, events and sessions, as-of and range joins, nested and
  * scalar functions, and the file-format roundtrips.
  */
private[graft] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // ---- aggregation / scan surface (SURVEY §2.4 built-ins) ----

    QuerySpec("q1_pricing_summary", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q6_forecast_revenue", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    QuerySpec("q_filter_scan", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 49 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_partkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_partkey, l_linenumber
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin),

    // ---- joins (SURVEY §2.3 analog surface) ----

    QuerySpec("q3_top_unshipped_orders", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c.filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    QuerySpec("q5_nation_revenue", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q7 (volume shipping): bilateral trade between two nations by
    // ship year. Plan shape: the two-year shipdate filter pushes into
    // the fact scan; supplier and both nation role-copies broadcast
    // (dims), orders/customer join by shuffle on their keys; ONE
    // combiner aggregation onto (nation, nation, year) — a bounded
    // output at any corpus size.
    QuerySpec("q7_volume_shipping", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val sup = Tables(s, dir, "supplier")
      val n1 = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.filter(col("l_shipdate").between("1995-01-01", "1996-12-31"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_20" && col("cust_nation") === "NATION_11") ||
          (col("supp_nation") === "NATION_11" && col("cust_nation") === "NATION_20"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        |  AND ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
        |    OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // TPC-H Q8 (national market share): NATION_2's share of ECONOMY-part
    // revenue sold into ASIA, by order year. The share division is the
    // only double op and it quantizes through the floor(x·1e6 + 0.5)
    // BIGINT witness over exact decimal volume sums. Plan shape: the
    // part/region/nation/supplier dims broadcast, the two fact joins
    // shuffle on their keys, one bounded (year) aggregation.
    QuerySpec("q8_market_share", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val sup = Tables(s, dir, "supplier")
      val pEco = Tables(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val asiaN = Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val ns = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val vol = li
        .join(broadcast(pEco), col("l_partkey") === col("p_partkey"))
        .join(o.filter(col("o_orderdate").between("1995-01-01", "1996-12-31")),
          col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaN), col("c_nationkey") === col("c_nk"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .select(year(col("o_orderdate")).cast(LongType).as("o_year"),
          (dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .as("volume"),
          col("supp_nation"))
      val agg = vol.groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_2", col("volume"))).as("nv"),
          sum(col("volume")).as("tv"))
      agg.select(col("o_year"),
          coalesce(col("nv"), lit(0).cast(DecimalType(18, 2))).cast(DoubleType).as("nation_vol"),
          col("tv").cast(DoubleType).as("total_vol"),
          e6Witness(coalesce(col("nv"), lit(0).cast(DecimalType(18, 2))).cast(DoubleType) /
            col("tv").cast(DoubleType)).as("share_e6"))
        .withColumn("mkt_share", col("share_e6").cast(DoubleType) / 1e6)
        .orderBy("o_year")
    },
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
        |    ns.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'),
        |a AS (
        |  SELECT o_year,
        |    CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume END),
        |      CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS nation_vol,
        |    CAST(SUM(volume) AS DOUBLE) AS total_vol
        |  FROM vol GROUP BY o_year)
        |SELECT o_year, nation_vol, total_vol,
        |  CAST(FLOOR(nation_vol / total_vol * 1e6 + 0.5) AS BIGINT) AS share_e6,
        |  CAST(FLOOR(nation_vol / total_vol * 1e6 + 0.5) AS BIGINT) / 1e6 AS mkt_share
        |FROM a
        |ORDER BY o_year""".stripMargin),

    // ---- semi / anti joins (EXISTS / NOT EXISTS) ----

    QuerySpec("q_semi_join", { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val bigOrders = Tables(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q_anti_join", { (s, dir) =>
      val p = Tables(s, dir, "part")
      val li = Tables(s, dir, "lineitem")
      p.join(li.filter(col("l_quantity") >= 48), col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_brand"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 48)
        |ORDER BY p_partkey""".stripMargin),

    // ---- window / rank (SURVEY §2.4 missing-in-reference builtins) ----

    QuerySpec("q_window_top_orders", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    // ---- outer join with null handling ----

    QuerySpec("q_outer_join", { (s, dir) =>
      val p = Tables(s, dir, "part")
      val heavy = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      p.join(heavy, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"), coalesce(col("cnt"), lit(0L)).as("n_heavy"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, COALESCE(cnt, 0) AS n_heavy
        |FROM part LEFT JOIN (
        |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem
        |  WHERE l_quantity >= 48 GROUP BY l_partkey) h
        |ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin),

    // ---- ordered string aggregation ----

    QuerySpec("q_string_agg", { (s, dir) =>
      Tables(s, dir, "customer")
        .filter(col("c_custkey") <= 200)
        .groupBy(col("c_nationkey").cast(LongType).as("nationkey"))
        .agg(array_join(array_sort(collect_list(col("c_custkey").cast(StringType))), ",")
          .as("custkeys"),
          count(lit(1)).as("n"))
        .orderBy("nationkey")
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY CAST(c_custkey AS VARCHAR)) AS custkeys,
        |  COUNT(*) AS n
        |FROM customer WHERE c_custkey <= 200
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin),

    // ---- INTERSECT set operator ----

    QuerySpec("q_intersect", { (s, dir) =>
      val a = Tables(s, dir, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("custkey"))
      val b = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      a.intersect(b).orderBy("custkey")
    },
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin),

    // ---- analytic window functions (lead/lag) ----

    QuerySpec("q_lead_lag", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("prev_price"), col("next_key"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---- distinct / set-ish aggregates ----

    QuerySpec("q_segment_stats", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total_price"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // ---- cube / exact percentiles / scalar-function surface ----

    QuerySpec("q_cube", { (s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    QuerySpec("q_scalar_funcs", { (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_upper"),
          substring(col("o_orderpriority"), 1, 1).as("pri_code"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("mo"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          length(col("o_orderpriority")).cast(LongType).as("pri_len"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS pri_upper,
        |  substr(o_orderpriority, 1, 1) AS pri_code,
        |  o_orderstatus || '-' || o_orderpriority AS tag,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(length(o_orderpriority) AS BIGINT) AS pri_len
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin),

    // time-series densification: fill missing hours per event type with
    // zero counts (sequence generation + left join — the gap-fill op)
    QuerySpec("q_events_gapfill", { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("user_id") <= 20)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
      val spans = ev.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = spans.select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
          coalesce(col("c"), lit(0L)).as("n"))
        .orderBy("event_type", "hour")
    },
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events WHERE user_id <= 20),
        |hourly AS (SELECT event_type, h, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |spans AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT event_type, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM spans)
        |SELECT grid.event_type, strftime(grid.h, '%Y-%m-%d %H') AS hour,
        |  COALESCE(c, 0) AS n
        |FROM grid LEFT JOIN hourly ON grid.event_type = hourly.event_type AND grid.h = hourly.h
        |ORDER BY grid.event_type, hour""".stripMargin),

    // ---- events: time-bucketed aggregation ----

    QuerySpec("q_events_hourly", { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType).as("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin),

    // the bounded top-k aggregate on a non-vector workload: top-3 spenders
    // per event type (k-bounded state map-side — no per-group sort)
    QuerySpec("q_topk_users", { (s, dir) =>
      val spend = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType).as("total"))
      spend.groupBy(col("event_type"))
        .agg(topK(col("total"), col("user_id"), 3, ascending = false).as("hits"))
        .select(col("event_type"), posexplode(col("hits")))
        .select(col("event_type"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.label").as("user_id"), col("col.score").as("total"))
        .orderBy("event_type", "rank")
    },
      """WITH spend AS (
        |  SELECT user_id, event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        |  FROM events GROUP BY user_id, event_type),
        |ranked AS (
        |  SELECT event_type, user_id, total,
        |    row_number() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rank
        |  FROM spend)
        |SELECT event_type, rank, user_id, total
        |FROM ranked WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin),

    // ---- rollup / set operators ----

    QuerySpec("q_rollup", { (s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    QuerySpec("q_setop_except", { (s, dir) =>
      val c = Tables(s, dir, "customer").select(col("c_custkey").as("custkey"))
      val big = Tables(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      c.except(big).orderBy("custkey")
    },
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin),

    // ---- sessionization (gap-based event-time sessions) ----

    QuerySpec("q_events_sessionize", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("prev", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ts_us") - col("prev") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType).as("sum_value"))
        .orderBy("user_id", "session_id")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |f AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    // Z-order (Morton) clustering value over (user_id, event-time) — the
    // data-layout operator behind multi-dimensional min/max pruning
    // (Delta OPTIMIZE ZORDER BY; Orenstein 1984): sorting a 100 TB table
    // by this value makes range predicates on EITHER dimension prune row
    // groups, where a single-column sort serves only its own column.
    // Exact integer shift/mask arithmetic shared with the oracle
    // (Layout.zorderSqlExpr — the simhashBitSql pattern), so the whole
    // operator hash-matches; the locality property itself is spec-pinned
    // (LayoutSpec: an x-slab touches ≤1/4 of z-sorted buckets vs ALL
    // buckets of a y-sorted layout)
    QuerySpec("q_zorder_layout", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      ev.select(col("event_id"),
          Layout.zorder2(
            pmod(col("user_id"), lit(65536L)),
            pmod(expr("ts_us div 1000000"), lit(65536L)), 16).as("z"))
        .orderBy("event_id")
    },
    // identical shift/mask interleave, generated by the same code
    {
      val z = graft.ops.Layout.zorderSqlExpr(
        "(user_id % 65536)", "((epoch_us(ts) // 1000000) % 65536)", 16)
      s"""SELECT event_id, $z AS z
         |FROM events ORDER BY event_id""".stripMargin
    }),

    // SCD2 state history: compact each user's event-type stream into
    // validity intervals [valid_from_us, valid_to_us) — the slowly-
    // changing-dimension type-2 build a feature store derives from an
    // event log; consecutive same-state events collapse into one interval
    // and the open (current) interval carries NULL valid_to. Same
    // bounded-per-user window class as sessionize.
    QuerySpec("q_scd2_history", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("prev_state", lag(col("event_type"), 1).over(w))
        .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "valid_from_us")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_state
        |      FROM e),
        |r AS (SELECT * FROM f WHERE prev_state IS NULL OR prev_state <> event_type),
        |g AS (SELECT user_id, event_type AS state, ts_us AS valid_from_us,
        |        lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
        |      FROM r)
        |SELECT user_id, state, valid_from_us, valid_to_us
        |FROM g ORDER BY user_id, valid_from_us""".stripMargin),

    // ---- range-predicate join (equi key co-locates, range filters) ----

    QuerySpec("q_range_join", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      li.join(o, col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_shipped_30d"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, COUNT(*) AS n_shipped_30d
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // linear multi-touch attribution — every click in the 7 days before
    // a purchase shares its revenue equally (the marketing-analytics
    // complement of the as-of family's last-touch): same-user range
    // join (never a cross product), per-purchase touch count, then
    // per-click aggregation of the value/k shares
    QuerySpec("q_attribution_linear", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_eid"), col("user_id"),
          col("ts_us").as("p_ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_eid"), col("user_id"),
          col("ts_us").as("c_ts"))
      val winUs = 7L * 86400L * 1000000L
      // touch pairs feed both the per-purchase count and the share agg —
      // checkpoint so the range join runs once
      val touches = clicks.join(purchases, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") && col("c_ts") > col("p_ts") - winUs)
        .localCheckpoint(true)
      val k = touches.groupBy("p_eid").agg(count(lit(1)).as("k"))
      touches.join(k, "p_eid")
        .groupBy(col("c_eid").as("event_id"), col("user_id"))
        .agg(e6Witness(sum(col("value") / col("k"))).as("attr_revenue_e6"),
          count(lit(1)).as("n_purchases"))
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             epoch_us(ts) AS ts_us FROM events),
        |p AS (SELECT event_id AS p_eid, user_id, ts_us AS p_ts, value
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_eid, user_id, ts_us AS c_ts
        |      FROM e WHERE event_type = 'click'),
        |touches AS MATERIALIZED (
        |  SELECT c.c_eid, c.user_id, p.p_eid, p.value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - 604800000000),
        |k AS (SELECT p_eid, COUNT(*) AS k FROM touches GROUP BY p_eid)
        |SELECT t.c_eid AS event_id, t.user_id,
        |  CAST(FLOOR(SUM(t.value / k.k) * 1000000.0 + 0.5) AS BIGINT) AS attr_revenue_e6,
        |  COUNT(*) AS n_purchases
        |FROM touches t JOIN k ON k.p_eid = t.p_eid
        |GROUP BY t.c_eid, t.user_id
        |ORDER BY event_id""".stripMargin),

    // ---- as-of join: latest prior click per purchase (union + window,
    //      one key shuffle, no range cross-product) ----

    QuerySpec("q_asof_join", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("tag"),
          col("event_id"), lit(null).cast(LongType).as("click_ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
          lit(null).cast(LongType).as("event_id"), col("ts_us").as("click_ts_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.unionByName(clicks)
        .withColumn("last_click_us", max(col("click_ts_us")).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"), col("last_click_us"))
        .orderBy("event_id")
    },
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
        |         NULL::BIGINT AS click_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *, MAX(click_ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, tag ROWS UNBOUNDED PRECEDING) AS last_click_us
        |  FROM u)
        |SELECT event_id, user_id, ts_us AS purchase_ts_us, last_click_us
        |FROM w WHERE tag = 1
        |ORDER BY event_id""".stripMargin),

    // the skew-safe formulation of the same as-of join: range-bucketed
    // two-pass (see AsofJoin.asofJoinBucketed) — same oracle as
    // q_asof_join because the plans are semantically identical; this one
    // survives a single user_id holding 10⁹ events where the window form
    // straggles. Bucket = 1 day of event time.
    QuerySpec("q_asof_join_bucketed", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("ts_us").as("click_ts_us"))
      AsofJoin.asofJoinBucketed(purchases, clicks, "user_id",
          "ts_us", "ts_us", Seq("click_ts_us"), bucketWidth = 86400000000L)
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"),
          col("asof_click_ts_us").as("last_click_us"))
        .orderBy("event_id")
    },
    // the bucketed two-pass plan answers the SAME question — one oracle
    // text, two physical strategies (window vs range-bucketed)
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
        |         NULL::BIGINT AS click_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *, MAX(click_ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, tag ROWS UNBOUNDED PRECEDING) AS last_click_us
        |  FROM u)
        |SELECT event_id, user_id, ts_us AS purchase_ts_us, last_click_us
        |FROM w WHERE tag = 1
        |ORDER BY event_id""".stripMargin),

    // tolerance-bounded as-of join (pandas merge_asof tolerance=...): the
    // backward match is DISCARDED when staler than 30 minutes — the
    // feature-store freshness rule (a stale feature is worse than a null
    // one). Same plan as q_asof_join; the tolerance is a narrow
    // projection on the carried match timestamp, zero extra shuffles.
    QuerySpec("q_asof_join_tolerance", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"))
      val tolUs = 1800L * 1000000L
      AsofJoin.asofJoin(purchases, clicks, "user_id", "ts_us", "ts_us",
          Seq("ts_us"))
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"),
          when(col("ts_us") - col("asof_ts_us") <= tolUs, col("asof_ts_us"))
            .as("fresh_click_us"))
        .orderBy("event_id")
    },
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
        |         NULL::BIGINT AS click_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *, MAX(click_ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, tag ROWS UNBOUNDED PRECEDING) AS last_click_us
        |  FROM u)
        |SELECT event_id, user_id, ts_us AS purchase_ts_us,
        |  CASE WHEN ts_us - last_click_us <= 1800000000 THEN last_click_us
        |  END AS fresh_click_us
        |FROM w WHERE tag = 1
        |ORDER BY event_id""".stripMargin),

    // nearest-direction as-of join (pandas merge_asof direction='nearest',
    // the sensor/feature-alignment variant): per purchase, the click ts
    // nearest in event time in EITHER direction, ties to the earlier
    // click. One union + two cumulative windows (backward max, forward
    // min) — still a single shuffle on user_id, no self-join; at a
    // billion events per user this is the same bounded-window shape as
    // q_asof_join. Same-ts clicks sort before the purchase (tag order) so
    // they count as the backward candidate with delta 0, which the tie
    // rule then keeps.
    QuerySpec("q_asof_join_nearest", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"))
      AsofJoin.asofJoinNearest(purchases, clicks, "user_id", "ts_us", "ts_us")
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"),
          col("asof_ts").as("nearest_click_us"))
        .orderBy("event_id")
    },
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
        |         NULL::BIGINT AS click_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    MAX(click_ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, tag ROWS UNBOUNDED PRECEDING) AS prev_click_us,
        |    MIN(click_ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, tag
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_us
        |  FROM u)
        |SELECT event_id, user_id, ts_us AS purchase_ts_us,
        |  CASE WHEN prev_click_us IS NULL THEN next_click_us
        |       WHEN next_click_us IS NULL THEN prev_click_us
        |       WHEN ts_us - prev_click_us <= next_click_us - ts_us THEN prev_click_us
        |       ELSE next_click_us END AS nearest_click_us
        |FROM w WHERE tag = 1
        |ORDER BY event_id""".stripMargin),

    // the skew-safe formulation of the nearest as-of join: symmetric
    // range-bucketed two-pass (AsofJoin.asofJoinNearestBucketed) — same
    // oracle as q_asof_join_nearest because the plans are semantically
    // identical; this one survives a single user_id holding 10⁹ events
    // (no window keyed on the raw user_id alone). Bucket = 1 day.
    QuerySpec("q_asof_join_nearest_bucketed", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"))
      AsofJoin.asofJoinNearestBucketed(purchases, clicks, "user_id",
          "ts_us", "ts_us", Seq.empty, bucketWidth = 86400000000L)
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"),
          col("asof_ts").as("nearest_click_us"))
        .orderBy("event_id")
    },
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
        |         NULL::BIGINT AS click_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    MAX(click_ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, tag ROWS UNBOUNDED PRECEDING) AS prev_click_us,
        |    MIN(click_ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, tag
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_us
        |  FROM u)
        |SELECT event_id, user_id, ts_us AS purchase_ts_us,
        |  CASE WHEN prev_click_us IS NULL THEN next_click_us
        |       WHEN next_click_us IS NULL THEN prev_click_us
        |       WHEN ts_us - prev_click_us <= next_click_us - ts_us THEN prev_click_us
        |       ELSE next_click_us END AS nearest_click_us
        |FROM w WHERE tag = 1
        |ORDER BY event_id""".stripMargin),

    // Bloom-pruned fact-dim join: the dim subset matches ~a few % of fact
    // rows; the serialized Bloom filter rides in the fact scan's filter so
    // the non-matching bulk is discarded BEFORE the shuffle (false
    // positives drop out in the exact join — row-identical to the plain
    // join, which is exactly what this oracle checks)
    QuerySpec("q_bloom_join", { (s, dir) =>
      val small = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      val big = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      BloomJoin.bloomPrunedJoin(big, small, "o_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          e4Witness(sum(col("l_quantity")))
            .as("sum_qty_e4"))
        .orderBy("o_orderkey")
    },
    // the bloom-pruned plan must be row-identical to the plain join
      """SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items,
        |  CAST(FLOOR(SUM(l_quantity) * 10000.0 + 0.5) AS BIGINT) AS sum_qty_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // ---- salted (skew-safe) two-stage aggregation — must equal the
    //      direct groupBy exactly (decimal sums are order-independent) ----

    QuerySpec("q_salted_agg", { (s, dir) =>
      graft.ops.Skew.saltedSumCount(
        Tables(s, dir, "lineitem"),
        Seq("l_returnflag"), dec(col("l_quantity")), "qty", buckets = 16)
        .select(col("l_returnflag"),
          col("sum_qty").cast(DoubleType).as("sum_qty"), col("n_rows"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // salted skew-safe join — must produce exactly the plain join's rows.
    // The replicated side must be the SMALL one (supplier: buckets× a few
    // rows); hot lineitem supplier-keys spread over `buckets` reducers
    QuerySpec("q_salted_join", { (s, dir) =>
      graft.ops.Skew.saltedJoin(
        Tables(s, dir, "lineitem").filter(col("l_quantity") >= 45),
        Tables(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"),
          col("s_nationkey")),
        key = "l_suppkey", buckets = 8)
        .groupBy(col("s_nationkey").cast(LongType).as("nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
        .orderBy("nationkey")
    },
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_quantity >= 45
        |GROUP BY s_nationkey
        |ORDER BY nationkey""".stripMargin),

    // cohort retention: per signup-day cohort, share of users active
    // again 1 and 7 days later
    QuerySpec("q_events_retention", { (s, dir) =>
      // ev feeds both the cohort agg and the activity set — materialize once
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .localCheckpoint(true)
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      val activity = ev.select(col("user_id"), col("d")).distinct()
      first.join(activity, "user_id")
        .groupBy(col("cohort_day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("d") === date_add(col("cohort_day"), 1), col("user_id")))
            .as("d1_retained"),
          countDistinct(when(col("d") === date_add(col("cohort_day"), 7), col("user_id")))
            .as("d7_retained"))
        .orderBy("cohort_day")
    },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, d FROM e)
        |SELECT cohort_day,
        |  COUNT(DISTINCT a.user_id) AS n_users,
        |  COUNT(DISTINCT CASE WHEN a.d = f.cohort_day + INTERVAL 1 DAY THEN a.user_id END) AS d1_retained,
        |  COUNT(DISTINCT CASE WHEN a.d = f.cohort_day + INTERVAL 7 DAY THEN a.user_id END) AS d7_retained
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY cohort_day
        |ORDER BY cohort_day""".stripMargin),

    // ---- TPC-H-shaped additions (round 2) ----

    // Q4 shape: EXISTS with a non-equi correlated predicate. Evaluated as
    // aggregate-below-join: max(l_shipdate) per order first (map-side
    // combined, 4-7× row reduction), then one equi join + filter — the
    // existence test needs only the extreme value, so the semi join never
    // has to probe every matching lineitem row. (q_semi_join keeps the
    // plain left-semi surface.)
    QuerySpec("q4_order_priority", { (s, dir) =>
      val lastShip = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
      Tables(s, dir, "orders")
        .join(lastShip, col("o_orderkey") === col("l_orderkey"))
        .filter(col("last_ship") > col("o_orderdate"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Q10 shape: 3-way join, revenue per customer, top 20
    QuerySpec("q10_returned_revenue", { (s, dir) =>
      val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // Q18 shape: HAVING on a grouped sum, joined back to orders
    QuerySpec("q18_large_orders", { (s, dir) =>
      val big = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("tq"))
        .filter(col("tq") > 200)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("tq").cast(DoubleType).as("total_qty"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(tq AS DOUBLE) AS total_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200) t
        |ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // TPC-H Q21 (suppliers who kept the order waiting) — the canonical
    // double-correlated EXISTS / NOT EXISTS join stressor, adapted to
    // this schema (no commit/receipt dates: the "failed" line predicate
    // is l_returnflag = 'R'). Expressed Spark-first as LEFT SEMI (some
    // OTHER supplier shares the order) + LEFT ANTI (no OTHER supplier's
    // line was returned) — both key on l_orderkey, so after the fact
    // shuffle the three join legs are co-partitioned; supplier and
    // nation are broadcast dims; output is supplier-bounded. No
    // cartesian anywhere; the semi/anti forms stop at first match
    // instead of multiplying rows the way an inner self-join would.
    QuerySpec("q21_waiting_supplier", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val l1 = li.filter(col("l_returnflag") === "R")
        .join(o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"))
      val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
      l1.join(l2, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
          "left_anti")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.filter(col("n_nationkey") <= 4)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(100)
    },
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey AND n_nationkey <= 4
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin),

    // TPC-H Q20 (excess supply) — nested semi-join stack with a
    // correlated aggregate threshold, adapted to this schema (no
    // partsupp: "availqty" is the supplier's shipped quantity of the
    // part in 1996). A supplier qualifies if, for SOME filtered part,
    // its 1996 shipments exceed half of that part's total 1996
    // shipments. All-integer threshold (2·supp_qty > part_total — the
    // quantities are integral longs), so no float ever decides a row.
    // Plan: the filtered part list broadcast-semi-joins into the fact
    // scan; per-(supp, part) and per-part aggs share one shuffle key
    // family; the final supplier list is a semi join onto a dim.
    QuerySpec("q20_excess_supply", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val parts = p.filter(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val supply = li
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_suppkey"), col("l_partkey"),
          col("l_quantity").cast(LongType).as("q"))
        .localCheckpoint(true) // feeds both the per-supplier and per-part aggs
      val perSupp = supply.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("q")).as("sq"))
      val perPart = supply.groupBy(col("l_partkey")).agg(sum(col("q")).as("tq"))
      val qualifying = perSupp.join(perPart, "l_partkey")
        .filter(col("sq") * 2 > col("tq"))
        .select(col("l_suppkey")).distinct()
      // nation cut <= 15, not <= 9 (r16 ADVICE): at sf0.001 every
      // half-share qualifier sat in nations 12+, so the <= 9 pin was the
      // empty-result hash and the tier gate was vacuous; <= 15 keeps 3
      // qualifiers at sf0.001 and stays selective at every larger scale
      sup.join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(n.filter(col("n_nationkey") <= 15)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy("s_name")
    },
      """WITH supply AS (
        |  SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')),
        |per_supp AS (SELECT l_suppkey, l_partkey, SUM(q) AS sq
        |  FROM supply GROUP BY 1, 2),
        |per_part AS (SELECT l_partkey, SUM(q) AS tq FROM supply GROUP BY 1)
        |SELECT s_name, n_name
        |FROM supplier
        |JOIN nation ON n_nationkey = s_nationkey AND n_nationkey <= 15
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey FROM per_supp ps
        |  JOIN per_part pp ON ps.l_partkey = pp.l_partkey
        |  WHERE ps.sq * 2 > pp.tq)
        |ORDER BY s_name""".stripMargin),

    // TPC-H Q22 (global sales opportunity) — the anti-join + scalar-
    // aggregate-threshold shape: dormant rich customers (above-average
    // balance, no order since 2000 — this generator gives every
    // customer SOME order, so recency is the dormancy cut), grouped by
    // nation band (standing in for the phone country code). The average threshold is applied as an
    // EXACT cross-multiplied decimal compare (bal·n > Σbal), so no
    // division or float decides membership on either engine; the order
    // probe is a LEFT ANTI join (stops at first match, no row
    // multiplication); emission is exact cents.
    QuerySpec("q22_dormant_customers", { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      val band = c.filter(col("c_nationkey") <= 6)
      val pos = band.filter(dec(col("c_acctbal")) > 0)
        .agg(count(lit(1)).as("npos"),
          sum(dec(col("c_acctbal"))).as("sumpos"))
      band.crossJoin(broadcast(pos))
        .filter(dec(col("c_acctbal")) * col("npos") > col("sumpos"))
        .join(o.filter(col("o_orderdate") >= "2000-01-01")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          (sum(dec(col("c_acctbal"))) * 100).cast(DecimalType(38, 0))
            .cast(LongType).as("totacctbal_cents"))
        .orderBy("c_nationkey")
    },
      """WITH band AS (SELECT * FROM customer WHERE c_nationkey <= 6),
        |pos AS (SELECT CAST(COUNT(*) AS BIGINT) AS npos,
        |    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sumpos
        |  FROM band WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS totacctbal_cents
        |FROM band, pos
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * npos > sumpos
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),

    // TPC-H Q13 (customer order-count distribution) — the filtered
    // LEFT OUTER join + double aggregation: customers keep their row
    // even with zero qualifying orders (the histogram's zero bucket is
    // the point of the query). The priority filter stands in for the
    // o_comment NOT LIKE filter. Plan: one shuffle on custkey for the
    // outer join + count, one combiner agg onto the bounded count
    // domain.
    QuerySpec("q13_order_histogram", { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(!col("o_orderpriority").startsWith("4-"))
        .select(col("o_custkey"), col("o_orderkey"))
      c.select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority NOT LIKE '4-%'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q19 (discounted revenue over a disjunctive predicate) —
    // the pushdown stressor: three (brand, size-range, quantity-range)
    // OR-blocks spanning both join sides. Catalyst's CNF conversion
    // pushes the part-only disjunction into the broadcast dim scan and
    // the quantity disjunction into the fact scan, so the join input is
    // pre-pruned on both sides. Emission is the exact 10⁻⁴-quantized
    // revenue integer (the decimal sum is exact at scale 4; ×10⁴ is
    // integral, so the cast rounds nothing).
    QuerySpec("q19_disjunctive_revenue", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part")
      def block(brand: String, sizeHi: Int, qLo: Int, qHi: Int): Column =
        col("p_brand") === brand &&
        col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(block("Brand#12", 5, 1, 11) ||
                block("Brand#23", 10, 10, 20) ||
                block("Brand#34", 15, 20, 30))
        .agg(count(lit(1)).as("n_lines"),
          (sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))) * 10000)
            .cast(DecimalType(38, 0)).cast(LongType).as("revenue_e4"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    * 10000 AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue) — the correlated scalar
    // AVG subquery a SQL user hits weekly: lines whose quantity is under
    // 20% of their part's average. Decorrelated into one per-part agg
    // re-joined to the brand-filtered fact slice; the threshold is the
    // exact integer cross-multiply 5·q·n < Σq (quantities are integral
    // longs), so no float ever decides a row. Plan: the part list
    // broadcast-semi-joins the scan once; the agg and the re-join share
    // the l_partkey shuffle key family (AQE broadcasts the agg side
    // when small).
    QuerySpec("q17_small_qty_revenue", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val parts = Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val fact = li
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity").cast(LongType).as("q"),
          col("l_extendedprice"))
        .localCheckpoint(true) // feeds the per-part agg AND the re-join
      val pp = fact.groupBy(col("l_partkey")).agg(
          sum(col("q")).as("sumq"), count(lit(1)).as("nq"))
        .withColumnRenamed("l_partkey", "pk")
      fact.join(pp, col("l_partkey") === col("pk"))
        .filter(col("q") * 5 * col("nq") < col("sumq"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(dec(col("l_extendedprice"))) * 100)
            .cast(DecimalType(38, 0)).cast(LongType).as("revenue_cents"))
    },
      """WITH fact AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    l_extendedprice
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |    WHERE p_brand = 'Brand#23')),
        |pp AS (SELECT l_partkey AS pk, SUM(q) AS sumq,
        |    CAST(COUNT(*) AS BIGINT) AS nq
        |  FROM fact GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS revenue_cents
        |FROM fact JOIN pp ON l_partkey = pk
        |WHERE q * 5 * nq < sumq""".stripMargin),

    // TPC-H Q2 (min-cost supplier) — the correlated scalar MIN subquery
    // over a second dimension path. This schema has no partsupp, so
    // "supply cost" is the cheapest line (exact cents) the supplier ever
    // shipped the part at. Decorrelated: per-(part,supp) MIN, then
    // per-part MIN over the region's suppliers, equi-joined back on
    // (part, cost) to keep every min-achieving pair — set semantics,
    // exactly TPC-H's own tie rule, so no tiebreak is needed for
    // determinism (equal-sort-key rows are value-identical). Both aggs
    // share the l_partkey key family; dims broadcast.
    QuerySpec("q2_min_cost_supplier", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part").filter(col("p_size") <= 5)
        .select(col("p_partkey"))
      val rs = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")
          .filter(col("n_regionkey") === 1)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
      val cost = li
        .join(broadcast(rs.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(min(round(col("l_extendedprice") * 100, 0).cast(LongType))
          .as("cost_cents"))
        .localCheckpoint(true) // feeds the per-part min AND the pair join
      val mc = cost.groupBy(col("pk")).agg(min(col("cost_cents")).as("mcost"))
        .withColumnRenamed("pk", "pk2")
      cost.join(mc, col("pk") === col("pk2") && col("cost_cents") === col("mcost"))
        .join(broadcast(rs), col("sk") === col("s_suppkey"))
        .select(round(col("s_acctbal") * 100, 0).cast(LongType).as("bal_cents"),
          col("s_name"), col("n_name"), col("pk").as("p_partkey"),
          col("cost_cents"))
        .orderBy(desc("bal_cents"), col("s_name"), col("p_partkey"),
          col("n_name"), col("cost_cents"))
        .limit(100)
    },
      """WITH rs AS (SELECT s_suppkey, s_acctbal, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    AND n_regionkey = 1),
        |cost AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |    MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM rs)
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
        |  GROUP BY 1, 2),
        |mc AS (SELECT pk, MIN(cost_cents) AS mcost FROM cost GROUP BY 1)
        |SELECT CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_cents,
        |  s_name, n_name, pk AS p_partkey, cost_cents
        |FROM cost JOIN mc USING (pk) JOIN rs ON sk = s_suppkey
        |WHERE cost_cents = mcost
        |ORDER BY bal_cents DESC, s_name, p_partkey, n_name, cost_cents
        |LIMIT 100""".stripMargin),

    // TPC-H Q15 (top supplier) — the revenue view + global scalar MAX:
    // quarterly revenue per supplier, keep the max achiever(s). Exact
    // e4 integer revenue; the 1-row max broadcasts into an equality
    // filter (ties kept — TPC-H's own rule).
    QuerySpec("q15_top_supplier", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val one = lit(1).cast(DecimalType(18, 2))
      val rev = li
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
        .groupBy(col("l_suppkey"))
        .agg((sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))) * 10000)
          .cast(DecimalType(38, 0)).cast(LongType).as("total_rev_e4"))
        .localCheckpoint(true) // feeds the max AND the equality filter
      val mx = rev.agg(max(col("total_rev_e4")).as("mx"))
      rev.crossJoin(broadcast(mx)).filter(col("total_rev_e4") === col("mx"))
        .join(broadcast(Tables(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      * 10000 AS BIGINT) AS total_rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_e4 = (SELECT MAX(total_rev_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q11 (important stock) — the group-vs-global HAVING shape:
    // per-part shipped value from one nation band's suppliers, kept when
    // the part's value exceeds 2× the mean part value. TPC-H's fraction
    // is SF-dependent (0.0001/SF); the mean-relative form is the
    // scale-invariant equivalent, applied as the exact integer
    // cross-multiply val·n_parts > 2·total on e4 decimals, so the gate
    // is never decided by a float at any scale.
    QuerySpec("q11_important_parts", { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val one = lit(1).cast(DecimalType(18, 2))
      val sup = Tables(s, dir, "supplier").filter(col("s_nationkey") <= 3)
        .select(col("s_suppkey"))
      val v = Tables(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg((sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))) * 10000)
          .cast(d38).as("val"))
        .localCheckpoint(true) // feeds the global total AND the filter
      val t = v.agg(sum(col("val")).as("tot"), count(lit(1)).as("np"))
      v.crossJoin(broadcast(t))
        .filter(col("val") * col("np") > col("tot") * 2)
        .select(col("l_partkey"), col("val").cast(LongType).as("value_e4"))
        .orderBy(desc("value_e4"), col("l_partkey"))
    },
      """WITH v AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      * 10000 AS HUGEINT) AS val
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |    WHERE s_nationkey <= 3)
        |  GROUP BY 1),
        |t AS (SELECT SUM(val) AS tot, CAST(COUNT(*) AS HUGEINT) AS np FROM v)
        |SELECT l_partkey, CAST(val AS BIGINT) AS value_e4
        |FROM v, t
        |WHERE val * np > tot * 2
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin),

    // TPC-H Q16 (supplier count by part descriptor) — COUNT(DISTINCT) +
    // NOT IN: distinct shipping suppliers per (brand, type, size) over
    // the filtered parts, excluding negative-balance suppliers (the
    // complaints-comment proxy) via a broadcast ANTI join (NOT IN with a
    // non-null key is exactly an anti join). One shuffle on the
    // grouping key for the distinct.
    QuerySpec("q16_supplier_count", { (s, dir) =>
      val p = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val bad = Tables(s, dir, "supplier")
        .filter(dec(col("s_acctbal")) < 0).select(col("s_suppkey"))
      Tables(s, dir, "lineitem")
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q9 (product-type profit by nation and year) — the 5-way
    // star with a LIKE part filter. No partsupp: unit cost is the
    // catalog stand-in 0.1·p_retailprice, so profit = Σ ext·(1−disc) −
    // Σ 0.1·retail·qty; both sums are exact decimals and the emission is
    // one e4 integer (retail·qty·1000 ≡ e4 of the 10% cost — nothing is
    // ever rounded). Dims broadcast; the orders join is the only
    // fact-fact shuffle, keyed on l_orderkey.
    QuerySpec("q9_product_type_profit", { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val one = lit(1).cast(DecimalType(18, 2))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast(LongType).as("yr"))
      val p = Tables(s, dir, "part").filter(col("p_name").endsWith("rod"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      Tables(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("yr"))
        .agg(((sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))) * 10000).cast(d38) -
            (sum(dec(col("p_retailprice")) * col("l_quantity").cast(LongType)) * 1000).cast(d38))
            .cast(LongType).as("profit_e4"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"), desc("yr"))
    },
      """SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      * 10000 AS HUGEINT)
        |    - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS BIGINT)) * 1000 AS HUGEINT)
        |    AS BIGINT) AS profit_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE '%rod'
        |GROUP BY 1, 2
        |ORDER BY n_name, yr DESC""".stripMargin),

    // TPC-H Q12 (shipping-priority counts) — join + conditional counts.
    // This schema has no shipmode/commitdate: the mode proxy is
    // l_linestatus and "late" is shipped more than 90 days after the
    // order date, one shipment year. Integer counts end to end; the
    // orders join is the one shuffle and the CASE counts fold map-side.
    QuerySpec("q12_late_lines", { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
        .join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate").cast(DateType),
          col("o_orderdate").cast(DateType)) > 90)
        .groupBy(col("l_linestatus"))
        .agg(count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy("l_linestatus")
    },
      """SELECT l_linestatus,
        |  CAST(COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // TPC-H Q14 (promo revenue share) — one shipment month; the share is
    // the repo's integer-ratio witness: pct_e6 = floordiv(2·pr·1e8 + tr,
    // 2·tr) over the exact e4 revenue integers (= 100·pr/tr at 6 dp,
    // half-up; numerator nonnegative so plain floordiv is sign-correct).
    // q_promo_share keeps the legacy double-share face; this is the
    // declared Q14 with the witness emission.
    QuerySpec("q14_promo_revenue", { (s, dir) =>
      val d38 = DecimalType(38, 0)
      val one = lit(1).cast(DecimalType(18, 2))
      val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
      val agg = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-09-01" && col("l_shipdate") < "1996-10-01")
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg((sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(18, 2)))) * 10000).cast(d38).as("pr"),
          (sum(rev) * 10000).cast(d38).as("tr"),
          count(lit(1)).as("n_lines"))
      val num = col("pr") * lit(200000000L).cast(d38) + col("tr")
      val den = col("tr") * lit(2)
      agg.select(((num - pmod(num, den)) / den).cast(LongType).as("promo_pct_e6"),
        col("pr").cast(LongType).as("promo_rev_e4"),
        col("tr").cast(LongType).as("total_rev_e4"),
        col("n_lines"))
    },
      """WITH agg AS (SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS HUGEINT) AS pr,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      * 10000 AS HUGEINT) AS tr,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT CAST((pr * 200000000 + tr) // (tr * 2) AS BIGINT) AS promo_pct_e6,
        |  CAST(pr AS BIGINT) AS promo_rev_e4,
        |  CAST(tr AS BIGINT) AS total_rev_e4,
        |  n_lines
        |FROM agg""".stripMargin),

    // conditional aggregation (count/sum over CASE predicates)
    QuerySpec("q_conditional_agg", { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("n_high"),
          count(when(col("o_orderpriority") === "5-LOW", 1)).as("n_low"),
          count(lit(1)).as("n_total"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), dec(col("o_totalprice"))))
            .cast(DoubleType).as("high_revenue"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS n_high,
        |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS high_revenue
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // Q14 shape: ratio of conditional revenue (promo share)
    QuerySpec("q_promo_share", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part")
      val rev = dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) * sum(when(col("p_type") === "PROMO", rev)).cast(DoubleType)
            / sum(rev).cast(DoubleType)).as("promo_share"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT
        |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_share,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),

    // GROUPING SETS with grouping() flags (SQL surface)
    QuerySpec("q_grouping_sets", { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM graft_lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // pivot: status columns per priority row
    QuerySpec("q_pivot", { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))).cast(DoubleType))
        .select(col("o_orderpriority"), col("F").as("f_total"),
          col("O").as("o_total"), col("P").as("p_total"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |  CAST(SUM(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |  CAST(SUM(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // max_by / min_by with an epsilon tie-break key (acctbal has exact
    // duplicates at sf0.1; custkey·1e-9 is far below the 0.01 grid, so the
    // key is unique and both engines pick the smaller custkey on ties)
    QuerySpec("q_minmax_by", { (s, dir) =>
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey").cast(LongType).as("nationkey"))
        .agg(
          max_by(col("c_custkey"), col("c_acctbal") - col("c_custkey") * lit(1e-9)).as("richest_cust"),
          max(col("c_acctbal")).as("max_bal"),
          min_by(col("c_custkey"), col("c_acctbal") + col("c_custkey") * lit(1e-9)).as("poorest_cust"),
          min(col("c_acctbal")).as("min_bal"))
        .orderBy("nationkey")
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  arg_max(c_custkey, c_acctbal - c_custkey * 1e-9) AS richest_cust,
        |  MAX(c_acctbal) AS max_bal,
        |  arg_min(c_custkey, c_acctbal + c_custkey * 1e-9) AS poorest_cust,
        |  MIN(c_acctbal) AS min_bal
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin),

    // exact MODE per group with a deterministic tie policy (most frequent
    // o_orderpriority per order month; ties → lexicographically smallest
    // mode). Shape: one combiner-friendly groupBy to the (month, priority)
    // frequency table — the only corpus-wide pass — then a row_number
    // window whose partitions are bounded by the mode-domain size (≤ 5
    // rows each), the always-safe window class. The frequency share
    // quantizes through exact BIGINT arithmetic
    // (floor(cnt·1e6/total + 1/2) as integer ops), never a ROUND(double)
    // — the boundary-proof emission convention.
    QuerySpec("q_mode_by_group", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val freq = Tables(s, dir, "orders")
        .groupBy(trunc(col("o_orderdate"), "month").as("order_month"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("order_month"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      val tot = Window.partitionBy(col("order_month"))
      freq
        .withColumn("rn", row_number().over(w))
        .withColumn("total", sum(col("cnt")).over(tot))
        .filter(col("rn") === 1)
        .select(col("order_month"), col("o_orderpriority").as("mode_priority"),
          col("cnt").as("mode_count"),
          expr("(cnt * 2000000 + total) div (total * 2)").as("share_e6"))
        .orderBy("order_month")
    },
      """WITH f AS (
        |  SELECT date_trunc('month', o_orderdate)::DATE AS order_month,
        |    o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT order_month, o_orderpriority, cnt,
        |    row_number() OVER (PARTITION BY order_month
        |      ORDER BY cnt DESC, o_orderpriority) AS rn,
        |    SUM(cnt) OVER (PARTITION BY order_month) AS total
        |  FROM f)
        |SELECT order_month, o_orderpriority AS mode_priority, cnt AS mode_count,
        |  CAST((cnt * 2000000 + total) // (total * 2) AS BIGINT) AS share_e6
        |FROM r WHERE rn = 1
        |ORDER BY order_month""".stripMargin),

    // cumulative window (running decimal sum → exact)
    QuerySpec("q_running_sum", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"),
          count(lit(1)).over(w).as("n_so_far"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
        |  COUNT(*) OVER w AS n_so_far
        |FROM orders WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // sliding-frame moving average (3-row; exact decimal sum / count)
    QuerySpec("q_moving_avg", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(dec(col("o_totalprice"))).over(w).cast(DoubleType) / count(lit(1)).over(w))
            .as("avg3"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / (COUNT(*) OVER w) AS avg3
        |FROM orders WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ranking-function surface: ntile / percent_rank / cume_dist / dense_rank
    QuerySpec("q_ntile_rank", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          dense_rank().over(w).cast(LongType).as("drank"))
        .orderBy("o_orderstatus", "o_orderkey")
    },
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin),

    // date/time function surface
    QuerySpec("q_date_arith", { (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        .select(col("o_orderkey"), col("d"),
          date_add(col("d"), 30).as("plus30d"),
          add_months(col("d"), 2).as("plus2m"),
          last_day(col("d")).as("eom"),
          datediff(to_date(lit("1998-12-31")), col("d")).cast(LongType).as("days_to_end"),
          quarter(col("d")).cast(LongType).as("qtr"),
          dayofweek(col("d")).cast(LongType).as("dow"),
          date_trunc("month", col("d")).cast(DateType).as("month_start"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start
        |FROM orders WHERE o_orderkey <= 300
        |ORDER BY o_orderkey""".stripMargin),

    // string-function surface
    QuerySpec("q_string_funcs", { (s, dir) =>
      Tables(s, dir, "part")
        .filter(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          lpad(col("p_name"), 20, "*").as("padded"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
          reverse(col("p_name")).as("rev"),
          instr(col("p_name"), " ").cast(LongType).as("space_at"),
          expr("split_part(p_name, ' ', 1)").as("first_word"),
          repeat(col("p_brand"), 2).as("b2"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
        |  lpad(p_name, 20, '*') AS padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        |  reverse(p_name) AS rev,
        |  CAST(strpos(p_name, ' ') AS BIGINT) AS space_at,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  repeat(p_brand, 2) AS b2
        |FROM part WHERE p_partkey <= 300
        |ORDER BY p_partkey""".stripMargin),

    // regexp extraction over free text
    QuerySpec("q_regexp_extract", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(col("text"), "[a-z]{7,}", 0).as("first_long"),
          size(regexp_extract_all(col("text"), lit("[a-z]{7,}"), lit(0)))
            .cast(LongType).as("n_long"),
          col("text").rlike("[0-9]").as("has_num"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  regexp_extract(text, '[a-z]{7,}') AS first_long,
        |  CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT) AS n_long,
        |  regexp_matches(text, '[0-9]') AS has_num
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // UNION ALL + re-aggregation
    QuerySpec("q_union_all", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"), lit("hi").as("bucket"))
      val lo = o.filter(col("o_totalprice") < 10000)
        .select(col("o_custkey"), lit("lo").as("bucket"))
      hi.unionByName(lo)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("bucket")
    },
      """SELECT bucket, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
        |FROM (
        |  SELECT o_custkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 300000
        |  UNION ALL
        |  SELECT o_custkey, 'lo' AS bucket FROM orders WHERE o_totalprice < 10000)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // uncorrelated scalar subquery in a filter (SQL surface); the average
    // rides through an exact decimal sum so both engines build the same
    // double threshold. 1.005× keeps the result non-empty at every scale
    // (this generator's retail prices span only 900–919.9 at sf0.001,
    // max/mean ≈ 1.011 — the old 1.5× selected zero rows everywhere, so
    // the subquery VALUE was never exercised, only an empty hash).
    QuerySpec("q_scalar_subquery", { (s, dir) =>
      Tables(s, dir, "part").createOrReplaceTempView("graft_part_sq")
      s.sql(
        """SELECT p_partkey, p_retailprice
          |FROM graft_part_sq
          |WHERE p_retailprice > 1.005 * (
          |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          |  FROM graft_part_sq)
          |ORDER BY p_partkey""".stripMargin)
    },
      """SELECT p_partkey, p_retailprice
        |FROM part
        |WHERE p_retailprice > 1.005 * (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin),

    // JSON extraction from the events props column
    QuerySpec("q_json_extract", { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // RANGE-framed window: per event, activity of the same user in the
    // trailing hour (value-based frame, not row-based — peers with equal
    // timestamps enter the frame together in both engines)
    QuerySpec("q_range_frame", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ts_us", expr("unix_micros(ts)"))
        .filter(col("user_id") <= 100)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_last_hour"),
          sum(col("value").cast(DecimalType(25, 6))).over(w).cast(DoubleType)
            .as("sum_last_hour"))
        .orderBy("user_id", "ts_us", "event_id")
    },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  COUNT(*) OVER w AS n_last_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_last_hour
        |FROM events WHERE user_id <= 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // funnel analysis: ordered view → click → purchase progression per user
    QuerySpec("q_events_funnel", { (s, dir) =>
      // ev fans into 4 consumers (fv/fc/fp/spine) — materialize once
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("unix_micros(ts)"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
        .localCheckpoint(true)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view_us"))
      val fc = ev.join(fv, "user_id")
        .filter(col("event_type") === "click" && col("ts_us") > col("first_view_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_click_us"))
      val fp = ev.join(fc, "user_id")
        .filter(col("event_type") === "purchase" && col("ts_us") > col("first_click_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase_us"))
      ev.select(col("user_id")).distinct()
        .join(fv, Seq("user_id"), "left")
        .join(fc, Seq("user_id"), "left")
        .join(fp, Seq("user_id"), "left")
        .select(col("user_id"), col("first_view_us"), col("first_click_us"),
          col("first_purchase_us"),
          (when(col("first_purchase_us").isNotNull, 3)
            .when(col("first_click_us").isNotNull, 2)
            .when(col("first_view_us").isNotNull, 1)
            .otherwise(0)).cast(LongType).as("stage"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (SELECT user_id, MIN(ts_us) AS first_view_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (SELECT e.user_id, MIN(e.ts_us) AS first_click_us
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click' AND e.ts_us > fv.first_view_us GROUP BY e.user_id),
        |fp AS (SELECT e.user_id, MIN(e.ts_us) AS first_purchase_us
        |  FROM e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fc.first_click_us GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, fv.first_view_us, fc.first_click_us, fp.first_purchase_us,
        |  CAST(CASE WHEN fp.first_purchase_us IS NOT NULL THEN 3
        |       WHEN fc.first_click_us IS NOT NULL THEN 2
        |       WHEN fv.first_view_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN fv USING (user_id) LEFT JOIN fc USING (user_id)
        |  LEFT JOIN fp USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // conversion-window funnel — the product-analytics form: a click
    // only converts within 30 min of the first view, a purchase within
    // 24 h of the converting click. Same bounded-join shape as
    // q_events_funnel with the windows as join predicates (never a
    // per-user event sort on one task).
    QuerySpec("q_events_funnel_windowed", { (s, dir) =>
      val clickWinUs = 1800L * 1000000L
      val buyWinUs = 86400L * 1000000L
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("unix_micros(ts)"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
        .localCheckpoint(true)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view_us"))
      val fc = ev.join(fv, "user_id")
        .filter(col("event_type") === "click" &&
          col("ts_us") > col("first_view_us") &&
          col("ts_us") <= col("first_view_us") + clickWinUs)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_click_us"))
      val fp = ev.join(fc, "user_id")
        .filter(col("event_type") === "purchase" &&
          col("ts_us") > col("first_click_us") &&
          col("ts_us") <= col("first_click_us") + buyWinUs)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase_us"))
      ev.select(col("user_id")).distinct()
        .join(fv, Seq("user_id"), "left")
        .join(fc, Seq("user_id"), "left")
        .join(fp, Seq("user_id"), "left")
        .select(col("user_id"), col("first_view_us"), col("first_click_us"),
          col("first_purchase_us"),
          (when(col("first_purchase_us").isNotNull, 3)
            .when(col("first_click_us").isNotNull, 2)
            .when(col("first_view_us").isNotNull, 1)
            .otherwise(0)).cast(LongType).as("stage"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (SELECT user_id, MIN(ts_us) AS first_view_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (SELECT e.user_id, MIN(e.ts_us) AS first_click_us
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click' AND e.ts_us > fv.first_view_us
        |    AND e.ts_us <= fv.first_view_us + 1800000000 GROUP BY e.user_id),
        |fp AS (SELECT e.user_id, MIN(e.ts_us) AS first_purchase_us
        |  FROM e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fc.first_click_us
        |    AND e.ts_us <= fc.first_click_us + 86400000000 GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, fv.first_view_us, fc.first_click_us, fp.first_purchase_us,
        |  CAST(CASE WHEN fp.first_purchase_us IS NOT NULL THEN 3
        |       WHEN fc.first_click_us IS NOT NULL THEN 2
        |       WHEN fv.first_view_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN fv USING (user_id) LEFT JOIN fc USING (user_id)
        |  LEFT JOIN fp USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // deterministic hash sampling — reproducible ~10% subset selection for
    // training-data splits (hex-prefix comparison on a seeded md5; no RNG,
    // identical on every engine and every run)
    QuerySpec("q_hash_sample", { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(substring(md5(concat(lit("sample:"), col("doc_id").cast(StringType))), 1, 2) <= "19")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) <= '19'
        |ORDER BY doc_id""".stripMargin),

    // deterministic train/val/test split (seeded-md5 hex ranges:
    // ~5% val, ~5% test, rest train — stable across engines and runs)
    QuerySpec("q_hash_split", { (s, dir) =>
      val h = substring(md5(concat(lit("split:"), col("doc_id").cast(StringType))), 1, 2)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(h < "0d", "val").when(h < "1a", "test").otherwise("train").as("split"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'val'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // array-function surface over the embedding column (scalar outputs)
    QuerySpec("q_array_funcs", { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          size(slice(col("embedding"), 1, 8)).cast(LongType).as("n_slice"),
          floor(array_max(col("embedding")).cast(DoubleType) * lit(1e4)
            + lit(0.5)).cast(LongType).as("vmax_e4"),
          floor(array_min(col("embedding")).cast(DoubleType) * lit(1e4)
            + lit(0.5)).cast(LongType).as("vmin_e4"),
          floor(element_at(col("embedding"), 5).cast(DoubleType) * lit(1e4)
            + lit(0.5)).cast(LongType).as("v5_e4"),
          e4Witness(element_at(array_sort(col("embedding")), 3).cast(DoubleType)
           ).as("third_smallest_e4"))
        .orderBy("vec_id")
    },
      """SELECT vec_id,
        |  CAST(len(embedding[1:8]) AS BIGINT) AS n_slice,
        |  CAST(FLOOR(CAST(list_max(embedding) AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vmax_e4,
        |  CAST(FLOOR(CAST(list_min(embedding) AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vmin_e4,
        |  CAST(FLOOR(CAST(embedding[5] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS v5_e4,
        |  CAST(FLOOR(CAST(list_sort(embedding)[3] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS third_smallest_e4
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin),

    // correlated LATERAL subquery (SQL surface): each customer's single
    // latest order
    QuerySpec("q_lateral_join", { (s, dir) =>
      Tables(s, dir, "customer").createOrReplaceTempView("graft_cust_lat")
      Tables(s, dir, "orders").createOrReplaceTempView("graft_ord_lat")
      s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM graft_cust_lat c
          |JOIN LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM graft_ord_lat
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
          |WHERE c.c_custkey <= 100
          |ORDER BY c.c_custkey""".stripMargin)
    },
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON TRUE
        |WHERE c.c_custkey <= 100
        |ORDER BY c.c_custkey""".stripMargin),

    // join-based upsert (MERGE semantics over immutable storage): a delta
    // of updates + inserts full-outer-joined into the base table; output
    // is the per-status summary of the merged state
    QuerySpec("q_upsert_merge", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val updates = o.filter(col("o_orderkey") <= 50)
        .select(col("o_orderkey"),
          (dec(col("o_totalprice")) + lit(1000).cast(DecimalType(18, 2))).as("new_price"))
      val inserts = o.filter(col("o_orderkey") <= 20)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          dec(col("o_totalprice")).as("new_price"))
      o.select(col("o_orderkey"), dec(col("o_totalprice")).as("old_price"))
        .join(updates.unionByName(inserts), Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("new_price"), col("old_price")).as("price"),
          when(col("old_price").isNull, "inserted")
            .when(col("new_price").isNull, "unchanged")
            .otherwise("updated").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast(DoubleType).as("sum_price"))
        .orderBy("status")
    },
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS old_price FROM orders),
        |delta AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1000 AS DECIMAL(18,2)) AS new_price
        |  FROM orders WHERE o_orderkey <= 50
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE o_orderkey <= 20),
        |merged AS (
        |  SELECT COALESCE(delta.o_orderkey, base.o_orderkey) AS o_orderkey,
        |    COALESCE(new_price, old_price) AS price,
        |    CASE WHEN old_price IS NULL THEN 'inserted'
        |         WHEN new_price IS NULL THEN 'unchanged'
        |         ELSE 'updated' END AS status
        |  FROM base FULL OUTER JOIN delta ON base.o_orderkey = delta.o_orderkey)
        |SELECT status, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged
        |GROUP BY status
        |ORDER BY status""".stripMargin),

    // JSONL round-trip as an ORACLED query (not just a spec): a documents
    // slice is written to JSON-lines and read back under an explicit
    // schema, and the oracle — DuckDB over the ORIGINAL parquet — must
    // hash-match the re-read values, so JSON escaping of real corpus text
    // (quotes, unicode, control chars) is verified byte-exact through the
    // engine's ingest boundary. At 100 TB this is the narrow
    // export/import path: a partitioned columnar scan → line-delimited
    // text → schema-enforced parallel re-read, no shuffle anywhere.
    QuerySpec("q_jsonl_roundtrip", { (s, dir) =>
      val slice = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      // one fixed scratch dir per JVM, deleted on exit: a fresh temp dir
      // per invocation leaked a JSON copy of the slice per bench rep
      val out = jsonlScratch
      slice.write.mode("overwrite").json(out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("lang", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("source", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n_chars", LongType, nullable = true)))
      s.read.schema(schema).json(out)
        .orderBy("doc_id")
    },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents
        |WHERE doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin),

    // CSV round-trip through the other line-delimited export boundary:
    // quoting/escaping of real corpus text (commas, quotes, newlines in
    // values are quoted per RFC 4180 by Spark's writer) must survive a
    // schema-enforced parallel re-read byte-exact vs the ORIGINAL
    // parquet. Same scale shape as q_jsonl_roundtrip: columnar scan →
    // text files → parallel re-read, no shuffle. multiLine handles
    // quoted embedded newlines (at the cost of file-granular splits —
    // the documented CSV trade-off; JSONL keeps line-granular splits,
    // which is why it is the preferred 100 TB interchange format).
    QuerySpec("q_csv_roundtrip", { (s, dir) =>
      val slice = Tables(s, dir, "documents")
        .filter(col("doc_id") % 9 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val out = csvScratch
      slice.write.mode("overwrite").option("header", "true").csv(out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("lang", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("source", StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n_chars", LongType, nullable = true)))
      s.read.schema(schema).option("header", "true").option("multiLine", "true")
        .csv(out)
        .orderBy("doc_id")
    },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents
        |WHERE doc_id % 9 = 0
        |ORDER BY doc_id""".stripMargin),

    // ---- skyline (Pareto frontier): multi-criteria best tradeoffs ----

    // 2-D skyline of orders by (total price ↓, order recency ↑) — the
    // cheap-and-recent Pareto frontier (Börzsönyi et al. 2001), computed
    // with the O(n log n) sort-scan (one window over the distinct point
    // set) instead of the textbook quadratic NOT-EXISTS anti-join;
    // maximization enters as negation, and the identical scan is the
    // oracle (Skyline.skyline2dSql).
    QuerySpec("q_skyline", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val pts = o.select(col("o_orderkey"), col("o_totalprice").as("x"),
        (-expr("unix_micros(cast(o_orderdate as timestamp))")).as("y"))
      val sky = Skyline.skyline2d(pts, "x", "y")
      pts.join(sky, Seq("x", "y"))
        .select(col("o_orderkey"), col("x").as("total_price"),
          (-col("y")).as("order_ts_us"))
        .orderBy("o_orderkey")
    },
    // identical sort-scan formulation (Skyline.skyline2dSql)
    {
      val sky = Skyline.skyline2dSql("SELECT x, y FROM pts")
      s"""WITH pts AS (SELECT o_orderkey, o_totalprice AS x,
         |               -epoch_us(o_orderdate) AS y
         |             FROM orders),
         |sky AS ($sky)
         |SELECT p.o_orderkey, p.x AS total_price, -p.y AS order_ts_us
         |FROM pts p JOIN sky USING (x, y)
         |ORDER BY p.o_orderkey""".stripMargin
    })
  )
}
