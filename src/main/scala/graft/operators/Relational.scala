package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator coverage (SURVEY.md §2.B): scans, filter/project,
  * joins (shuffle/broadcast/semi/anti/range), aggregations (hash, distinct,
  * rollup), windows (rows/range), sorts/top-k, set ops, scalar functions,
  * subqueries, JSON.
  *
  * Scale notes (100 TB mindset):
  *  - Small dimensions (region/nation/supplier/part/customer) are broadcast
  *    explicitly so the fact-table join never shuffles lineitem.
  *  - Aggregations use Spark partial aggregation (map-side combine) for free.
  *  - Filters are plain column predicates => pushed to the parquet scan.
  *  - Every query ends in a deterministic ORDER BY for oracle comparison;
  *    at production scale the ORDER BY would be dropped or replaced by top-k.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // ---- q1: TPC-H Q1 style scan + filter + hash aggregate ------------------
  private val q1: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2000-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q2: projection + selective filter (pushdown) -----------------------
  private val q2: Q = (s, d) => {
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }
  private val q2Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 300000.0
      |ORDER BY o_orderkey""".stripMargin

  // ---- q3: TPC-H Q3 style 3-way join + agg + top-k ------------------------
  private val q3: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    // customer is small: broadcast it into orders; orders->lineitem shuffles
    // on the join key, which is also the aggregation key => single shuffle.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }
  private val q3Sql =
    """SELECT o_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'MACHINERY'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---- q4: broadcast dimension join + agg ---------------------------------
  private val q4: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }
  private val q4Sql =
    """SELECT p_brand,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---- q5: TPC-H Q5 style 6-table join ------------------------------------
  private val q5: Q = (s, d) => {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val su = Tables.supplier(s, d)
    // All dimensions are broadcastable; only orders<->lineitem shuffles.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey") && su("s_nationkey") === c("c_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("n_name"))
  }
  private val q5Sql =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---- q6: left semi join (EXISTS) ----------------------------------------
  private val q6: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45.0)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }
  private val q6Sql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q7: left anti join (NOT EXISTS) ------------------------------------
  private val q7: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 4).as("tot_bal"))
      .orderBy(col("c_mktsegment"))
  }
  private val q7Sql =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(sum(c_acctbal), 4) AS tot_bal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q8: window ranking (top-3 per partition) ---------------------------
  private val q8: Q = (s, d) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_suppkey"), col("rn"))
  }
  private val q8Sql =
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
      |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |        row_number() OVER (PARTITION BY l_suppkey
      |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |      FROM lineitem) t
      |WHERE rn <= 3
      |ORDER BY l_suppkey, rn""".stripMargin

  // ---- q9: running-total + lag window -------------------------------------
  private val q9: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("running_spend",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
      .withColumn("prev_price", round(lag(col("o_totalprice"), 1, 0.0).over(w), 4))
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"), col("prev_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
  private val q9Sql =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend,
      |  round(coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey), 0.0), 4) AS prev_price
      |FROM orders
      |WHERE o_custkey < 20
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- q10: global top-k (TakeOrderedAndProject) --------------------------
  private val q10: Q = (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }
  private val q10Sql =
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20""".stripMargin

  // ---- q11: set operations (EXCEPT / UNION) -------------------------------
  private val q11: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    // symmetric difference of the two customer sets
    f.except(p).withColumn("side", lit("f_only"))
      .union(p.except(f).withColumn("side", lit("p_only")))
      .orderBy(col("side"), col("o_custkey"))
  }
  private val q11Sql =
    """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |     p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |SELECT o_custkey, 'f_only' AS side FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM p)
      |UNION ALL
      |SELECT o_custkey, 'p_only' AS side FROM (SELECT o_custkey FROM p EXCEPT SELECT o_custkey FROM f)
      |ORDER BY side, o_custkey""".stripMargin

  // ---- q12: rollup (grouping sets) -----------------------------------------
  private val q12: Q = (s, d) => {
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))
  }
  private val q12Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |       coalesce(l_linestatus, 'ALL') AS ls,
      |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  // ---- q13: distinct aggregates -------------------------------------------
  private val q13: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }
  private val q13Sql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q13b: exact percentiles / median ------------------------------------
  private val q13b: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25_qty"))
      .orderBy(col("l_returnflag"))
  }
  private val q13bSql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      |  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q13c: statistical aggregates ----------------------------------------
  private val q13c: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"))
      .orderBy(col("l_linestatus"))
  }
  private val q13cSql =
    """SELECT l_linestatus,
      |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
      |  round(var_samp(l_quantity), 4) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qd
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  // ---- q14: scalar function suite (string/date/math/conditional) ----------
  private val q14: Q = (s, d) => {
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 100)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        upper(substring(col("o_orderpriority"), 1, 5)).as("prio5"),
        length(col("o_orderstatus")).as("status_len"),
        round(col("o_totalprice") / 1000.0, 2).as("kprice"),
        abs(col("o_totalprice") - 200000.0).as("dist200k"),
        when(col("o_totalprice") > 200000.0, "big").otherwise("small").as("bucket"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"))
      .orderBy(col("o_orderkey"))
  }
  private val q14Sql =
    """SELECT o_orderkey,
      |  CAST(extract(year FROM o_orderdate) AS INT) AS order_year,
      |  CAST(extract(month FROM o_orderdate) AS INT) AS order_month,
      |  upper(substring(o_orderpriority, 1, 5)) AS prio5,
      |  CAST(length(o_orderstatus) AS INT) AS status_len,
      |  round(o_totalprice / 1000.0, 2) AS kprice,
      |  abs(o_totalprice - 200000.0) AS dist200k,
      |  CASE WHEN o_totalprice > 200000.0 THEN 'big' ELSE 'small' END AS bucket,
      |  o_orderstatus || '-' || o_orderpriority AS tag
      |FROM orders
      |WHERE o_orderkey < 100
      |ORDER BY o_orderkey""".stripMargin

  // ---- q15: conditional aggregation (promo share per year) ----------------
  private val q15: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        round(
          sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_share"))
      .orderBy(col("ship_year"))
  }
  private val q15Sql =
    """SELECT CAST(extract(year FROM l_shipdate) AS INT) AS ship_year,
      |  round(sum(CASE WHEN p_type = 'PROMO'
      |                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
      |        / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1
      |ORDER BY ship_year""".stripMargin

  // ---- q16: HAVING ---------------------------------------------------------
  private val q16: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 4).as("total_qty"), count(lit(1)).as("n"))
      .filter(col("total_qty") > 100.0)
      .orderBy(col("l_suppkey"))
  }
  private val q16Sql =
    """SELECT l_suppkey, round(sum(l_quantity), 4) AS total_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY l_suppkey
      |HAVING round(sum(l_quantity), 4) > 100.0
      |ORDER BY l_suppkey""".stripMargin

  // ---- q17: scalar subquery (above-average account balance) ---------------
  private val q17: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val avgBal = c.agg(avg(col("c_acctbal")).as("ab"))
    // broadcast the 1-row aggregate instead of a driver collect(): stays
    // fully distributed and plan-visible to Catalyst.
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }
  private val q17Sql =
    """SELECT c_custkey, c_acctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      |ORDER BY c_custkey""".stripMargin

  // ---- q18: chained semi join ---------------------------------------------
  private val q18: Q = (s, d) => {
    val su = Tables.supplier(s, d)
    val l = Tables.lineitem(s, d)
    val bigParts = Tables.part(s, d).filter(col("p_size") > 40).select(col("p_partkey"))
    val liBig = l.join(broadcast(bigParts), l("l_partkey") === bigParts("p_partkey"), "left_semi")
    su.join(liBig, su("s_suppkey") === liBig("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }
  private val q18Sql =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_suppkey = s_suppkey
      |    AND EXISTS (SELECT 1 FROM part
      |                WHERE p_partkey = l_partkey AND p_size > 40))
      |ORDER BY s_suppkey""".stripMargin

  // ---- q19: range (interval) join -----------------------------------------
  private val q19: Q = (s, d) => {
    // precompute the window end once per order (build side) instead of
    // per joined pair — interval arithmetic inside a join condition runs
    // for every probe.
    val o = Tables.orders(s, d)
      .withColumn("o_end", col("o_orderdate") + expr("INTERVAL 30 DAYS"))
    val l = Tables.lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_end"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_fast"), round(sum(col("l_quantity")), 4).as("qty_fast"))
      .orderBy(col("o_orderpriority"))
  }
  private val q19Sql =
    """SELECT o_orderpriority, count(*) AS n_fast,
      |  round(sum(l_quantity), 4) AS qty_fast
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q20: JSON extraction ------------------------------------------------
  private val q20: Q = (s, d) => {
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("k_bucket"))
  }
  private val q20Sql =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k_bucket""".stripMargin

  // ---- q21: RANGE window over event time -----------------------------------
  private val q21: Q = (s, d) => {
    // o_orderdate is TIMESTAMP_NTZ; Spark forbids NTZ→BIGINT directly, so
    // hop through TIMESTAMP (identity under the UTC session zone).
    val o = Tables.orders(s, d)
      .withColumn("ord_sec", col("o_orderdate").cast("timestamp").cast("long"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("ord_sec"))
      .rangeBetween(-604800L, 0L) // 7 days in seconds
    o.withColumn("n_week", count(lit(1)).over(w))
      .withColumn("spend_week", round(sum(col("o_totalprice")).over(w), 4))
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("n_week"), col("spend_week"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
  private val q21Sql =
    """SELECT o_custkey, o_orderkey,
      |  count(*) OVER w AS n_week,
      |  round(sum(o_totalprice) OVER w, 4) AS spend_week
      |FROM orders
      |WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
      |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- q21b: rank-family window breadth (ntile/percent_rank/cume_dist) ----
  private val q21b: Q = (s, d) => {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"),
      ntile(4).over(w).cast("long").as("quartile"), // DuckDB ntile is BIGINT
      dense_rank().over(w).cast("long").as("drk"),
      round(percent_rank().over(w), 6).as("pr"),
      round(cume_dist().over(w), 6).as("cd"))
      .filter(col("c_custkey") % 20 === 0)
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }
  private val q21bSql =
    """SELECT c_mktsegment, c_custkey,
      |  ntile(4) OVER w AS quartile,
      |  dense_rank() OVER w AS drk,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |QUALIFY c_custkey % 20 = 0
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  // ---- q22: sessionization via gap detection (window + conditional sum) ---
  private val q22: Q = (s, d) => {
    val e = Tables.events(s, d).withColumn("ts_sec", col("ts").cast("long"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
    e.withColumn("gap", col("ts_sec") - lag(col("ts_sec"), 1).over(w))
      .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }
  private val q22Sql =
    """WITH t AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |          PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM t
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---- q23: cube (all grouping-set combinations) --------------------------
  private val q23: Q = (s, d) => {
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("n"), col("total"))
      .orderBy(col("st"), col("prio"))
  }
  private val q23Sql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS st,
      |       coalesce(o_orderpriority, 'ALL') AS prio,
      |       count(*) AS n, round(sum(o_totalprice), 4) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY st, prio""".stripMargin

  // ---- q24: full outer join ------------------------------------------------
  private val q24: Q = (s, d) => {
    val bigCust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("spend"))
      .filter(col("spend") > 400000.0)
    val richCust = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_acctbal"))
    bigCust.join(richCust, bigCust("o_custkey") === richCust("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), lit(-1L)).as("spend_key"),
        coalesce(col("c_custkey"), lit(-1L)).as("rich_key"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        coalesce(col("c_acctbal"), lit(0.0)).as("bal"))
      .orderBy(col("spend_key"), col("rich_key"))
  }
  private val q24Sql =
    """WITH big AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 4) AS spend
      |  FROM orders GROUP BY o_custkey
      |  HAVING round(sum(o_totalprice), 4) > 400000.0),
      |rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0)
      |SELECT coalesce(o_custkey, -1) AS spend_key,
      |       coalesce(c_custkey, -1) AS rich_key,
      |       coalesce(spend, 0.0) AS spend,
      |       coalesce(c_acctbal, 0.0) AS bal
      |FROM big FULL OUTER JOIN rich ON o_custkey = c_custkey
      |ORDER BY spend_key, rich_key""".stripMargin

  // ---- q25: as-of join (latest event at or before each order date) --------
  // Spark has no ASOF JOIN operator; the idiomatic scale-safe encoding is
  // range-join + per-key max-struct aggregation (one shuffle on the key,
  // no window over the full fact table). DuckDB's native ASOF JOIN is the
  // oracle.
  private val q25: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select((col("event_id") % 100).as("uk"), col("ts"), col("value"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), (col("o_orderkey") % 100).as("uk"),
        col("o_orderdate").cast("timestamp").as("odate"))
    o.join(e, o("uk") === e("uk") && col("ts") <= col("odate"), "left")
      .groupBy(col("o_orderkey"), col("odate"))
      .agg(max(struct(col("ts"), col("value"))).as("last_ev"))
      .select(col("o_orderkey"),
        col("last_ev.ts").as("ev_ts"),
        round(col("last_ev.value"), 4).as("ev_value"))
      .orderBy(col("o_orderkey"))
  }
  private val q25Sql =
    """WITH e AS (SELECT event_id % 100 AS uk, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |o AS (SELECT o_orderkey, o_orderkey % 100 AS uk, CAST(o_orderdate AS TIMESTAMP) AS odate
      |      FROM orders WHERE o_orderkey < 500)
      |SELECT o.o_orderkey, e.ts AS ev_ts, round(e.value, 4) AS ev_value
      |FROM o ASOF LEFT JOIN e ON o.uk = e.uk AND e.ts <= o.odate
      |ORDER BY o.o_orderkey""".stripMargin

  // ---- q26: typed UDAF (Aggregator) — weighted average ---------------------
  private val q26: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(
        graft.functions.WeightedAvg.weightedAvg(col("l_extendedprice"), col("l_quantity")),
        4).as("wavg_price"))
      .orderBy(col("l_returnflag"))
  }
  private val q26Sql =
    """SELECT l_returnflag,
      |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q27: pure SQL surface (temp views + spark.sql) ----------------------
  private val q27: Q = (s, d) => {
    Tables.nation(s, d).createOrReplaceTempView("g_nation")
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    s.sql("""
      SELECT n.n_name, count(*) AS n_cust, round(avg(c.c_acctbal), 4) AS avg_bal
      FROM g_customer c JOIN g_nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
      HAVING count(*) >= 2
      ORDER BY n.n_name""")
  }
  private val q27Sql =
    """SELECT n_name, count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |HAVING count(*) >= 2
      |ORDER BY n_name""".stripMargin

  // ---- q28: approx_count_distinct (HLL++) — oracled bound gate -------------
  // The raw estimate is implementation-specific (HLL++ register layout
  // differs across engines), so no engine-independent oracle can state
  // it — instead the gate reduces the sketch to exact-verifiable facts:
  // the exact distinct counts (DuckDB restates them) plus an IN-GATE
  // assertion that every estimate lands within 5×rsd of exact. A broken
  // sketch (wrong column, broken partial merge, ignored rsd) fails the
  // require loudly; a broken exact path hash-fails. The '*ALL*' row
  // estimates UNGROUPED — that path merges sketch partials across all
  // partitions, the merge shape q28b's per-group bound doesn't reach.
  private val q28: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // Grouped + ungrouped '*ALL*' (the latter merges sketch partials
    // across every partition, the shape a per-group bound never
    // exercises), unioned. The sketch and the exact count run as
    // SEPARATE aggregations joined on the group: planning countDistinct
    // NEXT TO a sketch in one Aggregate triggers the distinct-rewrite's
    // Expand (every input row doubled into the shuffle — measured 4x at
    // sf0.1, and the r16 sf1 run read 200 s for this one gate). Split,
    // the sketch pass shuffles only per-partition sketches and the
    // exact pass plans the plain two-phase distinct — input rows cross
    // the wire once, not twice. Other measured alternatives still lose:
    // ROLLUP compounds the Expand (1.8x slower warm); pre-deduping to
    // (group, key) pairs pays the distinct shuffle without making the
    // mixed aggregate cheaper.
    val exactCol = countDistinct(col("l_orderkey")).as("exact")
    val approxCol = approx_count_distinct(col("l_orderkey"), 0.02).as("approx")
    val grouped = li.groupBy(col("l_linestatus")).agg(exactCol)
      .join(li.groupBy(col("l_linestatus")).agg(approxCol), Seq("l_linestatus"))
    val shape = grouped.select(col("l_linestatus"), col("approx"), col("exact"))
      .unionByName(li.agg(exactCol).crossJoin(li.agg(approxCol)) // 1-row x 1-row
        .withColumn("l_linestatus", lit("*ALL*"))
        .select(col("l_linestatus"), col("approx"), col("exact")))
    // collect ONCE (≤4 rows): the bound check and the returned frame
    // share the same execution — returning `shape` itself would re-run
    // both lineitem aggregations when the harness hashes the result
    val rows = shape.collect()
    rows.foreach { r =>
      val est = r.getLong(r.fieldIndex("approx"))
      val ex = r.getLong(r.fieldIndex("exact"))
      require(math.abs(est - ex) <= math.max(1L, math.ceil(ex * 0.1).toLong),
        s"q28: HLL++ estimate $est strayed beyond 5×rsd of exact $ex " +
          s"for group ${r.getString(r.fieldIndex("l_linestatus"))}")
    }
    import s.implicits._
    rows.map(r => (r.getString(r.fieldIndex("l_linestatus")),
        r.getLong(r.fieldIndex("exact")))).toSeq
      .toDF("l_linestatus", "exact_orders")
      .withColumn("bound_asserted", lit(true))
      .orderBy(col("l_linestatus"))
  }
  private val q28Sql =
    """SELECT l_linestatus, count(DISTINCT l_orderkey) AS exact_orders,
      |  true AS bound_asserted
      |FROM lineitem GROUP BY l_linestatus
      |UNION ALL
      |SELECT '*ALL*', count(DISTINCT l_orderkey), true FROM lineitem
      |ORDER BY l_linestatus""".stripMargin

  // ---- q28b: HLL accuracy gate (exact-bound oracle) ------------------------
  // The q46 pattern aimed at the sketch: the estimate itself is
  // implementation-specific (q28 stays rows-only), but its ERROR BOUND
  // is checkable — with rsd 0.02 the estimate must land within 5x rsd of
  // the exact count (HLL++ at this cardinality is far inside that), and
  // the run is deterministic per dataset. DuckDB states the exact counts
  // and the bound; any regression in the sketch plumbing (wrong column,
  // wrong grouping, broken merge) hash-fails.
  private val q28b: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        (abs(approx_count_distinct(col("l_orderkey"), 0.02) -
          countDistinct(col("l_orderkey"))) <=
          countDistinct(col("l_orderkey")) * 0.1).as("within_bound"))
      .orderBy(col("l_linestatus"))
  }
  private val q28bSql =
    """SELECT l_linestatus, count(DISTINCT l_orderkey) AS exact_orders,
      |  true AS within_bound
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  // ---- q29a: skew-safe two-phase aggregation (salting) ---------------------
  // The classic hot-key pattern: group by (key, salt) first so the hot
  // key's rows spread over 16 reducers, then re-aggregate by key. With
  // 3 distinct return flags and 1000 executors, the naive single-phase
  // final agg funnels everything through 3 tasks; the salted form scales.
  private val q29a: Q = (s, d) => {
    val partial = Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("c"))
    partial.groupBy(col("l_returnflag"))
      .agg(round(sum(col("q")), 4).as("sum_qty"), sum(col("c")).as("n"))
      .orderBy(col("l_returnflag"))
  }
  private val q29aSql =
    """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q29b: bucketed co-located join (no shuffle at query time) -----------
  // Both sides bucketed on the join key at write time => the join needs
  // no Exchange; at 100 TB this turns every repeated join on the key
  // into a local zip of buckets.
  private val q29b: Q = (s0, d) => {
    // Child session: shares the SparkContext and catalog but owns its
    // SQLConf, so forcing the bucketed-scan flag here cannot leak into
    // queries that run later in the caller's session. The returned
    // DataFrame is bound to the child session, so the flag is still in
    // effect when the plan executes lazily.
    val s = s0.newSession()
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val db = "graft_buckets"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val oT = s"$db.orders_b_$tag"
    val cT = s"$db.customer_b_$tag"
    // guard on BOTH tables: a crash between the two saveAsTable calls
    // would otherwise satisfy the single-table check forever while
    // s.table(cT) throws NoSuchTableException on every later run
    if (!s.catalog.tableExists(oT) || !s.catalog.tableExists(cT)) {
      // the warehouse dir outlives the in-memory catalog: clear stale
      // locations or saveAsTable fails with LOCATION_ALREADY_EXISTS
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(oT, cT).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$wh/graft_buckets.db/${t.split('.').last}"))
      }
      Tables.orders(s, d).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(oT)
      Tables.customer(s, d).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(cT)
    }
    val o = s.table(oT)
    val c = s.table(cT)
    o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 4).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }
  private val q29bSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  round(sum(o_totalprice), 4) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q2p: pivot (wide aggregation) ---------------------------------------
  private val q2p: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 4))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).as("qty_f"),
        coalesce(col("O"), lit(0.0)).as("qty_o"))
      .orderBy(col("l_returnflag"))
  }
  private val q2pSql =
    """SELECT l_returnflag,
      |  coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4), 0.0) AS qty_f,
      |  coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4), 0.0) AS qty_o
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q2s: deterministic hash-based sampling ------------------------------
  // Training pipelines sample by content hash, not rand(): reproducible
  // across runs/engines, stable under repartition, and joinable (the
  // same row samples in every derived table). 1/16 sample via the first
  // md5 nibble.
  private val q2s: Q = (s, d) => {
    Tables.lineitem(s, d)
      .withColumn("hkey", md5(encode(
        concat(col("l_orderkey").cast("string"), lit("-"), col("l_linenumber").cast("string")),
        "UTF-8")))
      .filter(substring(col("hkey"), 1, 1) === "0")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"), round(sum(col("l_extendedprice")), 4).as("rev_sampled"))
      .orderBy(col("l_returnflag"))
  }
  private val q2sSql =
    """SELECT l_returnflag, count(*) AS n_sampled,
      |  round(sum(l_extendedprice), 4) AS rev_sampled
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- q123: interval OVERLAP join via binned equi-join ---------------------
  // The temporal-join family q19's point-in-range join doesn't cover:
  // two sets of time INTERVALS (90 s attribution windows around
  // purchases and views), paired per user when they overlap. The naive
  // form is a per-user theta join; the scale shape is the classic
  // binning reduction: each interval explodes to the W-aligned bins it
  // touches (≤ 2 here, since length = W), the join is a hash equi-join
  // on (user, bin) — shuffle ∝ data, never the cross product — and the
  // exact overlap predicate re-checks the candidates; distinct collapses
  // pairs that met in both shared bins. Same answer as the theta join
  // (every overlapping pair shares ≥ 1 bin), DuckDB oracles it with the
  // quadratic form.
  private val q123: Q = (s, d) => {
    val W = 90L
    val e = Tables.events(s, d).withColumn("ts_sec", col("ts").cast("long"))
    def iv(tpe: String, p: String) = e.filter(col("event_type") === tpe)
      .select(col("user_id"), col("event_id").as(s"${p}_id"),
        col("ts_sec").as(s"${p}_s"), (col("ts_sec") + W).as(s"${p}_e"))
    def binned(df: DataFrame, p: String) = df.withColumn("bin",
      explode(expr(s"sequence(${p}_s div $W, (${p}_e - 1) div $W)")))
    val pairs = binned(iv("purchase", "a"), "a")
      .join(binned(iv("view", "b"), "b"), Seq("user_id", "bin"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(col("a_id"), col("b_id")).distinct()
    pairs.agg(count(lit(1)).as("n_pairs"),
      sum(col("a_id")).as("sum_a"), sum(col("b_id")).as("sum_b"))
  }
  private val q123Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events),
      |a AS (SELECT user_id, event_id AS a_id, t AS a_s, t + 90 AS a_e
      |      FROM e WHERE event_type = 'purchase'),
      |b AS (SELECT user_id, event_id AS b_id, t AS b_s, t + 90 AS b_e
      |      FROM e WHERE event_type = 'view'),
      |p AS (
      |  SELECT DISTINCT a_id, b_id
      |  FROM a JOIN b USING (user_id)
      |  WHERE a_s < b_e AND b_s < a_e)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(a_id) AS BIGINT) AS sum_a,
      |  CAST(sum(b_id) AS BIGINT) AS sum_b
      |FROM p""".stripMargin

  // ---- q125: ordered event funnel (sequential pattern analytics) ------------
  // The sequence-analytics family windows alone don't express: per user,
  // did view → click → purchase happen IN ORDER, completing within an
  // hour of the first view? Each stage is one filtered aggregate over
  // events joined on user to the previous stage's anchor time (min ts
  // AFTER the anchor — min-based anchors make the funnel deterministic),
  // so the whole funnel is three user-keyed aggregates + joins: shuffle
  // ∝ per-stage event counts, no per-user explode, no cross product, and
  // each stage's input is pre-filtered to its event type before any
  // shuffle. Integer outputs, exact oracle.
  private val q125: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("t"))
    def stage(tpe: String, prev: DataFrame, anchor: String, as: String) =
      ev.filter(col("event_type") === tpe)
        .join(prev, Seq("user_id"))
        .filter(col("t") > col(anchor))
        .groupBy(col("user_id")).agg(min(col("t")).as(as))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("v"))
    val c = stage("click", v, "v", "c")
    val p = stage("purchase", c, "c", "p")
    val completed = p.join(v, Seq("user_id"))
      .filter(col("p") - col("v") <= 3600L)
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_after")))
      .crossJoin(completed.agg(count(lit(1)).as("n_completed_1h")))
  }
  private val q125Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events),
      |v AS (SELECT user_id, min(t) AS v FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(t) AS c FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND t > v GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(t) AS p FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND t > c.c GROUP BY 1),
      |done AS (SELECT p.user_id FROM p JOIN v USING (user_id) WHERE p.p - v.v <= 3600)
      |SELECT (SELECT count(*) FROM v) AS n_viewed,
      |  (SELECT count(*) FROM c) AS n_clicked_after,
      |  (SELECT count(*) FROM p) AS n_purchased_after,
      |  (SELECT count(*) FROM done) AS n_completed_1h""".stripMargin

  val queries: Map[String, Q] = Map(
    "q125_event_funnel" -> q125,
    "q123_interval_overlap" -> q123,
    "q2s_hash_sample" -> q2s,
    "q2p_pivot" -> q2p,
    "q29a_salted_agg" -> q29a,
    "q29b_bucketed_join" -> q29b,
    "q23_cube" -> q23,
    "q24_full_outer" -> q24,
    "q25_asof_join" -> q25,
    "q26_udaf_weighted_avg" -> q26,
    "q27_sql_api" -> q27,
    "q28_approx_distinct" -> q28,
    "q28b_approx_bound" -> q28b,
    "q1_agg" -> q1,
    "q2_filter_project" -> q2,
    "q3_join_agg_topk" -> q3,
    "q4_broadcast_join" -> q4,
    "q5_multi_join" -> q5,
    "q6_semi_join" -> q6,
    "q7_anti_join" -> q7,
    "q8_window_rank" -> q8,
    "q9_window_running" -> q9,
    "q10_topk" -> q10,
    "q11_set_ops" -> q11,
    "q12_rollup" -> q12,
    "q13_distinct_agg" -> q13,
    "q13b_percentiles" -> q13b,
    "q13c_stat_aggs" -> q13c,
    "q14_scalar_funcs" -> q14,
    "q15_case_agg" -> q15,
    "q16_having" -> q16,
    "q17_scalar_subquery" -> q17,
    "q18_chained_semi" -> q18,
    "q19_range_join" -> q19,
    "q20_json" -> q20,
    "q21_range_window" -> q21,
    "q21b_rank_family" -> q21b,
    "q22_sessionize" -> q22)

  val oracle: Map[String, String] = Map(
    "q125_event_funnel" -> q125Sql,
    "q123_interval_overlap" -> q123Sql,
    "q13b_percentiles" -> q13bSql,
    "q13c_stat_aggs" -> q13cSql,
    "q2s_hash_sample" -> q2sSql,
    "q2p_pivot" -> q2pSql,
    "q29a_salted_agg" -> q29aSql,
    "q29b_bucketed_join" -> q29bSql,
    "q23_cube" -> q23Sql,
    "q24_full_outer" -> q24Sql,
    "q25_asof_join" -> q25Sql,
    "q26_udaf_weighted_avg" -> q26Sql,
    "q27_sql_api" -> q27Sql,
    // q28's raw estimates are implementation-specific, so its oracle
    // states the EXACT side while the gate asserts the error bound
    // in-code; q28b gates the per-group bound fully in-plan
    "q28_approx_distinct" -> q28Sql,
    "q28b_approx_bound" -> q28bSql,
    "q1_agg" -> q1Sql,
    "q2_filter_project" -> q2Sql,
    "q3_join_agg_topk" -> q3Sql,
    "q4_broadcast_join" -> q4Sql,
    "q5_multi_join" -> q5Sql,
    "q6_semi_join" -> q6Sql,
    "q7_anti_join" -> q7Sql,
    "q8_window_rank" -> q8Sql,
    "q9_window_running" -> q9Sql,
    "q10_topk" -> q10Sql,
    "q11_set_ops" -> q11Sql,
    "q12_rollup" -> q12Sql,
    "q13_distinct_agg" -> q13Sql,
    "q14_scalar_funcs" -> q14Sql,
    "q15_case_agg" -> q15Sql,
    "q16_having" -> q16Sql,
    "q17_scalar_subquery" -> q17Sql,
    "q18_chained_semi" -> q18Sql,
    "q19_range_join" -> q19Sql,
    "q20_json" -> q20Sql,
    "q21_range_window" -> q21Sql,
    "q21b_rank_family" -> q21bSql,
    "q22_sessionize" -> q22Sql)
}
