package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Relational query surface (SURVEY.md §2.2–§2.7, Q1–Q12b).
  *
  * Every query is a declarative DataFrame pipeline: filters and
  * projections sit directly on the parquet scan (Catalyst pushes them into
  * the reader), dimension sides of joins are broadcast explicitly, and all
  * aggregates over float money columns go through the exact-decimal-sum
  * trick ([[graft.queries.dsum]]) so results are bit-stable under any
  * partitioning — a requirement for a 1000-executor run to reproduce the
  * single-node answer.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.table(s, dir, n)

  /** Q1 — filter + project on the fact table. The predicate and the
    * 5-column projection must reach the parquet scan (PushedFilters /
    * ReadSchema); nothing else is read. */
  val q01_filter_project: Query = Query(
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |       CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount > 0.05 AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")
        && col("l_discount") > 0.05 && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Q2 — TPC-H Q1-style pricing summary: partial+final hash aggregation
    * with exact decimal sums (reference combiner semantics, SURVEY A1/A2). */
  val q02_pricing_summary: Query = Query(
    s"""SELECT l_returnflag, l_linestatus,
       |       ${dsumSql("l_quantity")} AS sum_qty,
       |       ${dsumSql("l_extendedprice")} AS sum_base_price,
       |       ${dsumSql("l_extendedprice*(1-l_discount)", 6)} AS sum_disc_price,
       |       ${dsumSql("l_extendedprice*(1-l_discount)*(1+l_tax)", 6)} AS sum_charge,
       |       ${davgSql("l_quantity")} AS avg_qty,
       |       ${davgSql("l_extendedprice")} AS avg_price,
       |       ${davgSql("l_discount", 6)} AS avg_disc,
       |       count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    // spreadScan: the per-row decimal casts + 7-way partial aggregation
    // dominate this query (measured: scan 0.19 s, dsum agg 1.51 s serial
    // vs 0.70 s spread at sf0.1 — ProbeDsum, since removed); on a one-split file they
    // all run on one core. Exact decimal sums are partition-invariant,
    // so the spread cannot move a bit of the result.
    spreadScan(s, dir, "lineitem",
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp_ntz"))
        .select("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"),
      col("l_extendedprice"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q3 — fact ⋈ small dim with an explicit broadcast of the dimension:
    * no shuffle of the orders fact side at any scale. */
  val q03_segment_orders: Query = Query(
    s"""SELECT c.c_custkey, c.c_name,
       |       count(*) AS n_orders,
       |       ${dsumSql("o.o_totalprice")} AS total_spent
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |GROUP BY c.c_custkey, c.c_name
       |ORDER BY c_custkey""") { (s, dir) =>
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    t(s, dir, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Q4 — 5-way join, revenue by nation (TPC-H Q5 shape). lineitem⋈orders
    * is the only big⋈big join (sort-merge on orderkey); customer, nation
    * and region are broadcast. Flagship query. */
  val q04_revenue_by_nation: Query = Query(
    s"""SELECT n.n_name,
       |       ${dsumSql("l.l_extendedprice*(1-l.l_discount)", 6)} AS revenue,
       |       count(*) AS n_items
       |FROM lineitem l
       |JOIN orders o    ON l.l_orderkey = o.o_orderkey
       |JOIN customer c  ON o.o_custkey = c.c_custkey
       |JOIN nation n    ON c.c_nationkey = n.n_nationkey
       |JOIN region r    ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'EUROPE'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |GROUP BY n.n_name
       |ORDER BY revenue DESC, n_name""") { (s, dir) =>
    val region = t(s, dir, "region").filter(col("r_name") === "EUROPE").select("r_regionkey")
    val nation = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "n_name")
    // spreadScan REJECTED here (round 14, reverting round 13's call):
    // shipped by analogy with q02's aggregation shape but never
    // re-benched, and it regressed — driver walls 1.46 -> 2.20 s (32c)
    // and 1.99 s (8c); ProbeQ04AB (since removed; alternating A/B, one JVM, min-of-4)
    // pins it: plain wall 1.26 s / 0.32 cpu-s vs spread 1.45 s /
    // 0.77 cpu-s. Unlike q02's Expand/decimal-agg stack, the work above
    // this scan is a broadcast-hash probe whose per-row cost is too
    // small to buy back the exchange: the probe+partial-agg pipeline on
    // the one-split scan is already cheaper than one extra shuffle of
    // the projected rows (guide §2.3 overriding §2.5 — the q73 lesson).
    t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q5 — left-semi + left-anti joins (customers with / without orders). */
  val q05_semi_anti: Query = Query(
    """SELECT 'with_orders' AS grp, count(*) AS n
      |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT 'without_orders' AS grp, count(*) AS n
      |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |ORDER BY grp""") { (s, dir) =>
    val cust = t(s, dir, "customer").select("c_custkey")
    val ord = t(s, dir, "orders").select("o_custkey")
    val withO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("grp"), col("n"))
    val without = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("grp"), col("n"))
    withO.unionAll(without).orderBy("grp")
  }

  /** Q6 — exact count-distinct per group (expands to a two-level agg). */
  val q06_count_distinct: Query = Query(
    """SELECT o_orderpriority,
      |       count(DISTINCT o_custkey) AS n_cust,
      |       count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderdate").cast("date")).as("n_days"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Q7 — ranking window: top-3 customers per market segment by balance
    * (deterministic tiebreak on custkey). */
  val q07_rank_segment_top3: Query = Query(
    """SELECT c_mktsegment, rn, c_custkey, c_acctbal
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |             CAST(row_number() OVER (PARTITION BY c_mktsegment
      |                                ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
      |      FROM customer) x
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""") { (s, dir) =>
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
      .orderBy("c_mktsegment", "rn")
  }

  /** Q8 — analytic windows over each customer's order history: lag, lead,
    * and an exact running total (decimal frame sum). One shuffle on
    * o_custkey serves all three window functions. */
  val q08_order_windows: Query = Query(
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |       o_totalprice,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        sum(col("o_totalprice").cast("decimal(30,2)")).over(wRun)
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q9 — global top-10 by price: plans as TakeOrderedAndProject (per-
    * partition top-k then merge on the driver), never a full sort. */
  val q09_top10_orders: Query = Query(
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""") { (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Q10 — set operations over two customer-key sets:
    * A = high balance, B = frequent orderers. */
  val q10_setops: Query = Query(
    """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
      |     b AS (SELECT o_custkey AS k FROM orders GROUP BY 1 HAVING count(*) >= 12)
      |SELECT 'both' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b) x
      |UNION ALL
      |SELECT 'rich_only' AS op, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b) y
      |UNION ALL
      |SELECT 'either' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b) z
      |ORDER BY op, k""") { (s, dir) =>
    val a = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))
    val b = t(s, dir, "orders").groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 12).select("k")
    a.intersect(b).select(lit("both").as("op"), col("k"))
      .unionAll(a.except(b).select(lit("rich_only").as("op"), col("k")))
      .unionAll(a.union(b).distinct().select(lit("either").as("op"), col("k")))
      .orderBy("op", "k")
  }

  /** Q11 — ROLLUP over (returnflag, linestatus); subtotal rows surface as
    * 'ALL' so the grouping marker is engine-independent. */
  val q11_rollup_pricing: Query = Query(
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       |       coalesce(l_linestatus, 'ALL') AS linestatus,
       |       ${dsumSql("l_quantity")} AS sum_qty,
       |       ${dsumSql("l_extendedprice")} AS sum_price,
       |       count(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""") { (s, dir) =>
    // spreadScan: the rollup's 3-way Expand + decimal partial aggregation
    // run in the scan stage — serial on a one-split file (q02's measured
    // dsum cost ×3 expansion); exact sums/counts are partition-invariant.
    spreadScan(s, dir, "lineitem",
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"),
      col("l_extendedprice"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("sum_price"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Q12 — scalar function battery (string + math) over part. All
    * expressions stay inside whole-stage codegen. */
  val q12_scalar_battery: Query = Query(
    """SELECT p_partkey,
      |       upper(p_brand) AS brand_u,
      |       lower(p_type) AS type_l,
      |       substring(p_name, 1, 8) AS name8,
      |       CAST(length(p_name) AS INT) AS name_len,
      |       concat_ws('-', p_brand, p_type) AS cat,
      |       regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
      |       floor((p_retailprice * 1.1) * 100 + 0.5e0) / 100 AS price_up,
      |       abs(p_size - 25) AS size_dev,
      |       CAST(floor(p_retailprice) AS BIGINT) AS price_fl,
      |       CAST(ceil(p_retailprice) AS BIGINT) AS price_ce,
      |       floor(sqrt(CAST(p_size AS DOUBLE)) * 10000 + 0.5e0) / 10000 AS size_sqrt,
      |       floor(pow(CAST(p_size AS DOUBLE), 2.0) * 10 + 0.5e0) / 10 AS size_sq,
      |       floor(ln(p_retailprice) * 10000 + 0.5e0) / 10000 AS price_ln,
      |       floor(exp(CAST(p_size AS DOUBLE) / 100e0) * 10000 + 0.5e0) / 10000 AS size_exp,
      |       CAST(sign(p_size - 25) AS INT) AS size_sign
      |FROM part
      |ORDER BY p_partkey""") { (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_type")).as("type_l"),
      substring(col("p_name"), 1, 8).as("name8"),
      length(col("p_name")).as("name_len"),
      concat_ws("-", col("p_brand"), col("p_type")).as("cat"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
      cround(col("p_retailprice") * 1.1, 2).as("price_up"),
      abs(col("p_size") - 25).as("size_dev"),
      floor(col("p_retailprice")).cast("long").as("price_fl"),
      ceil(col("p_retailprice")).cast("long").as("price_ce"),
      cround(sqrt(col("p_size").cast("double"))).as("size_sqrt"),
      cround(pow(col("p_size").cast("double"), 2.0), 1).as("size_sq"),
      cround(log(col("p_retailprice"))).as("price_ln"),
      cround(exp(col("p_size").cast("double") / 100.0)).as("size_exp"),
      signum(col("p_size") - 25).cast("int").as("size_sign"))
      .orderBy("p_partkey")
  }

  /** Q12b — date/time function battery over orders. */
  val q12b_date_battery: Query = Query(
    """SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS INT) AS yr,
      |       CAST(month(o_orderdate) AS INT) AS mo,
      |       CAST(day(o_orderdate) AS INT) AS dom,
      |       CAST(quarter(o_orderdate) AS INT) AS qtr,
      |       CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
      |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |       CAST(o_orderdate AS DATE) AS order_date,
      |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
      |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      quarter(col("o_orderdate")).as("qtr"),
      weekday(col("o_orderdate")).as("wd"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      col("o_orderdate").cast("date").as("order_date"),
      datediff(to_date(lit("2002-01-01")), col("o_orderdate").cast("date")).as("days_to_2002"),
      col("o_orderdate").cast("timestamp").cast("long").as("epoch_s"))
      .orderBy("o_orderkey")
  }

  val all: Map[String, Query] = Map(
    "q01_filter_project" -> q01_filter_project,
    "q02_pricing_summary" -> q02_pricing_summary,
    "q03_segment_orders" -> q03_segment_orders,
    "q04_revenue_by_nation" -> q04_revenue_by_nation,
    "q05_semi_anti" -> q05_semi_anti,
    "q06_count_distinct" -> q06_count_distinct,
    "q07_rank_segment_top3" -> q07_rank_segment_top3,
    "q08_order_windows" -> q08_order_windows,
    "q09_top10_orders" -> q09_top10_orders,
    "q10_setops" -> q10_setops,
    "q11_rollup_pricing" -> q11_rollup_pricing,
    "q12_scalar_battery" -> q12_scalar_battery,
    "q12b_date_battery" -> q12b_date_battery)
}
