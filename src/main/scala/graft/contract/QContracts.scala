package graft.contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators over the TPC-H-ish tables. */
object QContracts extends Family {

  val contracts: Seq[Contract] = Seq(

    Contract("q1_pricing", { implicit in =>
      t("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100)).cast("bigint").as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)).cast("bigint").as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
    }, """SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(SUM(ROUND(l_extendedprice*100)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(ROUND(l_extendedprice*(1-l_discount)*100)) AS BIGINT) AS sum_disc_cents,
           COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus"""),

    Contract("q3_priority_revenue", { implicit in =>
      val c = t("customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t("orders")
      val l = t("lineitem")
      // r7 (guide §3.1): without stats the planner estimated the filtered
      // customer⋈orders side LARGER than lineitem and broadcast the FACT
      // table (600k-row hash relation built serially on the driver, plan-
      // captured in plans/r07/q3_priority_revenue_before.txt). The
      // mktsegment filter keeps c⋈o at ~1/5 of orders — broadcast that
      // side explicitly and stream lineitem, the only shape that survives
      // a fact table too big to broadcast. Results unchanged (same inner
      // equi-join).
      broadcast(c.join(o, c("c_custkey") === o("o_custkey")))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)).cast("bigint").as("revenue_cents"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }, """SELECT o_orderpriority,
           CAST(SUM(ROUND(l_extendedprice*(1-l_discount)*100)) AS BIGINT) AS revenue_cents,
           COUNT(DISTINCT o_orderkey) AS n_orders
         FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON o_orderkey=l_orderkey
         WHERE c_mktsegment='BUILDING' GROUP BY o_orderpriority"""),

    Contract("q_join_broadcast", { implicit in =>
      val c = t("customer"); val n = t("nation"); val r = t("region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(round(col("c_acctbal") * 100)).cast("bigint").as("acctbal_cents"))
    }, """SELECT r_name, COUNT(*) AS n_customers,
           CAST(SUM(ROUND(c_acctbal*100)) AS BIGINT) AS acctbal_cents
         FROM customer JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
         GROUP BY r_name"""),

    Contract("q_window_topk", { implicit in =>
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t("orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }, """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) t WHERE rnk <= 3"""),

    Contract("q_anti_join", { implicit in =>
      val c = t("customer")
      val o = t("orders").filter(col("o_orderdate") < lit("1995-07-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers_no_orders"))
    }, """SELECT c_nationkey, COUNT(*) AS n_customers_no_orders FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey=c_custkey AND o_orderdate < TIMESTAMP '1995-07-01')
         GROUP BY c_nationkey"""),

    Contract("q_semi_join", { implicit in =>
      val sup = t("supplier"); val l = t("lineitem")
      sup.join(l, sup("s_suppkey") === l("l_suppkey"), "left_semi")
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers_with_lineitems"))
    }, """SELECT s_nationkey, COUNT(*) AS n_suppliers_with_lineitems FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey=s_suppkey)
         GROUP BY s_nationkey"""),

    Contract("q_setops", { implicit in =>
      val l = t("lineitem")
      val early = l.filter(col("l_shipdate") < lit("1996-01-01")).select("l_orderkey").distinct()
      val late = l.filter(col("l_shipdate") >= lit("1996-01-01")).select("l_orderkey").distinct()
      early.except(late).withColumnRenamed("l_orderkey", "early_only_orderkey")
    }, """SELECT l_orderkey AS early_only_orderkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
         EXCEPT
         SELECT l_orderkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"""),

    Contract("q_cube", { implicit in =>
      t("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("bigint").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
    }, """SELECT COALESCE(l_returnflag,'ALL') AS returnflag,
              COALESCE(l_linestatus,'ALL') AS linestatus, COUNT(*) AS n_rows,
              CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    Contract("q_top_orders", { implicit in =>
      // global sort + limit: plans as TakeOrderedAndProject (no full sort)
      t("orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("totalprice_cents"))
    }, """SELECT o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_cents
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""),

    Contract("q_pivot", { implicit in =>
      t("lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")).cast("bigint"))
        .select(col("l_linestatus"), col("A").as("qty_a"), col("N").as("qty_n"), col("R").as("qty_r"))
    }, """SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag='A' THEN l_quantity END) AS BIGINT) AS qty_a,
           CAST(SUM(CASE WHEN l_returnflag='N' THEN l_quantity END) AS BIGINT) AS qty_n,
           CAST(SUM(CASE WHEN l_returnflag='R' THEN l_quantity END) AS BIGINT) AS qty_r
         FROM lineitem GROUP BY l_linestatus"""),

    Contract("q_grouping_sets", { implicit in =>
      // explicit grouping sets (not derivable from rollup/cube): by flag,
      // by status, and grand total — via SQL on a temp view
      t("lineitem").createOrReplaceTempView("lineitem_gs")
      spark.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                  COALESCE(l_linestatus, 'ALL') AS linestatus,
                  COUNT(*) AS n_rows
           FROM lineitem_gs
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    }, """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
              COALESCE(l_linestatus, 'ALL') AS linestatus,
              COUNT(*) AS n_rows
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),

    Contract("q_rollup", { implicit in =>
      t("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"))
    }, """SELECT COALESCE(l_returnflag,'ALL') AS returnflag,
              COALESCE(l_linestatus,'ALL') AS linestatus, COUNT(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    Contract("q_cheapest_lineitem", { implicit in =>
      // correlated scalar subquery: Catalyst decorrelates it into an
      // aggregate + equi left-outer join (never a per-row re-scan), which
      // the global no-cartesian plan lock verifies; orders with no
      // lineitems surface NULL, mirrored by the oracle
      t("lineitem").createOrReplaceTempView("li_csq")
      t("orders").createOrReplaceTempView("o_csq")
      spark.sql(
        """SELECT o_orderkey,
                  CAST((SELECT MIN(ROUND(l_extendedprice * 100)) FROM li_csq
                        WHERE l_orderkey = o_orderkey) AS BIGINT) AS min_price_cents
           FROM o_csq
           WHERE o_totalprice > 400000""")
    }, """SELECT o_orderkey,
           CAST((SELECT MIN(ROUND(l_extendedprice * 100)) FROM lineitem
                 WHERE l_orderkey = o_orderkey) AS BIGINT) AS min_price_cents
         FROM orders
         WHERE o_totalprice > 400000"""),

    Contract("q_rank_stats", { implicit in =>
      // analytic rank family over customers per nation: ntile quartiles,
      // percent_rank, cume_dist — exact rational doubles from identical
      // integer ranks on both engines
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
      t("customer").select(
        col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }, """SELECT c_custkey,
              NTILE(4) OVER w AS quartile,
              PERCENT_RANK() OVER w AS pct_rank,
              CUME_DIST() OVER w AS cume
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)"""),

    Contract("q_approx_distinct", { implicit in =>
      // approx_count_distinct (HLL++) beside the exact count; the oracle
      // covers the exact column, the approx column is bounded in tests
      t("lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .select(col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) / col("exact_parts") <= 0.1).as("approx_within_10pct"))
    }, """SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_within_10pct
         FROM lineitem""")
  )
}
