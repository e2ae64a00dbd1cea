package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.{davg, dec, dsum}

/** Relational query surface (SURVEY §2.1-2.8): scans, projection/filter,
  * joins (equi/semi/anti/multi-way), aggregation (partial+final, distinct,
  * rollup, having), windows (ranking, running, lag), global sort / top-k,
  * set ops, scalar functions, subqueries.
  *
  * The reference implements only O3-O6/O10-O15 of these (word-count
  * pipeline); everything else is "absent" per SURVEY §2.1-2.9 and follows
  * ANSI/Spark semantics, gated by the DuckDB oracle.
  *
  * Scale notes (100 TB posture) are per-query in the Scaladoc.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary (O10 hash aggregate, partial→final).
    * One scan-side filter + one shuffle of 6 grouped keys; map-side partial
    * aggregation makes the exchange O(groups), not O(rows).
    */
  private def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS avg_qty,
      |  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(l_discount) AS DOUBLE) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + selective predicate (O4-O6). The point at scale: both the
    * filter and the 3-column projection reach the parquet scan
    * (PushedFilters + ReadSchema) — verified in PlanSpec.
    */
  private def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.where(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Star join: lineitem ⋈ orders ⋈ customer, revenue per market segment.
    * orders/customer scale with the data, so no hard-coded broadcast hint:
    * Catalyst statistics pick broadcast while they fit (they do at test
    * scale — asserted in PlanSpec) and AQE switches to a shuffled join at
    * 100 TB; the fact table never shuffles for a broadcast hop.
    */
  private def q03(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_mktsegment"))
  }
  private val q03Sql =
    """SELECT c_mktsegment,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Broadcast join + top-N: biggest customers by order value.
    * `orderBy().limit()` plans TakeOrderedAndProject — no global sort
    * materialization at scale.
    */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("total_spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
      .limit(10)
  }
  private val q04Sql =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY total_spend DESC, c_custkey LIMIT 10""".stripMargin

  /** Left-semi join (EXISTS): orders having a high-discount line. At scale
    * the semi join needs only the join key from the probe side — Spark
    * prunes lineitem to l_orderkey + l_discount at the scan.
    */
  private def q05(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val hi = t.lineitem.where(col("l_discount") >= 0.08).select(col("l_orderkey"))
    t.orders
      .join(hi, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }
  private val q05Sql =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_discount >= 0.08)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  private def q06(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }
  private val q06Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-3 customers by balance per nation. Deterministic
    * tie-break via c_custkey in the frame's ORDER BY (SURVEY §7.4 ties).
    */
  private def q07(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t.customer
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }
  private val q07Sql =
    """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |  FROM customer) t
      |WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin

  /** Running-total window (frame ROWS UNBOUNDED PRECEDING) per supplier,
    * restricted to a few suppliers to keep judged output small. Running sum
    * computed in DECIMAL then cast — exact at every prefix.
    */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.lineitem
      .where(col("l_suppkey") <= 3)
      .withColumn("running_qty", sum(dec(col("l_quantity"))).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }
  private val q08Sql =
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem WHERE l_suppkey <= 3
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** Global top-k (O13-O15 range sort, collapsed to TakeOrderedAndProject —
    * each partition keeps k rows, driver merges; no full sort at 100 TB).
    */
  private def q09(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(15)
  private val q09Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15""".stripMargin

  /** DISTINCT (O17 dedup-by-key made explicit). */
  private def q10(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  private val q10Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Set operations: nations that have customers vs suppliers —
    * INTERSECT / EXCEPT / UNION branches tagged and unioned.
    */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.customer.select(col("c_nationkey").as("nk"))
    val s = t.supplier.select(col("s_nationkey").as("nk"))
    val both     = c.intersect(s).withColumn("tag", lit("both"))
    val custOnly = c.except(s).withColumn("tag", lit("cust_only"))
    val suppOnly = s.except(c).withColumn("tag", lit("supp_only"))
    both.union(custOnly).union(suppOnly)
      .select(col("tag"), col("nk"))
      .orderBy(col("tag"), col("nk"))
  }
  private val q11Sql =
    """SELECT * FROM (
      |  SELECT 'both' AS tag, nk FROM
      |    (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT 'cust_only', nk FROM
      |    (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT 'supp_only', nk FROM
      |    (SELECT s_nationkey AS nk FROM supplier EXCEPT SELECT c_nationkey FROM customer)
      |) ORDER BY tag, nk""".stripMargin

  /** ROLLUP hierarchy totals. DuckDB orders NULLS LAST by default, Spark
    * NULLS FIRST on ASC — pinned explicitly in both (SURVEY §7.4).
    */
  private def q12(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  private val q12Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Scalar-function projection: date parts, string ops, CASE, coalesce
    * (reference scalar surface O4 + the date/string functions it lacks).
    */
  private def q13(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("pri_code"),
        when(col("o_totalprice") >= 200000, lit("BIG"))
          .when(col("o_totalprice") >= 50000, lit("MID"))
          .otherwise(lit("SMALL")).as("bucket"),
        concat(col("o_orderstatus"), lit("-"), year(col("o_orderdate"))).as("status_yr"))
      .orderBy(col("o_orderkey"))
  private val q13Sql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  upper(substr(o_orderpriority, 1, 1)) AS pri_code,
      |  CASE WHEN o_totalprice >= 200000 THEN 'BIG'
      |       WHEN o_totalprice >= 50000 THEN 'MID'
      |       ELSE 'SMALL' END AS bucket,
      |  o_orderstatus || '-' || CAST(year(o_orderdate) AS VARCHAR) AS status_yr
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Conditional aggregation (promo revenue share, TPC-H Q14 shape):
    * lineitem ⋈ part (auto-broadcast at test scale), CASE inside exact
    * decimal sums; the final
    * ratio is one double division of identical operands.
    */
  private def q14(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    t.lineitem
      .join(t.part, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(12,2)")))
          .cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .select(
        col("promo_revenue"),
        col("total_revenue"),
        (col("promo_revenue") / col("total_revenue")).as("promo_share"))
  }
  private val q14Sql =
    """SELECT promo_revenue, total_revenue, promo_revenue / total_revenue AS promo_share
      |FROM (SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey) t""".stripMargin

  /** Global min/max/count — the reference's O11/O12 two-phase min-max,
    * verbatim as partial→final HashAggregate.
    */
  private def q15(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem.agg(
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"),
      count(lit(1)).as("n"))
  private val q15Sql =
    """SELECT min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
      |  count(*) AS n
      |FROM lineitem""".stripMargin

  /** GROUP BY + HAVING + count(DISTINCT): busy suppliers. The distinct
    * aggregate plans as a two-level expand+agg — still one logical shuffle.
    */
  private def q16(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_suppkey"))
      .agg(
        dsum(col("l_quantity")).as("total_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .where(col("total_qty") > 1000.0)
      .orderBy(col("l_suppkey"))
  private val q16Sql =
    """SELECT l_suppkey,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_suppkey
      |HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 1000.0
      |ORDER BY l_suppkey""".stripMargin

  /** Correlated-shape subquery (TPC-H Q17): lines below 20% of their part's
    * average quantity. Decorrelated as an aggregate + re-join — the plan
    * Spark/DuckDB both produce for the correlated SQL.
    */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    val t  = Tables(spark, dir)
    val li = t.lineitem
    val avgByPart = li.groupBy(col("l_partkey").as("p_key"))
      .agg(davg(col("l_quantity")).as("avg_qty"))
    li.join(avgByPart, col("l_partkey") === col("p_key"))
      .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(dsum(col("l_extendedprice")).as("low_qty_revenue"),
        count(lit(1)).as("n_lines"))
  }
  private val q17Sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS low_qty_revenue,
      |  count(*) AS n_lines
      |FROM lineitem l JOIN (
      |  SELECT l_partkey AS p_key,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.p_key
      |WHERE l.l_quantity < 0.5 * a.avg_qty""".stripMargin

  /** Large-order drill-down (TPC-H Q18): orders whose line quantities sum
    * past a threshold, joined back to customer. Aggregate-then-join keeps
    * the big side aggregated before the join at scale.
    */
  private def q18(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bigOrders = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > 250.0)
    t.orders
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_orderkey"))
  }
  private val q18Sql =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250.0) b
      |  ON o_orderkey = b.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Five-way star join through the region→nation→customer→orders→lineitem
    * chain. Only the bounded dimensions (nation, region) carry an explicit
    * broadcast hint; orders and customer GROW with the data, so their join
    * strategy is left to Catalyst statistics + AQE — broadcast while they
    * fit, shuffled hash/merge at 100 TB. Hard-coding broadcast there would
    * OOM the executors at scale.
    */
  private def q19(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("r_name"))
  }
  private val q19Sql =
    """SELECT r_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  count(DISTINCT c_custkey) AS n_customers
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** CUBE over (returnflag, linestatus) — all four grouping levels in one
    * pass (rollup's sibling; completes the grouping-set surface alongside
    * q12). NULL grouping markers ordered NULLS FIRST on both engines.
    */
  private def q20(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  private val q20Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Exact percentiles (median / p90) per group — `percentile()` is the
    * exact sort-based form (one shuffle by group, per-group sort);
    * `approx_percentile` (KLL/GK sketch) is the 100 TB drop-in when exact
    * order statistics stop being worth a sort. Both engines interpolate
    * linearly at (n-1)·q, so doubles match bit-for-bit.
    */
  private def q21(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  private val q21Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The SQL entry point: the same engine surface through `spark.sql` over
    * registered views — orders per year with exact-decimal revenue.
    */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders_v")
    t.lineitem.createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT year(o_orderdate) AS yr,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM orders_v JOIN lineitem_v ON o_orderkey = l_orderkey
        |GROUP BY year(o_orderdate)
        |ORDER BY yr""".stripMargin)
  }
  private val q22Sql =
    """SELECT year(o_orderdate) AS yr,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY year(o_orderdate)
      |ORDER BY yr""".stripMargin

  /** Custom typed UDAF ([[graft.functions.WeightedMean]]): quantity-weighted
    * mean price per line status. Exact-decimal buffer → partition-order
    * independent; one IEEE division in finish mirrors the oracle.
    */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    val wmean = udaf(graft.functions.WeightedMean)
    Tables(spark, dir).lineitem
      .groupBy(col("l_linestatus"))
      .agg(wmean(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))
  }
  private val q23Sql =
    """SELECT l_linestatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS wavg_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Salted two-stage aggregation ([[graft.operators.Skew.saltedSum]]):
    * sum/count of lineitem quantity by return flag — a 3-value key column,
    * the shape where one key dominates. The salt spreads each key over 16
    * first-stage groups; totals are salt-invariant, so the oracle is the
    * plain GROUP BY. Quantities are cast to exact decimal BEFORE salting so
    * both stages sum decimals (partition-order independent), surfaced as
    * DOUBLE at the end.
    */
  private def sk01(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedSum(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), dec(col("l_quantity")).as("qty")),
      keyCol = "l_returnflag", valueCol = "qty", nSalts = 16)
      .select(col("l_returnflag"), col("total").cast("double").as("total_qty"), col("n"))
      .orderBy(col("l_returnflag"))
  private val sk01Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Salted equi-JOIN ([[graft.operators.Skew.saltedJoin]]): lineitem ⋈
    * orders on the order key with the probe side salted 4 ways on
    * `l_linenumber` (a column that varies WITHIN an order key — salting on
    * the join key itself would be a no-op). The `shuffle_hash` hint keeps
    * the planner off broadcast at fixture scale, because the pattern being
    * judged is the shuffled-join form — when the dim side fits in memory,
    * broadcast beats salting and the operator is the wrong tool (that
    * trade is the operator's Scaladoc contract). Results are
    * salt-invariant, so the oracle is the plain inner join.
    */
  private def sk02(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    graft.operators.Skew.saltedJoin(
        t.lineitem, t.orders.hint("shuffle_hash"),
        bigKey = "l_orderkey", smallKey = "o_orderkey",
        nSalts = 4, saltSource = col("l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }
  private val sk02Sql =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Spark-4 SQL pipe syntax (`|>`): the linear FROM→WHERE→EXTEND→
    * AGGREGATE→WHERE→ORDER BY form of a filtered group-having query.
    * Pipe stages are pure parser surface — Catalyst receives the same
    * logical plan as the nested-SQL equivalent (PlanSpec asserts
    * sameResult on the 1:1 spelling; EXTEND here additionally plants its
    * cast in a pre-aggregate projection — same semantics and cost), so the
    * feature costs nothing at scale; the oracle is the plain-SQL spelling.
    * Margin char is `#` because `|` IS the pipe operator here.
    */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("lineitem_q50")
    spark.sql(
      """FROM lineitem_q50
        #|> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        #|> EXTEND CAST(l_quantity AS DECIMAL(12,2)) AS qd
        #|> AGGREGATE CAST(sum(qd) AS DOUBLE) AS total_qty, count(*) AS n
        #   GROUP BY l_returnflag
        #|> WHERE n > 1000
        #|> ORDER BY l_returnflag""".stripMargin('#'))
  }
  private val q50Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
      |  count(*) AS n
      |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag HAVING count(*) > 1000
      |ORDER BY l_returnflag""".stripMargin

  /** Spark-4 collation surface: case-insensitive grouping via a
    * `UTF8_LCASE`-collated key, over a deliberately mixed-case segment
    * column (half the rows lower-cased). Collated equality groups the case
    * variants together WITHOUT materializing a normalized copy of the key —
    * at scale that means the comparator, not an extra projection, carries
    * the semantics. The emitted key is `lower(...)` so the output is
    * deterministic (which case variant "wins" inside a collated group is
    * not), cast back to a plain string so the sink schema is
    * collation-free; the oracle mirrors with `GROUP BY lower(...)`.
    */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    val mixed = when(col("c_custkey") % 2 === 0, col("c_mktsegment"))
      .otherwise(lower(col("c_mktsegment")))
    Tables(spark, dir).customer
      .select(collate(mixed, "UTF8_LCASE").as("seg"), col("c_acctbal"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
      .select(lower(col("seg")).cast("string").as("segment"),
        col("n_customers"), col("total_bal"))
      .orderBy(col("segment"))
  }
  private val q51Sql =
    """SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
      |                  ELSE lower(c_mktsegment) END) AS segment,
      |  count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer GROUP BY 1 ORDER BY segment""".stripMargin

  /** Exact ordered-set aggregates on the ANSI surface: `median`,
    * `percentile_cont` (interpolating) and `percentile_disc` (an actual
    * element) WITHIN GROUP — the exact siblings of q32's approximate
    * sketch. Parity note: the fixture quantities are integer-valued, so
    * cont interpolation lands on quarter fractions that are IEEE-exact
    * under any evaluation order — both engines produce bit-identical
    * doubles. Scale note: exact percentiles buffer each group's values
    * (O(group) memory on the reducer); at 100 TB the q32
    * `approx_percentile` sketch (bounded state, mergeable) is the tool,
    * and this form is for post-aggregation-sized groups.
    */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("lineitem_q52")
    spark.sql(
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_qty,
        |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75_qty,
        |  count(*) AS n
        |FROM lineitem_q52 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }
  private val q52Sql =
    """SELECT l_returnflag,
      |  median(l_quantity) AS med_qty,
      |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_qty,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** IGNORE NULLS window navigation: per order, the running "last seen
    * big-ticket price" (`last_value ... IGNORE NULLS` over a sparse CASE
    * column — forward fill) and the first big-ticket price seen so far
    * (`first_value ... IGNORE NULLS`) — the gap-carrying form used for
    * forward-filling sparse measurements (ev10's gap-fill is the
    * time-series cousin). One window pass, one exchange on the partition
    * key; NULL skipping happens inside the frame evaluator, not via an
    * extra self-join. `lag IGNORE NULLS` is deliberately NOT judged here:
    * Spark and DuckDB pin different edge semantics for offset functions
    * under null-skipping (verified divergent on the fixture), and frame-
    * anchored first/last cover the forward-fill use case unambiguously.
    */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("lineitem_q53")
    spark.sql(
      """SELECT l_orderkey, l_linenumber,
        |  last_value(CASE WHEN l_quantity > 40 THEN l_extendedprice END)
        |    IGNORE NULLS OVER w AS last_big_price,
        |  first_value(CASE WHEN l_quantity > 40 THEN l_extendedprice END)
        |    IGNORE NULLS OVER w AS first_big_price
        |FROM lineitem_q53
        |WHERE l_orderkey % 7 = 0
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_extendedprice
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin)
  }
  // NB: the IGNORE NULLS spelling differs — Spark takes it postfix
  // (`f(x) IGNORE NULLS OVER`), DuckDB inside the call (`f(x IGNORE NULLS)`).
  private val q53Sql =
    """SELECT l_orderkey, l_linenumber,
      |  last_value(CASE WHEN l_quantity > 40 THEN l_extendedprice END IGNORE NULLS)
      |    OVER w AS last_big_price,
      |  first_value(CASE WHEN l_quantity > 40 THEN l_extendedprice END IGNORE NULLS)
      |    OVER w AS first_big_price
      |FROM lineitem
      |WHERE l_orderkey % 7 = 0
      |WINDOW w AS (PARTITION BY l_orderkey
      |             ORDER BY l_linenumber, l_extendedprice
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin

  /** Parameterized SQL: the same query run twice — once through named
    * parameter binding (`spark.sql(text, args)`, values bound by the
    * PARSER, never interpolated into the string — the injection-safe API
    * for templated pipeline queries) and once through Spark-4
    * `EXECUTE IMMEDIATE ... USING` (the SQL-surface spelling of the same
    * binding) — then joined to prove both bindings produce identical
    * groups. Parameter marks bind as literals, so Catalyst constant-folds
    * and pushes them exactly like hand-written predicates.
    */
  private def q54(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("orders_q54")
    val api = spark.sql(
      """SELECT o_orderpriority, count(*) AS n_api,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_api
        |FROM orders_q54 WHERE o_totalprice > :minPrice
        |GROUP BY o_orderpriority""".stripMargin,
      Map("minPrice" -> 150000))
    val imm = spark.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT o_orderpriority, count(*) AS n_imm,
        |     CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_imm
        |   FROM orders_q54 WHERE o_totalprice > ? GROUP BY o_orderpriority'
        |  USING 150000""".stripMargin)
    api.join(imm, "o_orderpriority")
      .select(col("o_orderpriority"), col("n_api"), col("total_api"),
        col("n_imm"), col("total_imm"))
      .orderBy(col("o_orderpriority"))
  }
  private val q54Sql =
    """SELECT o_orderpriority, count(*) AS n_api,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_api,
      |  count(*) AS n_imm,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_imm
      |FROM orders WHERE o_totalprice > 150000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Spark-4 SQL scripting (`BEGIN … END` + session variables): a
    * data-derived threshold is computed into a DECLAREd variable by one
    * statement and used by the next — the multi-statement parameter-driven
    * pipeline pattern WITHOUT a driver round-trip between statements (no
    * collect-then-interpolate). The variable binds as a literal in the
    * consuming statement, so the filter constant-folds and pushes to the
    * scan like any hand-written predicate. The p75 cut is exact
    * (`percentile`), mirrored as a CTE in the oracle.
    */
  private def q55(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("lineitem_q55")
    spark.sql(
      """BEGIN
        |  DECLARE qty_cut DOUBLE;
        |  SET qty_cut = (SELECT percentile(l_quantity, 0.75) FROM lineitem_q55);
        |  SELECT l_returnflag, count(*) AS n_above,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |    qty_cut
        |  FROM lineitem_q55 WHERE l_quantity > qty_cut
        |  GROUP BY l_returnflag, qty_cut ORDER BY l_returnflag;
        |END""".stripMargin)
  }
  private val q55Sql =
    """WITH c AS (SELECT quantile_cont(l_quantity, 0.75) AS qty_cut FROM lineitem)
      |SELECT l_returnflag, count(*) AS n_above,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
      |  (SELECT qty_cut FROM c) AS qty_cut
      |FROM lineitem WHERE l_quantity > (SELECT qty_cut FROM c)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bucketed co-located join ([[graft.operators.Bucketing]]): customer and
    * orders both bucketed (and sorted) on the customer key, then joined
    * with NO exchange on either side — the pre-shuffle pattern that
    * amortizes one write-time shuffle across every subsequent join at
    * 100 TB. The `merge` hint pins sort-merge (at fixture scale the planner
    * would broadcast instead and hide the bucket story); PlanSpec asserts
    * the exchange-free plan.
    */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.dir("warehouse")
    graft.operators.Bucketing.writeBucketed(
      t.customer, "graft_customer_b", s"$tmp/customer_b", 8, "c_custkey")
    graft.operators.Bucketing.writeBucketed(
      t.orders, "graft_orders_b", s"$tmp/orders_b", 8, "o_custkey")
    spark.table("graft_customer_b").hint("merge")
      .join(spark.table("graft_orders_b"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }
  private val q25Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Outer-join surface: customers LEFT JOIN their orders (null order rows
    * for order-less customers survive), aggregated per market segment with
    * an explicit null-side count. Exercises the null-extension semantics
    * the inner/semi/anti trio (q03/q05/q06) cannot.
    */
  private def q26(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_orderless_rows"))
      .orderBy(col("c_mktsegment"))
  }
  private val q26Sql =
    """SELECT c_mktsegment,
      |  count(DISTINCT c_custkey) AS n_customers,
      |  count(o_orderkey) AS n_orders,
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_orderless_rows
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Pivot: order counts per priority (rows) × order status (pivoted
    * columns) — `groupBy().pivot()` with an explicit value list (the
    * scale-safe form: no distinct-value discovery pass over the data).
    */
  private def q27(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))
  private val q27Sql =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** RANGE window frame (vs q08's ROWS frame): for every order, how many
    * orders of the same priority fall within $1000 below its price, and
    * their exact total. Ordering key is integer cents so the frame
    * boundary arithmetic is exact and identical cross-engine; RANGE
    * includes peers, so ties are deterministic by construction.
    */
  private def q28(spark: SparkSession, dir: String): DataFrame = {
    val cents = (dec(col("o_totalprice")) * 100).cast("long")
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents"))
      .rangeBetween(-100000L, 0L)
    Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
      .withColumn("n_in_band", count(lit(1)).over(w))
      .withColumn("band_cents", sum(col("cents")).over(w))
      .select(col("o_orderkey"), col("n_in_band"), col("band_cents"))
      .orderBy(col("o_orderkey"))
  }
  private val q28Sql =
    """SELECT o_orderkey, count(*) OVER w AS n_in_band,
      |  CAST(sum(cents) OVER w AS BIGINT) AS band_cents
      |FROM (SELECT o_orderkey, o_orderpriority,
      |        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |      FROM orders) t
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents
      |             RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Arbitrary GROUPING SETS with GROUPING() markers (rollup/cube's
    * general form — completes the grouping-set surface next to q12/q20),
    * through the SQL entry point.
    */
  private def q29(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  grouping(o_orderpriority) AS g_pri, grouping(o_orderstatus) AS g_st,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin)
  }
  private val q29Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin

  /** The typed Dataset[T] path end-to-end: case-class rows
    * ([[graft.core.Schemas.LineitemQty]]), a compile-time-checked lambda
    * filter, `groupByKey` + a typed mergeable `Aggregator`
    * ([[graft.functions.CountAndQtyCents]] — partial aggregation
    * preserved, unlike mapGroups). The typed filter is deliberately opaque
    * to Catalyst (no pushdown) — the documented tradeoff of this surface;
    * hot scans stay on the Column API.
    */
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.Schemas.LineitemQty
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .as[LineitemQty]
      .filter(_.l_quantity < 10.0)
      .groupByKey(_.l_returnflag)
      .agg(graft.functions.CountAndQtyCents.toColumn)
      .toDF("l_returnflag", "agg")
      .select(col("l_returnflag"), col("agg._1").as("n"),
        col("agg._2").as("qty_cents"))
      .orderBy(col("l_returnflag"))
  }
  private val q30Sql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS qty_cents
      |FROM lineitem WHERE l_quantity < 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate distinct count (HyperLogLog++) — THE default distinct
    * form at 100 TB, where exact countDistinct means shuffling every key:
    * the sketch is fixed-size per group, merges associatively in the
    * partial aggregate, and the exchange carries one ~kB buffer per
    * (group × partition) instead of the key stream.
    *
    * Sketch values are engine-specific, so the gate is ON BOUNDS, not
    * equality: the query computes BOTH approx (rsd 0.01) and exact counts,
    * keeps only groups where |approx − exact| / exact ≤ 0.05 (5σ of the
    * configured sketch error — a correct sketch essentially never trips
    * it), and emits the SQL-expressible columns. The DuckDB oracle emits
    * every group with its exact count — so one out-of-tolerance sketch
    * drops a row and fails the row/hash compare loudly.
    */
  private def q31(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        approx_count_distinct(col("o_custkey"), rsd = 0.01).as("approx_cust"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .where(
        abs(col("approx_cust") - col("n_cust")).cast("double") /
          col("n_cust").cast("double") <= 0.05)
      .select(col("yr"), col("n_cust"))
      .orderBy(col("yr"))
  private val q31Sql =
    """SELECT year(o_orderdate) AS yr, count(DISTINCT o_custkey) AS n_cust
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** Approximate percentile (t-digest-style quantile sketch,
    * `percentile_approx`) — the scale form of q21's exact percentile: one
    * bounded-size mergeable sketch per group instead of buffering the
    * column. Same bounds-gate pattern as q31: the query keeps groups only
    * where the approx p50 is within 1% of the exact interpolated p50
    * (accuracy 50k ⇒ rank error ≤ n/50k — far inside 1% on this data) and
    * emits the exact, SQL-expressible columns; the oracle emits all
    * groups, so a drifting sketch fails the compare.
    */
  private def q32(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 50000)").as("approx_p50"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
        count(lit(1)).as("n"))
      .where(
        abs(col("approx_p50") - col("exact_p50")) / col("exact_p50") <= 0.01)
      .select(col("l_returnflag"), col("exact_p50"), col("n"))
      .orderBy(col("l_returnflag"))
  private val q32Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** CORRELATED subquery semantics — orders pricier than their own
    * customer's average — in the scalable decorrelated form: one per-key
    * aggregate + an equi-join, the rewrite Catalyst itself applies to
    * correlated scalar subqueries (hash-partitioned both sides, no
    * per-row subquery execution). The avg compare is exchanged for the
    * exact integer form `price · n > Σ price` in DECIMAL, so no division
    * and no cross-engine float drift decides membership; the oracle states
    * the same predicate with literal correlated subqueries.
    */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders.select(
      col("o_custkey"), col("o_orderpriority"), dec(col("o_totalprice")).as("p"))
    val perCust = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("s"))
    o.join(perCust, "o_custkey")
      .where(col("p") * col("n") > col("s"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"),
        sum(col("p")).cast("double").as("above_value"))
      .orderBy(col("o_orderpriority"))
  }
  private val q33Sql =
    """SELECT o_orderpriority, count(*) AS n_above,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS above_value
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
      |      (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) >
      |      (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders i
      |       WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The full ranking-window family in one pass — row_number, ntile,
    * percent_rank, cume_dist, lead/lag, first/last with an explicit
    * unbounded frame — partitioned by priority, ordered by the UNIQUE
    * (totalprice, orderkey) key so every function is tie-free
    * deterministic. No arithmetic beyond the rank ratios (one integer
    * division each, identical IEEE on both engines); one window shuffle
    * serves all eight functions.
    */
  private def q35(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first(col("o_orderkey")).over(w).as("cheapest_key"),
        last(col("o_orderkey")).over(wFull).as("priciest_key"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }
  private val q35Sql =
    """SELECT o_orderpriority, o_orderkey,
      |  row_number() OVER w AS rn,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  lag(o_orderkey, 1) OVER w AS prev_key,
      |  lead(o_orderkey, 1) OVER w AS next_key,
      |  first_value(o_orderkey) OVER w AS cheapest_key,
      |  last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** One-pass data-quality audit ([[graft.operators.QualityAudit]]): per-
    * column null count, exact cardinality, and DECIMAL-exact numeric range
    * over lineitem, emitted long-format. Exact count-distincts expand the
    * scan k ways (the documented trade; approx_count_distinct is the 100 TB
    * swap-in). The oracle mirrors each report row as a UNION ALL leg.
    */
  private def q34(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityAudit.audit(
        Tables(spark, dir).lineitem,
        numericCols = Seq("l_quantity", "l_extendedprice", "l_discount"),
        stringCols = Seq("l_returnflag", "l_linestatus"))
      .orderBy(col("column"))
  private val q34Sql =
    """SELECT * FROM (
      |  SELECT 'l_quantity' AS "column",
      |    CAST(count(*) - count(l_quantity) AS BIGINT) AS n_null,
      |    CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
      |    CAST(CAST(min(l_quantity) AS DECIMAL(12,2)) AS DOUBLE) AS min_v,
      |    CAST(CAST(max(l_quantity) AS DECIMAL(12,2)) AS DOUBLE) AS max_v
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice',
      |    CAST(count(*) - count(l_extendedprice) AS BIGINT),
      |    CAST(count(DISTINCT l_extendedprice) AS BIGINT),
      |    CAST(CAST(min(l_extendedprice) AS DECIMAL(12,2)) AS DOUBLE),
      |    CAST(CAST(max(l_extendedprice) AS DECIMAL(12,2)) AS DOUBLE)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount',
      |    CAST(count(*) - count(l_discount) AS BIGINT),
      |    CAST(count(DISTINCT l_discount) AS BIGINT),
      |    CAST(CAST(min(l_discount) AS DECIMAL(12,2)) AS DOUBLE),
      |    CAST(CAST(max(l_discount) AS DECIMAL(12,2)) AS DOUBLE)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag',
      |    CAST(count(*) - count(l_returnflag) AS BIGINT),
      |    CAST(count(DISTINCT l_returnflag) AS BIGINT), NULL, NULL
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_linestatus',
      |    CAST(count(*) - count(l_linestatus) AS BIGINT),
      |    CAST(count(DISTINCT l_linestatus) AS BIGINT), NULL, NULL
      |  FROM lineitem) t
      |ORDER BY "column"""".stripMargin

  /** Equi-width histogram of order totals: bucket = ⌊price/50000⌋ clamped
    * to 12 bins. The bucket id is one IEEE double division + floor —
    * bit-identical cross-engine on the same parquet doubles — and the
    * aggregate is a 12-group map-side-combined shuffle (O(bins), not
    * O(rows), on the wire at any scale).
    */
  private def q36(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(least(floor(col("o_totalprice") / 50000.0), lit(11.0))
        .cast("long").as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("bucket"))
  private val q36Sql =
    """SELECT CAST(least(floor(o_totalprice / 50000.0), 11.0) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Equi-DEPTH histogram (q36 is equi-width): bucket boundaries are the
    * exact octile percentiles, computed in ONE tiny aggregate and
    * broadcast — bucket assignment is then a per-row comparison against
    * the 7-element boundary array, so the plan has no global sort and no
    * `ntile` window (a whole-table `ntile` plans a single-partition
    * window — the non-scalable form). Boundaries interpolate on
    * l_quantity's small-integer values at dyadic fractions (k/8), so
    * Spark's `percentile` and DuckDB's `quantile_cont` produce
    * bit-identical doubles and the bucket edges agree exactly.
    */
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem.select(col("l_quantity"))
    val bnds = li.agg(expr(
      "percentile(l_quantity, array(0.125D,0.25D,0.375D,0.5D,0.625D,0.75D,0.875D))")
      .as("bl"))
    li.crossJoin(broadcast(bnds))
      .select(col("l_quantity"),
        size(filter(col("bl"), b => col("l_quantity") > b)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_q"), max(col("l_quantity")).as("max_q"))
      .orderBy(col("bucket"))
  }
  private val q37Sql =
    """WITH b AS (SELECT quantile_cont(l_quantity,
      |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bl FROM lineitem)
      |SELECT CAST(len(list_filter(b.bl, x -> l_quantity > x)) AS INTEGER) AS bucket,
      |  count(*) AS n, min(l_quantity) AS min_q, max(l_quantity) AS max_q
      |FROM lineitem, b GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Array-function family over per-order quantity lists: collect →
    * sort_array → slice → array_distinct → higher-order aggregate/exists.
    * One hash-agg shuffle builds the per-key arrays (map-side partial
    * collect_list); every list op after that is a per-row projection —
    * no further exchange, so the plan is O(orders) wide regardless of
    * corpus size. The HOFs (`aggregate`/`exists`) are CodegenFallback;
    * acceptable here because arrays are per-order (≤7 elements), not a
    * corpus-wide hot loop — the [[graft.functions.HashExprs]] pattern is
    * the escape hatch if a list op ever lands on the per-token path.
    * All integral outputs are cast to long: the oracle compare is typed
    * (int32 ≠ int64) and DuckDB `len`/`list_sum` produce BIGINT. The two
    * list-valued outputs (`qtys`, `top3`) are emitted as canonical
    * comma-joined strings — the judge's compare layer sorts rows via
    * pandas, which cannot factorize raw array columns (unhashable
    * ndarray); `array_join` ↔ `array_to_string` is bit-identical on both
    * engines and keeps the list content fully judged.
    */
  private def q38(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("q"))).as("qtys"))
      .select(
        col("l_orderkey"),
        size(col("qtys")).cast("long").as("n_items"),
        array_join(col("qtys"), ",").as("qtys_csv"),
        array_join(slice(sort_array(col("qtys"), asc = false), 1, 3), ",")
          .as("top3_csv"),
        size(array_distinct(col("qtys"))).cast("long").as("n_distinct"),
        aggregate(col("qtys"), lit(0L), (acc, x) => acc + x * x).as("sum_sq"),
        exists(col("qtys"), _ >= 45).as("has_big"))
      .orderBy(col("l_orderkey"))
  }
  private val q38Sql =
    """SELECT l_orderkey,
      |  len(qtys) AS n_items,
      |  array_to_string(qtys, ',') AS qtys_csv,
      |  array_to_string(list_slice(list_reverse_sort(qtys), 1, 3), ',') AS top3_csv,
      |  CAST(len(list_distinct(qtys)) AS BIGINT) AS n_distinct,
      |  CAST(list_sum(list_transform(qtys, x -> x*x)) AS BIGINT) AS sum_sq,
      |  len(list_filter(qtys, x -> x >= 45)) > 0 AS has_big
      |FROM (SELECT l_orderkey,
      |        list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
      |      FROM lineitem GROUP BY 1)
      |ORDER BY l_orderkey""".stripMargin

  /** Z-order (Morton) clustering key ([[graft.functions.LayoutExprs
    * .zorder16]]): lineitem keyed by the bit-interleave of
    * (l_partkey, l_suppkey) and summarized per Morton range. The per-range
    * min/max of BOTH key columns is the judged signal — contiguous Morton
    * ranges bound both dimensions, which is what makes a z-sorted file
    * layout prunable on either predicate column from parquet footers at
    * 100 TB (a single-column sort bounds only itself; see LayoutSpec for
    * the range-partitioned form). Integer-only — engine-exact. The oracle
    * mirrors the interleave as a 16-term bit fold.
    */
  private def q39(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.select(col("l_partkey"), col("l_suppkey"),
        graft.functions.LayoutExprs.zorder16(
          pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L))).as("zkey"))
      .withColumn("zbucket", expr("zkey div 4096"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("zbucket"))
  }
  private val q39Sql =
    """WITH z AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(list_sum(list_transform(range(0, 16), i ->
      |      (((l_partkey % 65536) >> i) & 1) * (1::BIGINT << (2*i)) +
      |      (((l_suppkey % 65536) >> i) & 1) * (1::BIGINT << (2*i + 1))))
      |      AS BIGINT) AS zkey
      |  FROM lineitem)
      |SELECT zkey // 4096 AS zbucket, count(*) AS n,
      |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
      |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin

  /** q63: Hilbert vs Morton layout LOCALITY, measured — both curves key
    * lineitem by (l_partkey, l_suppkey) mod 2¹⁶, both layouts sort by
    * their curve key and cut into 64 equal-row "files" (what a
    * curve-clustered writer does — size-based cuts, not key ranges), and
    * the judged signal is each layout's total per-file key span
    * (Σ max−min of BOTH dimensions): the exact quantity parquet min/max
    * footer pruning depends on at 100 TB. Hilbert's unit-step adjacency
    * (no Morton diagonal jumps) is why production clustering (Delta
    * liquid clustering, Iceberg) prefers it — this query turns that
    * claim into a measured integer artifact. Oracle: the Morton fold
    * mirrors q39; the Hilbert walk is a 16-level recursive CTE over the
    * DISTINCT key points (reflect+swap per level —
    * [[graft.functions.LayoutImpl.hilbert16]] exactly), joined back to
    * the row stream. Scale shape: the judged form uses one global
    * row_number (a single ordered pass — the writer's sort); a 100 TB
    * writer range-partitions by the SAME key and cuts per task
    * (LayoutSpec's range-partitioned form bounds both dimensions per
    * partition the same way), so the artifact, not the plan, is what
    * transfers.
    */
  private def q63(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val x = pmod(col("l_partkey"), lit(65536L))
    val y = pmod(col("l_suppkey"), lit(65536L))
    // a curve-sorted WRITER cuts by file size, not key range: sort by the
    // curve key, slice into 64 equal-row files, measure what each file's
    // parquet footer would bound (ties carry identical (k, pk, sk), so
    // the per-file min/max/count are deterministic under any tie order)
    def layout(name: String, key: org.apache.spark.sql.Column) = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("k"), col("pk"), col("sk"))
      li.select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"), key.as("k"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("bucket", expr("(rn - 1) * 64 div cnt"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
          min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("n")).as("n_rows"),
          sum(col("max_pk") - col("min_pk")).as("span_pk"),
          sum(col("max_sk") - col("min_sk")).as("span_sk"))
        .select(lit(name).as("layout"), col("n_buckets"), col("n_rows"),
          col("span_pk"), col("span_sk"))
    }
    layout("hilbert", graft.functions.LayoutExprs.hilbert16(x, y))
      .union(layout("morton", graft.functions.LayoutExprs.zorder16(x, y)))
      .orderBy(col("layout"))
  }
  private val q63Sql =
    """WITH RECURSIVE pts AS (
      |  SELECT DISTINCT l_partkey % 65536 AS x0, l_suppkey % 65536 AS y0
      |  FROM lineitem),
      |hw AS (
      |  SELECT x0, y0, x0 AS x, y0 AS y,
      |    CAST(0 AS BIGINT) AS d, CAST(32768 AS BIGINT) AS s
      |  FROM pts
      |  UNION ALL
      |  SELECT x0, y0,
      |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 65535 - y ELSE y END)
      |         ELSE x END,
      |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 65535 - x ELSE x END)
      |         ELSE y END,
      |    d + s * s * xor(3 * rx, ry),
      |    s // 2
      |  FROM (SELECT x0, y0, x, y, d, s,
      |          CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
      |          CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
      |        FROM hw WHERE s > 0) t),
      |hkey AS (SELECT x0, y0, d AS k FROM hw WHERE s = 0),
      |keyed AS (
      |  SELECT 'hilbert' AS layout, l.l_partkey AS pk, l.l_suppkey AS sk, h.k
      |  FROM lineitem l JOIN hkey h
      |    ON l.l_partkey % 65536 = h.x0 AND l.l_suppkey % 65536 = h.y0
      |  UNION ALL
      |  SELECT 'morton' AS layout, l_partkey AS pk, l_suppkey AS sk,
      |    CAST(list_sum(list_transform(range(0, 16), i ->
      |      (((l_partkey % 65536) >> i) & 1) * (1::BIGINT << (2*i)) +
      |      (((l_suppkey % 65536) >> i) & 1) * (1::BIGINT << (2*i + 1))))
      |      AS BIGINT) AS k
      |  FROM lineitem),
      |ranked AS (
      |  SELECT layout, pk, sk,
      |    row_number() OVER (PARTITION BY layout ORDER BY k, pk, sk) AS rn,
      |    count(*) OVER (PARTITION BY layout) AS cnt
      |  FROM keyed),
      |buckets AS (
      |  SELECT layout, (rn - 1) * 64 // cnt AS bucket, count(*) AS n,
      |    min(pk) AS min_pk, max(pk) AS max_pk,
      |    min(sk) AS min_sk, max(sk) AS max_sk
      |  FROM ranked GROUP BY 1, 2)
      |SELECT layout,
      |  count(*)::BIGINT AS n_buckets,
      |  CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(sum(max_pk - min_pk) AS BIGINT) AS span_pk,
      |  CAST(sum(max_sk - min_sk) AS BIGINT) AS span_sk
      |FROM buckets GROUP BY layout ORDER BY layout""".stripMargin

  /** Declarative SQL UDF (Spark 4 `CREATE FUNCTION … RETURN expr`): the
    * discounted-price formula defined ONCE as a SQL function and reused.
    * Unlike a Scala/Python UDF, the body is inlined into the plan by
    * Catalyst — it constant-folds, pushes down, and stays inside
    * whole-stage codegen, so the abstraction is free at 100 TB where a
    * closure UDF would break codegen row-by-row. The oracle inlines the
    * same expression (DuckDB macros would too — inlining is the point).
    */
  private def q40(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).lineitem.createOrReplaceTempView("lineitem_q40")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        |RETURNS DOUBLE
        |RETURN CAST(CAST(p AS DECIMAL(12,2)) * (1 - CAST(d AS DECIMAL(12,2))) AS DOUBLE)
        |""".stripMargin)
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(sum(CAST(disc_price(l_extendedprice, l_discount) AS DECIMAL(14,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem_q40 WHERE l_quantity >= 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }
  private val q40Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS DECIMAL(14,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem WHERE l_quantity >= 25
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** LATERAL join with per-row LIMIT: for each qualifying order, its two
    * most expensive line items — the correlated top-N that LATERAL
    * expresses directly. Catalyst decorrelates the limit into a
    * rank-filtered join (DecorrelateInnerQuery), so execution is one
    * shuffle + per-key window, not an O(orders) loop of subqueries —
    * the decorrelation IS the scale story. Tie-broken by l_linenumber;
    * integers/exact doubles only.
    */
  private def q41(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("orders_q41")
    t.lineitem.createOrReplaceTempView("lineitem_q41")
    spark.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM orders_q41 o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM lineitem_q41
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        |WHERE o.o_totalprice > 400000
        |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin)
  }
  private val q41Sql =
    """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
      |FROM orders o,
      |LATERAL (SELECT l_linenumber, l_extendedprice
      |         FROM lineitem
      |         WHERE l_orderkey = o.o_orderkey
      |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
      |WHERE o.o_totalprice > 400000
      |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL preserve
    * duplicate cardinality (q11's DISTINCT forms collapse it): for the
    * quantity multisets of returned vs accepted line items, each value's
    * intersection count is min(n_a, n_b) and except count is
    * max(n_a − n_b, 0). Spark plans both as a single aggregate computing
    * per-side counts then a generator replicating min/max-difference
    * copies — one shuffle each, no join of the raw multisets.
    */
  private def q42(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val r = li.where(col("l_returnflag") === "R")
      .select(col("l_quantity").cast("long").as("q"))
    val a = li.where(col("l_returnflag") === "A")
      .select(col("l_quantity").cast("long").as("q"))
    val inter = r.intersectAll(a).groupBy(col("q"))
      .agg(count(lit(1)).as("n_inter"))
    val exc = r.exceptAll(a).groupBy(col("q"))
      .agg(count(lit(1)).as("n_except"))
    inter.join(exc, Seq("q"), "full_outer")
      .select(col("q"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
      .orderBy(col("q"))
  }
  private val q42Sql =
    """WITH r AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
      |           WHERE l_returnflag = 'R'),
      |a AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
      |      WHERE l_returnflag = 'A'),
      |i AS (SELECT q, count(*) AS n_inter
      |      FROM (SELECT q FROM r INTERSECT ALL SELECT q FROM a) t GROUP BY q),
      |e AS (SELECT q, count(*) AS n_except
      |      FROM (SELECT q FROM r EXCEPT ALL SELECT q FROM a) t GROUP BY q)
      |SELECT COALESCE(i.q, e.q) AS q,
      |  COALESCE(n_inter, 0) AS n_inter, COALESCE(n_except, 0) AS n_except
      |FROM i FULL OUTER JOIN e ON i.q = e.q
      |ORDER BY q""".stripMargin

  /** NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other — the semantics dimension-key joins need when "unknown"
    * is a real category. Spark accepts null-safe equality as a HASH join
    * key (the null group hashes like any value), so the plan stays an
    * equi-join — no fallback to a nested-loop theta join. Every 7th order
    * key is nulled to make the NULL group load-bearing.
    */
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def keyed(tag: String) = o.select(
      when(col("o_orderkey") % 7 === 0, lit(null))
        .otherwise(col("o_orderkey") % 100).as(s"k_$tag"))
    keyed("a").join(keyed("b"), col("k_a") <=> col("k_b"))
      .groupBy(col("k_a").as("k"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("k").asc_nulls_first)
  }
  private val q43Sql =
    """WITH ka AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |             ELSE o_orderkey % 100 END AS k_a FROM orders),
      |kb AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE o_orderkey % 100 END AS k_b FROM orders)
      |SELECT k_a AS k, count(*) AS n_pairs
      |FROM ka JOIN kb ON k_a IS NOT DISTINCT FROM k_b
      |GROUP BY k_a ORDER BY k NULLS FIRST""".stripMargin

  /** TRY-semantics dirty-data tolerance: a derived string column where
    * every 5th row is unparseable; `try_cast` yields NULL instead of a
    * task failure, and the aggregate reports parsed/failed splits. At
    * 100 TB this is the difference between one bad row killing a stage
    * retry-loop and the pipeline quantifying its dirt — the ingest
    * posture for any external feed. Parsed sums run in DECIMAL then cast
    * (the repo's float-parity rule).
    */
  private def q44(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("raw",
        when(col("event_id") % 5 === 0, concat(col("event_type"), lit("#")))
          .otherwise(col("event_id").cast("string")))
      .select(col("event_type"),
        expr("try_cast(raw AS BIGINT)").as("parsed"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("parsed")).as("n_parsed"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_dirty"),
        sum(col("parsed")).as("sum_parsed"))
      .orderBy(col("event_type"))
  private val q44Sql =
    """SELECT event_type, count(*) AS n,
      |  count(parsed) AS n_parsed,
      |  CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
      |  CAST(sum(parsed) AS BIGINT) AS sum_parsed
      |FROM (SELECT event_type,
      |        TRY_CAST(CASE WHEN event_id % 5 = 0
      |            THEN event_type || '#'
      |            ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS parsed
      |      FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** UNPIVOT (wide→long melt): a per-flag aggregate fanned out to one
    * (flag, metric, value) row per measure. Spark plans `unpivot` as an
    * Expand over the already-aggregated rows — the melt itself is a pure
    * map-side generator (3 rows out per row in), so at 100 TB the only
    * shuffle is the upstream aggregate's; metric names never become a
    * join. All measures share one DOUBLE value column (exact-decimal sums
    * surfaced as doubles per the repo's float-parity rule).
    */
  private def q45(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_items")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }
  private val q45Sql =
    """WITH w AS (SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  CAST(count(*) AS DOUBLE) AS n_items
      |FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, metric, value
      |FROM w UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_items))
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Statistical moments (stddev / covariance / correlation) computed
    * from EXACT decimal power sums, not the engines' native one-pass
    * moment aggregates: Σx, Σx², Σxy over DECIMAL are associative and
    * engine/partition-order independent, and the closed-form combination
    * ((nΣxy − ΣxΣy) / …) is a fixed IEEE expression tree evaluated on
    * identical doubles — so stddev/corr are bit-identical cross-engine,
    * which native stddev_samp/corr (double accumulation, order-dependent)
    * cannot guarantee. Same scale shape as any hash aggregate: partial
    * sums map-side, one exchange of 6 numbers per group.
    */
  private def q46(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    // Pivot-centered EXACT-decimal power sums. The textbook combine
    // (n·Σxy − Σx·Σy in doubles) cancels ~19 digits at sf1 — the result is
    // pure rounding residue, and the two engines' residues differ at the
    // last ULP (one fuses the multiply-subtract). Centering on fixed
    // pivots (25.50 / 38000.00 — any constants work, these sit near the
    // fixture means to keep magnitudes small; the moments are
    // shift-invariant) keeps every sum and the n·Σ−Σ·Σ numerators inside
    // exact DECIMAL arithmetic, so the ONLY rounding anywhere is the final
    // cast-to-double + divide/sqrt — bit-identical cross-engine at any sf
    // until DECIMAL(25,4) overflows (~sf100).
    li.selectExpr("l_returnflag",
        "CAST(l_quantity AS DECIMAL(12,2)) - 25.50 AS xc",
        "CAST(l_extendedprice AS DECIMAL(12,2)) - 38000.00 AS yc")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(xc) AS DECIMAL(19,2))").as("sxc"),
        expr("CAST(sum(yc) AS DECIMAL(19,2))").as("syc"),
        expr("CAST(sum(xc*xc) AS DECIMAL(25,4))").as("sxx"),
        expr("CAST(sum(yc*yc) AS DECIMAL(25,4))").as("syy"),
        expr("CAST(sum(xc*yc) AS DECIMAL(25,4))").as("sxy"))
      // The final divide/sqrt runs in doubles; the two engines double-round
      // the DECIMAL->DOUBLE cast + divide differently (1 ULP apart at sf1).
      // The inner DECIMAL(28,12) cast quantizes at 1e-12 — three orders of
      // magnitude above the ULP noise — so both engines land on the same
      // decimal; the outer cast back to DOUBLE makes the OUTPUT type hash
      // canonically (a bare DECIMAL output tripped the driver's hash gate
      // in r06: Spark-parquet DECIMAL(28,12) and DuckDB's computed decimal
      // render trailing zeros / precision differently).
      .selectExpr("l_returnflag",
        "n AS n_rows",
        "CAST(CAST(sqrt(CAST(CAST(n AS DECIMAL(12,0))*sxx - sxc*sxc AS DOUBLE)" +
          " / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0))) AS DECIMAL(28,12)) AS DOUBLE) AS std_qty",
        "CAST(CAST(CAST(CAST(n AS DECIMAL(12,0))*sxy - sxc*syc AS DOUBLE)" +
          " / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) AS DECIMAL(28,12)) AS DOUBLE) AS covar_qp",
        "CAST(CAST(CAST(CAST(n AS DECIMAL(12,0))*sxy - sxc*syc AS DOUBLE)" +
          " / sqrt(CAST(CAST(n AS DECIMAL(12,0))*sxx - sxc*sxc AS DOUBLE)" +
          " * CAST(CAST(n AS DECIMAL(12,0))*syy - syc*syc AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS corr_qp")
      .orderBy(col("l_returnflag"))
  }
  private val q46Sql =
    """WITH s AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(xc) AS DECIMAL(19,2)) AS sxc,
      |  CAST(sum(yc) AS DECIMAL(19,2)) AS syc,
      |  CAST(sum(xc*xc) AS DECIMAL(25,4)) AS sxx,
      |  CAST(sum(yc*yc) AS DECIMAL(25,4)) AS syy,
      |  CAST(sum(xc*yc) AS DECIMAL(25,4)) AS sxy
      |FROM (SELECT l_returnflag,
      |        CAST(l_quantity AS DECIMAL(12,2)) - 25.50 AS xc,
      |        CAST(l_extendedprice AS DECIMAL(12,2)) - 38000.00 AS yc
      |      FROM lineitem) c GROUP BY 1)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  CAST(CAST(sqrt(CAST(CAST(n AS DECIMAL(12,0))*sxx - sxc*sxc AS DOUBLE)
      |    / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0))) AS DECIMAL(28,12)) AS DOUBLE) AS std_qty,
      |  CAST(CAST(CAST(CAST(n AS DECIMAL(12,0))*sxy - sxc*syc AS DOUBLE)
      |    / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)) AS DECIMAL(28,12)) AS DOUBLE) AS covar_qp,
      |  CAST(CAST(CAST(CAST(n AS DECIMAL(12,0))*sxy - sxc*syc AS DOUBLE)
      |    / sqrt(CAST(CAST(n AS DECIMAL(12,0))*sxx - sxc*sxc AS DOUBLE)
      |      * CAST(CAST(n AS DECIMAL(12,0))*syy - syc*syc AS DOUBLE)) AS DECIMAL(28,12)) AS DOUBLE) AS corr_qp
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** Ordered string aggregation (LISTAGG/string_agg): nation names per
    * region, concatenated in sorted order. Spark collects per-group then
    * sorts INSIDE the row (`array_sort` before `array_join`) — the
    * deterministic form; `collect_list` order alone is partition-order-
    * dependent and would never hash-match. Grouped concat is inherently
    * bounded by group size — fine for dimension-sized groups, a smell on
    * fact-sized ones (that's what tx-series chunking is for).
    */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation.join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))
  }
  private val q47Sql =
    """SELECT r_name, count(*) AS n_nations,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Bitwise aggregates (bit_and / bit_or / bit_xor): integer-exact,
    * fully associative+commutative, so they combine map-side like any
    * algebraic aggregate — one exchange of 3 longs per group. bit_xor is
    * the load-bearing one in practice: it is its own inverse, which makes
    * it the standard order-independent set-checksum (the same trick
    * dd07's convergence probe uses with xxhash64).
    */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.groupBy(col("l_linenumber"))
      .agg(bit_and(col("l_orderkey")).as("band"),
        bit_or(col("l_orderkey")).as("bor"),
        bit_xor(col("l_orderkey")).as("bxor"),
        count(lit(1)).as("n"))
      .orderBy(col("l_linenumber"))
  }
  private val q48Sql =
    """SELECT l_linenumber, bit_and(l_orderkey) AS band,
      |  bit_or(l_orderkey) AS bor, bit_xor(l_orderkey) AS bxor,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY l_linenumber""".stripMargin

  /** Correlated EXISTS / NOT EXISTS / scalar-subquery-in-SELECT on the
    * SQL surface (q05/q06 are the DataFrame semi/anti forms): urgent-order
    * customers with zero returned line items, plus their order count.
    * Catalyst decorrelates all three — EXISTS → left-semi hash join,
    * NOT EXISTS (with its inner orders⋈lineitem join) → left-anti,
    * the scalar count → per-key aggregate + left-outer — so execution is
    * three hash joins against pre-aggregated/filtered sides, never a
    * per-customer subquery loop. That rewrite is the only reason the
    * shape survives 100 TB: the subqueries run once, not |customer| times.
    */
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("customer_q49")
    t.orders.createOrReplaceTempView("orders_q49")
    t.lineitem.createOrReplaceTempView("lineitem_q49")
    spark.sql(
      """SELECT c.c_custkey, c.c_name,
        |  (SELECT count(*) FROM orders_q49 o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_q49 c
        |WHERE EXISTS (SELECT 1 FROM orders_q49 o
        |        WHERE o.o_custkey = c.c_custkey
        |          AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders_q49 o JOIN lineitem_q49 l
        |        ON l.l_orderkey = o.o_orderkey
        |        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |ORDER BY c.c_custkey""".stripMargin)
  }
  private val q49Sql =
    """SELECT c.c_custkey, c.c_name,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |        WHERE o.o_custkey = c.c_custkey
      |          AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l
      |        ON l.l_orderkey = o.o_orderkey
      |        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
      |ORDER BY c.c_custkey""".stripMargin

  /** Exact per-group percentiles WITHOUT sorting the data: the fixture's
    * doubles have bounded 2-decimal precision, so the value DOMAIN is
    * small — roll the rows up to a (group, value) histogram first (one
    * map-side-combined exchange; at 100 TB the histogram is ≤|domain|
    * tiny rows however many rows feed it), then take a running sum over
    * the histogram and pick the lower-quantile value where the cumulative
    * count crosses ⌈q·n⌉. This is the scalable exact-quantile pattern for
    * bounded-precision domains — the alternatives are a full sort
    * (O(n log n) shuffle of every row) or an approximate sketch. Type-1
    * (lower) quantiles return an actual domain value, so the judged
    * doubles are exact parquet values; ⌈q·n⌉ is the same IEEE multiply +
    * ceil on both engines.
    */
  private def q56(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(col("flag"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(byFlag.orderBy(col("v"))))
      .withColumn("n", sum(col("cnt")).over(byFlag))
    def pick(q: Double, name: String) =
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("v"))).as(name)
    cum.groupBy(col("flag"))
      .agg(pick(0.5, "p50"), pick(0.95, "p95"), pick(0.99, "p99"))
      .orderBy(col("flag"))
  }
  private val q56Sql =
    """WITH hist AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, v, cnt,
      |    sum(cnt) OVER (PARTITION BY flag ORDER BY v) AS cum,
      |    sum(cnt) OVER (PARTITION BY flag) AS n
      |  FROM hist)
      |SELECT flag,
      |  min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
      |  min(CASE WHEN cum >= ceil(0.95 * n) THEN v END) AS p95,
      |  min(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS p99
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  /** Correlated LATERAL subquery join (Spark-4 decorrelation of
    * ORDER BY + LIMIT in a lateral): per-customer top-2 orders by price —
    * the "top-k dependent rows per outer row" SQL shape that predates
    * window functions and that both engines now decorrelate into a
    * ranked join rather than a per-row re-execution. Comparison-only
    * doubles (prices pass through), total order (custkey, orderkey) —
    * engine-exact. Same text runs on both engines verbatim.
    */
  private def q57(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("orders_q57")
    Tables(spark, dir).customer.createOrReplaceTempView("customer_q57")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_q57 c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_q57 o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey % 10 = 3
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }
  private val q57Sql =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_custkey % 10 = 3
      |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin

  /** Mergeable QUANTILE sketch, bounds-gated (ev31's idiom, completing
    * the sketch family: HLL distinct = ev31, count-min frequency = tx24,
    * Bloom membership = dd08/dd13, and now Greenwald-Khanna quantiles):
    * `percentile_approx(accuracy=100)` guarantees rank error ≤ n/100 and
    * its internal state merges across partitions — the 100 TB path where
    * q56's exact histogram would not fit a wide-domain column. The sketch
    * VALUE is run-dependent, so the judged output is the exact (flag, n)
    * row, kept only if the measured rank of BOTH sketch outputs honors
    * the contract (±3% slack for boundary duplicates) — a contract
    * violation drops the row and flips the gate red.
    */
  private def q58(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val approx = li.groupBy(col("l_returnflag").as("flag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(100)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(100)).as("a95"),
        count(lit(1)).as("n"))
    li.select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .join(broadcast(approx), "flag")
      .groupBy(col("flag"))
      .agg(max(col("n")).as("n"),
        sum(when(col("v") <= col("a50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("v") <= col("a95"), 1L).otherwise(0L)).as("r95"))
      .where(abs(col("r50") - lit(0.5) * col("n")) <= lit(0.03) * col("n") &&
        abs(col("r95") - lit(0.95) * col("n")) <= lit(0.03) * col("n"))
      .select(col("flag"), col("n"))
      .orderBy(col("flag"))
  }
  private val q58Sql =
    """SELECT l_returnflag AS flag, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin

  /** Native heap-based per-key top-k ([[graft.plans.TopKPerKey]] — the
    * custom LogicalPlan + SparkStrategy + SparkPlan extension point):
    * top-2 orders per customer by (price DESC, orderkey). Where the
    * window form sorts every row of every partition, the custom exec
    * keeps a bounded k-row heap per key above the SAME single hash
    * exchange — O(n log k) and O(keys·k) memory, the shape that survives
    * million-row hot keys at 100 TB. PlanSpec asserts the custom exec
    * node, the lone exchange, and the absence of Sort/Window below it;
    * the oracle is the standard row_number formulation.
    */
  private def q59(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.perKey(
      Tables(spark, dir).orders
        .where(col("o_custkey") % 7 === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keyCols = Seq("o_custkey"),
      order = Seq(("o_totalprice", true), ("o_orderkey", false)),
      k = 2)
      .orderBy(col("o_custkey"), col("o_orderkey"))
  private val q59Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders WHERE o_custkey % 7 = 1) t
      |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q60: V2 catalog resolution ([[graft.sources.GraftCatalog]]) — plain
    * SQL reaches the custom connector by IDENTIFIER through the
    * session's catalog manager, no `format(...)` call: the analyzer
    * resolves `graft_cat.synth.docs12000_p6` to the SyntheticDocs table
    * (12 000 rows, 6 slices), pushdown/pruning apply as on the ev40
    * path, and the oracle recomputes the rollup from the connector's
    * published arithmetic. The catalog conf is set lazily at runtime —
    * V2 catalogs resolve on first lookup, so an externally built
    * session needs no session-construction cooperation.
    */
  private def q60(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_tokens) AS n_tokens
        |FROM graft_cat.synth.docs12000_p6
        |WHERE doc_id >= 2000 AND doc_id < 10000
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }
  private val q60Sql =
    """WITH ids AS (SELECT unnest(generate_series(2000, 9999)) AS id)
      |SELECT ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |  count(*)::BIGINT AS n_docs,
      |  CAST(sum(id % 97 + 3) AS BIGINT) AS n_tokens
      |FROM ids GROUP BY 1 ORDER BY lang""".stripMargin

  /** q61: V2 catalog FUNCTION resolution — `graft_cat.ns.fnv64` binds
    * through FunctionCatalog.loadFunction and codegen calls its `invoke`
    * magic method (static dispatch on unboxed longs); the per-lang
    * bit_xor checksum of the hashed ids is recomputed by the oracle in
    * HUGEINT mod-2⁶⁴ arithmetic (ev41's byte fold), so the gate proves
    * the catalog-bound function computed the exact same 8-byte FNV-1a
    * on every row.
    */
  private def q61(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(
      """SELECT lang, count(*) AS n_docs,
        |  bit_xor(graft_cat.ns.fnv64(doc_id)) AS checksum
        |FROM graft_cat.ns.docs8000
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }
  private val q61Sql =
    """WITH h AS (
      |  SELECT ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(generate_series(0, 7),
      |          i -> ((id >> (8 * i)::INT) & 255)::HUGEINT)),
      |      (fh, b) -> (xor(fh::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
      |        % 18446744073709551616::HUGEINT) AS h
      |  FROM (SELECT unnest(generate_series(0, 7999)) AS id))
      |SELECT lang, CAST(cnt AS BIGINT) AS n_docs,
      |  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
      |       THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT) AS checksum
      |FROM (SELECT lang, count(*) AS cnt, bit_xor(h::UBIGINT)::HUGEINT AS x
      |      FROM h GROUP BY lang) t
      |ORDER BY lang""".stripMargin

  /** q62: the scan-shaping pushdown contracts a production connector
    * (JDBC/Iceberg-class) exercises daily, end-to-end under the hash
    * gate — three branches over the same 1M-row synthetic table:
    *
    *  - `agg_pushdown`: un-grouped count/sum/min/max over a pushed
    *    doc_id window — `SupportsPushDownAggregates` COMPLETE mode
    *    absorbs the whole aggregation into the source's closed forms
    *    (one row moves, no Aggregate node survives; SourcesSpec pins the
    *    plan). At 100 TB this is `count(*)` answered without a scan.
    *  - `limit_pushdown`: `LIMIT 250k` bounds the generated range BEFORE
    *    partition planning (`SupportsPushDownLimit`, fully pushed) —
    *    Spark aggregates the 250k surviving rows, proving the scan
    *    emitted exactly the bounded set.
    *  - `topn_pushdown`: `ORDER BY doc_id DESC LIMIT 1000` narrows the
    *    range to the top-1000 ids (`SupportsPushDownTopN`, partial —
    *    Spark's final sort sees 1000 rows, not 1M).
    *
    * The oracle re-derives each branch from `generate_series` and the
    * connector's published row arithmetic.
    */
  private def q62(spark: SparkSession, dir: String): DataFrame = {
    def docs = spark.read.format(graft.sources.SyntheticDocs.Format)
      .option("rows", "1000000").option("partitions", "16").load()
    def aggAll(df: DataFrame, branch: String): DataFrame = df
      .agg(count(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("doc_id")).as("sum_ids"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .select(lit(branch).as("branch"), col("n_docs"), col("sum_tokens"),
        col("min_tokens"), col("max_tokens"), col("sum_ids"),
        col("min_id"), col("max_id"))
    val aggPushed = aggAll(
      docs.where(col("doc_id") >= 100000 && col("doc_id") < 900000),
      "agg_pushdown")
    val limited = aggAll(docs.limit(250000), "limit_pushdown")
    val topn = aggAll(docs.orderBy(col("doc_id").desc).limit(1000),
      "topn_pushdown")
    aggPushed.unionAll(limited).unionAll(topn).orderBy(col("branch"))
  }
  private val q62Sql =
    """WITH u AS (
      |  SELECT 'agg_pushdown' AS branch, unnest(generate_series(100000, 899999)) AS id
      |  UNION ALL
      |  SELECT 'limit_pushdown' AS branch, unnest(generate_series(0, 249999)) AS id
      |  UNION ALL
      |  SELECT 'topn_pushdown' AS branch, unnest(generate_series(999000, 999999)) AS id)
      |SELECT branch, count(id)::BIGINT AS n_docs,
      |  CAST(sum(id % 97 + 3) AS BIGINT) AS sum_tokens,
      |  CAST(min(id % 97 + 3) AS BIGINT) AS min_tokens,
      |  CAST(max(id % 97 + 3) AS BIGINT) AS max_tokens,
      |  CAST(sum(id) AS BIGINT) AS sum_ids,
      |  min(id)::BIGINT AS min_id, max(id)::BIGINT AS max_id
      |FROM u GROUP BY branch ORDER BY branch""".stripMargin

  /** q66: V2 JOIN pushdown (`SupportsPushDownJoin`, Spark 4.1 — the
    * JDBC-federation contract) under the hash gate, two branches over
    * the same pushed inner doc_id equi-join of two synthetic tables
    * (1M filtered to [1000, 800000) ⋈ 500k ⇒ ids [1000, 500000)):
    *
    *  - `join_rollup`: GROUP BY a.lang with sum(a.n_tokens·b.n_tokens) —
    *    the grouped aggregate is NOT pushable, so it runs over the
    *    JOINED scan's rows: proves the absorbed join emits exactly the
    *    intersection ids once each with both sides' columns correct
    *    (the tok product is the square only if both sides generated the
    *    same row for the same id).
    *  - `join_count`: un-grouped count/sum over the same join — the
    *    aggregate pushes down ON TOP of the pushed join and collapses to
    *    ONE closed-form row: `count(*)` of a join moves one row, the
    *    federation-plan endgame (join absorbed, aggregate absorbed,
    *    nothing executes but arithmetic).
    *
    * SourcesSpec pins both plans join-free. At 100 TB this contract is
    * what lets a Spark federation plan hand an entire join to the system
    * that stores the data (JDBC, a warehouse, an arithmetic table)
    * instead of pulling both sides across the network.
    */
  private def q66(spark: SparkSession, dir: String): DataFrame = {
    // set in GraftSession too; repeated for externally built sessions
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def docs(n: Long) = spark.read.format(graft.sources.SyntheticDocs.Format)
      .option("rows", n.toString).option("partitions", "16").load()
    val a = docs(1000000L).where(col("doc_id") >= 1000 && col("doc_id") < 800000)
    val b = docs(500000L)
    val rollup = a.join(b, a("doc_id") === b("doc_id"))
      .groupBy(a("lang").as("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(a("n_tokens") * b("n_tokens")).as("metric"))
      .select(lit("join_rollup").as("branch"), col("lang"), col("n_pairs"),
        col("metric"))
    val collapsed = a.join(b, a("doc_id") === b("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(b("n_tokens")).as("metric"))
      .select(lit("join_count").as("branch"), lit("*").as("lang"),
        col("n_pairs"), col("metric"))
    rollup.unionAll(collapsed).orderBy(col("branch"), col("lang"))
  }
  private val q66Sql =
    """WITH ids AS (SELECT unnest(generate_series(1000, 499999)) AS id)
      |SELECT 'join_rollup' AS branch,
      |  ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |  count(*)::BIGINT AS n_pairs,
      |  CAST(sum((id % 97 + 3) * (id % 97 + 3)) AS BIGINT) AS metric
      |FROM ids GROUP BY 2
      |UNION ALL
      |SELECT 'join_count', '*', count(*)::BIGINT,
      |  CAST(sum(id % 97 + 3) AS BIGINT)
      |FROM ids
      |ORDER BY branch, lang""".stripMargin

  /** q64: storage-partitioned join — both catalog tables are BUCKETED
    * (`docs…_b8` → the scan reports `bucket(8, doc_id)` key-grouped
    * partitioning, `SupportsReportPartitioning` + `HasPartitionKey`), so
    * Spark plans the doc_id equi-join with NO shuffle on either side:
    * partition k of `a` merge-joins partition k of `b` in place, the
    * contract Iceberg bucketed tables use to co-locate 100 TB fact-fact
    * joins. The MERGE hint pins the sort-merge strategy (the point is
    * the exchange-free join, not broadcast dodging it); SourcesSpec pins
    * the plan has zero exchanges below the join. The residual
    * `b.source = 'web'` filter proves non-pushed predicates still apply
    * above the bucketed scan, and the oracle recomputes the joined
    * rollup from the connector's published arithmetic.
    */
  private def q64(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    // set in GraftSession too; repeated here so an externally built
    // session still gets the exchange-free plan this query is about
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      """SELECT /*+ MERGE(b) */ a.lang, count(*) AS n_pairs,
        |  sum(a.n_tokens * b.n_tokens) AS tok_product
        |FROM graft_cat.spj.docs400000_b8 a
        |JOIN graft_cat.spj.docs250000_b8 b ON a.doc_id = b.doc_id
        |WHERE b.source = 'web'
        |GROUP BY a.lang ORDER BY a.lang""".stripMargin)
  }
  private val q64Sql =
    """WITH ids AS (SELECT unnest(generate_series(0, 249999)) AS id)
      |SELECT ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |  count(*)::BIGINT AS n_pairs,
      |  CAST(sum((id % 97 + 3) * (id % 97 + 3)) AS BIGINT) AS tok_product
      |FROM ids WHERE id % 4 = 2
      |GROUP BY 1 ORDER BY lang""".stripMargin

  /** q65: V2 metadata column (`SupportsMetadataColumns`) — `_partition`
    * is the input-partition ordinal the row was physically read from
    * (the `_file`/`_spec_id` analog an Iceberg-class table exposes),
    * hidden from `SELECT *` and materialized by the reader only when
    * referenced. On a bucketed table the ordinal IS the bucket id, so
    * the oracle re-derives the whole per-partition rollup as
    * `id % 16` over `generate_series` — hash-gating that every row was
    * read from exactly the partition the layout assigns it.
    */
  private def q65(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(
      """SELECT _partition AS bucket_id, count(*) AS n_docs,
        |  sum(n_tokens) AS sum_tokens, sum(doc_id) AS sum_ids
        |FROM graft_cat.meta.docs100000_b16
        |GROUP BY _partition ORDER BY bucket_id""".stripMargin)
  }
  private val q65Sql =
    """WITH ids AS (SELECT unnest(generate_series(0, 99999)) AS id)
      |SELECT (id % 16)::INT AS bucket_id, count(*)::BIGINT AS n_docs,
      |  CAST(sum(id % 97 + 3) AS BIGINT) AS sum_tokens,
      |  CAST(sum(id) AS BIGINT) AS sum_ids
      |FROM ids GROUP BY 1 ORDER BY bucket_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "q66_join_pushdown"    -> QueryDef(q66, Some(q66Sql)),
    "q65_metadata_column"  -> QueryDef(q65, Some(q65Sql)),
    "q64_spj_join"         -> QueryDef(q64, Some(q64Sql)),
    "q62_scan_pushdown"    -> QueryDef(q62, Some(q62Sql)),
    "q61_catalog_function" -> QueryDef(q61, Some(q61Sql)),
    "q60_catalog_table"    -> QueryDef(q60, Some(q60Sql)),
    "q59_native_topk"      -> QueryDef(q59, Some(q59Sql)),
    "q58_quantile_sketch"  -> QueryDef(q58, Some(q58Sql)),
    "q57_lateral_topk"     -> QueryDef(q57, Some(q57Sql)),
    "q56_exact_quantiles"  -> QueryDef(q56, Some(q56Sql)),
    "q49_exists_subqueries" -> QueryDef(q49, Some(q49Sql)),
    "q45_unpivot"          -> QueryDef(q45, Some(q45Sql)),
    "q46_stats_moments"    -> QueryDef(q46, Some(q46Sql)),
    "q47_string_agg"       -> QueryDef(q47, Some(q47Sql)),
    "q48_bit_aggs"         -> QueryDef(q48, Some(q48Sql)),
    "q44_try_functions"    -> QueryDef(q44, Some(q44Sql)),
    "q42_set_ops_all"      -> QueryDef(q42, Some(q42Sql)),
    "q43_nullsafe_join"    -> QueryDef(q43, Some(q43Sql)),
    "q40_sql_udf"          -> QueryDef(q40, Some(q40Sql)),
    "q41_lateral_topk"     -> QueryDef(q41, Some(q41Sql)),
    "q39_zorder_layout"    -> QueryDef(q39, Some(q39Sql)),
    "q63_hilbert_locality" -> QueryDef(q63, Some(q63Sql)),
    "q38_array_ops"        -> QueryDef(q38, Some(q38Sql)),
    "q37_equidepth"        -> QueryDef(q37, Some(q37Sql)),
    "q34_quality_audit"    -> QueryDef(q34, Some(q34Sql)),
    "q36_histogram"        -> QueryDef(q36, Some(q36Sql)),
    "q31_approx_distinct"  -> QueryDef(q31, Some(q31Sql)),
    "q32_approx_percentile" -> QueryDef(q32, Some(q32Sql)),
    "q33_correlated_subquery" -> QueryDef(q33, Some(q33Sql)),
    "q35_window_family"    -> QueryDef(q35, Some(q35Sql)),
    "q01_pricing_summary"  -> QueryDef(q01, Some(q01Sql)),
    "q02_filter_project"   -> QueryDef(q02, Some(q02Sql)),
    "q03_star_join"        -> QueryDef(q03, Some(q03Sql)),
    "q04_topn_customers"   -> QueryDef(q04, Some(q04Sql)),
    "q05_semi_join"        -> QueryDef(q05, Some(q05Sql)),
    "q06_anti_join"        -> QueryDef(q06, Some(q06Sql)),
    "q07_window_rank"      -> QueryDef(q07, Some(q07Sql)),
    "q08_window_running"   -> QueryDef(q08, Some(q08Sql)),
    "q09_global_topk"      -> QueryDef(q09, Some(q09Sql)),
    "q10_distinct"         -> QueryDef(q10, Some(q10Sql)),
    "q11_set_ops"          -> QueryDef(q11, Some(q11Sql)),
    "q12_rollup"           -> QueryDef(q12, Some(q12Sql)),
    "q13_scalar_funcs"     -> QueryDef(q13, Some(q13Sql)),
    "q14_cond_agg"         -> QueryDef(q14, Some(q14Sql)),
    "q15_minmax"           -> QueryDef(q15, Some(q15Sql)),
    "q16_group_having"     -> QueryDef(q16, Some(q16Sql)),
    "q17_avg_subquery"     -> QueryDef(q17, Some(q17Sql)),
    "q18_big_orders"       -> QueryDef(q18, Some(q18Sql)),
    "q19_region_rollup"    -> QueryDef(q19, Some(q19Sql)),
    "q20_cube"             -> QueryDef(q20, Some(q20Sql)),
    "q21_percentile"       -> QueryDef(q21, Some(q21Sql)),
    "q22_sql_api"          -> QueryDef(q22, Some(q22Sql)),
    "q23_custom_udaf"      -> QueryDef(q23, Some(q23Sql)),
    "sk01_salted_agg"      -> QueryDef(sk01, Some(sk01Sql)),
    "sk02_salted_join"     -> QueryDef(sk02, Some(sk02Sql)),
    "q50_pipe_syntax"      -> QueryDef(q50, Some(q50Sql)),
    "q51_collation"        -> QueryDef(q51, Some(q51Sql)),
    "q52_percentile_family" -> QueryDef(q52, Some(q52Sql)),
    "q53_ignore_nulls"     -> QueryDef(q53, Some(q53Sql)),
    "q54_parameterized_sql" -> QueryDef(q54, Some(q54Sql)),
    "q55_sql_scripting"    -> QueryDef(q55, Some(q55Sql)),
    "q25_bucketed_join"    -> QueryDef(q25, Some(q25Sql)),
    "q26_outer_join"       -> QueryDef(q26, Some(q26Sql)),
    "q27_pivot"            -> QueryDef(q27, Some(q27Sql)),
    "q28_range_frame"      -> QueryDef(q28, Some(q28Sql)),
    "q29_grouping_sets"    -> QueryDef(q29, Some(q29Sql)),
    "q30_typed_api"        -> QueryDef(q30, Some(q30Sql)),
  )
}
