package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Revenue analytics over the full star schema:
  *
  *  - q257: market share (the TPC-H Q8 shape) — for PROMO-type parts
  *    sold to ASIA customers, each supplier nation's yearly revenue
  *    share. Revenue stays integer: price cents × (100 − discount
  *    percent), both factors exact casts of raw decimals; shares in
  *    ppm by integer division. Six-table join: dims broadcast, facts
  *    co-partitioned on their join keys.
  *  - q258: rolling 7-day revenue per region via a RANGE window frame
  *    (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over the integer
  *    day) — on sparse daily series RANGE ≠ ROWS: missing days must
  *    shrink the window, which a ROWS frame gets wrong. Completes the
  *    window-frame surface next to q44 (ROWS) and q250 (ranking).
  *
  * Ref: the reference's sugar-GMV endpoints aggregate revenue by
  * province/date (gmall-publisher TradeStats*); q257 re-keys that
  * rollup to (year, supplier nation) with shares, q258 is its rolling
  * variant.
  *
  * Scale (100 TB): q257's window runs on the (year × nation) frame
  * (bounded); the fact-side joins shuffle once each on orderkey and
  * are AQE-skew-splittable. q258's window partitions by region over
  * the bounded daily frame.
  */
object RevenueOps extends graft.QueryPack {

  /** q257: yearly supplier-nation market share for PROMO parts → ASIA. */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_partkey"), col("l_suppkey"),
      (expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)") *
        (lit(100L) - expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)"))).as("rev_units"))
    val promo = Tables.part(s, d).filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val asiaCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA").select(col("c_custkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val rev = li
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("yr"), col("supp_nation"))
      .agg(sum(col("rev_units")).as("rev_units"))
    rev.withColumn("share_ppm",
        expr("(rev_units * 1000000) div " +
          "sum(rev_units) OVER (PARTITION BY yr)"))
      .orderBy(col("yr"), col("supp_nation"))
  }

  /** q258: per-region rolling 7-day revenue via a RANGE frame. */
  def rangeWindow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000").as("day"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("r_name"), col("day"))
      .agg(sum(col("cents")).as("rev_cents"))
    daily.withColumn("rolling7_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("r_name")).orderBy(col("day"))
          .rangeBetween(-6, 0)))
      .withColumn("days_in_window", count(lit(1)).over(
        Window.partitionBy(col("r_name")).orderBy(col("day"))
          .rangeBetween(-6, 0)))
      .orderBy(col("r_name"), col("day"))
  }

  /** q289: discount-response curve — per discount percent: order-line
    * count, exact milli mean quantity and mean revenue cents (the
    * elasticity proxy a pricing team reads; the regression slope on
    * top is q180's device if wanted). One aggregate; the discount
    * domain is 11 values. */
  def discountResponse(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
        expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("disc_pct"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)").as("cents"))
      .groupBy(col("disc_pct"))
      .agg(count(lit(1)).as("n"),
        expr("(sum(qty) * 1000) div count(1)").as("mean_qty_milli"),
        expr("sum(cents) div count(1)").as("mean_rev_cents"))
      .orderBy(col("disc_pct"))

  /** q299: year-over-year growth decomposition — the revenue delta
    * split into a VOLUME effect (order-count change at last year's
    * average ticket, integer div) and a PRICE effect defined as the
    * exact remainder, so Δrev = volume + price holds EXACTLY by
    * construction (the budget-conservation discipline of q210/q215:
    * make the identity structural, not approximate). */
  def growthDecomposition(s: SparkSession, d: String): DataFrame = {
    val yearly = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)")).as("rev_cents"))
    val w = Window.orderBy(col("yr"))
    yearly
      .withColumn("prev_n", lag(col("n_orders"), 1).over(w))
      .withColumn("prev_rev", lag(col("rev_cents"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .withColumn("delta_rev", col("rev_cents") - col("prev_rev"))
      .withColumn("volume_effect",
        expr("((n_orders - prev_n) * prev_rev) div prev_n"))
      .withColumn("price_effect",
        col("delta_rev") - col("volume_effect"))
      .select(col("yr"), col("n_orders"), col("rev_cents"),
        col("delta_rev"), col("volume_effect"), col("price_effect"))
      .orderBy(col("yr"))
  }

  /** q300: the executive dashboard in ONE pass — per (region, year):
    * revenue, orders, active customers, integer average ticket, the
    * share of the region's year revenue within that year (ppm), and
    * YoY revenue growth in ppm — every device verified separately
    * this round (decimal cents, window shares, lag growth), composed
    * into the single rollup a BI layer would actually serve. */
  def execDashboard(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_customers"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)")).as("rev_cents"))
    base
      .withColumn("aov_cents", expr("rev_cents div n_orders"))
      .withColumn("year_share_ppm", expr(
        "(rev_cents * 1000000) div sum(rev_cents)" +
          " OVER (PARTITION BY yr)"))
      .withColumn("prev_rev", lag(col("rev_cents"), 1).over(
        Window.partitionBy(col("r_name")).orderBy(col("yr"))))
      .withColumn("yoy_growth_ppm",
        when(col("prev_rev").isNull, lit(null).cast("long"))
          .otherwise(expr(
            "((rev_cents - prev_rev) * 1000000) div prev_rev")))
      .select(col("r_name"), col("yr"), col("n_orders"),
        col("n_customers"), col("rev_cents"), col("aov_cents"),
        col("year_share_ppm"), col("yoy_growth_ppm"))
      .orderBy(col("r_name"), col("yr"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_market_share" -> marketShare,
    "q258_range_window" -> rangeWindow,
    "q289_discount_response" -> discountResponse,
    "q299_growth_decomposition" -> growthDecomposition,
    "q300_exec_dashboard" -> execDashboard)

  val oracle: Map[String, String] = Map(
    "q299_growth_decomposition" ->
      """WITH yearly AS (
        |  SELECT year(o_orderdate) AS yr, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT yr, n_orders, rev_cents,
        |    LAG(n_orders) OVER (ORDER BY yr) AS prev_n,
        |    LAG(rev_cents) OVER (ORDER BY yr) AS prev_rev
        |  FROM yearly)
        |SELECT yr, n_orders, rev_cents,
        |  rev_cents - prev_rev AS delta_rev,
        |  CAST(((n_orders - prev_n) * prev_rev) // prev_n AS BIGINT)
        |    AS volume_effect,
        |  rev_cents - prev_rev
        |    - CAST(((n_orders - prev_n) * prev_rev) // prev_n AS BIGINT)
        |    AS price_effect
        |FROM l WHERE prev_n IS NOT NULL
        |ORDER BY yr""".stripMargin,
    "q300_exec_dashboard" ->
      """WITH base AS (
        |  SELECT r_name, year(o_orderdate) AS yr,
        |    COUNT(*) AS n_orders,
        |    COUNT(DISTINCT o_custkey) AS n_customers,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |x AS (
        |  SELECT r_name, yr, n_orders, n_customers, rev_cents,
        |    CAST(rev_cents // n_orders AS BIGINT) AS aov_cents,
        |    CAST((rev_cents * 1000000) // CAST(SUM(rev_cents)
        |      OVER (PARTITION BY yr) AS BIGINT) AS BIGINT)
        |      AS year_share_ppm,
        |    LAG(rev_cents) OVER (PARTITION BY r_name ORDER BY yr)
        |      AS prev_rev
        |  FROM base)
        |SELECT r_name, yr, n_orders, n_customers, rev_cents, aov_cents,
        |  year_share_ppm,
        |  CAST(CASE WHEN prev_rev IS NULL THEN NULL
        |    ELSE ((rev_cents - prev_rev) * 1000000) // prev_rev END
        |    AS BIGINT) AS yoy_growth_ppm
        |FROM x ORDER BY r_name, yr""".stripMargin,
    "q289_discount_response" ->
      """SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS disc_pct,
        |  COUNT(*) AS n,
        |  CAST((SUM(CAST(l_quantity AS BIGINT)) * 1000) // COUNT(*)
        |    AS BIGINT) AS mean_qty_milli,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT)) // COUNT(*) AS BIGINT) AS mean_rev_cents
        |FROM lineitem
        |GROUP BY 1 ORDER BY disc_pct""".stripMargin,
    "q257_market_share" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
        |        AS BIGINT)) AS rev_units
        |  FROM lineitem),
        |promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        |ac AS (
        |  SELECT c_custkey FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |rev AS (
        |  SELECT year(o_orderdate) AS yr, supp_nation,
        |    CAST(SUM(rev_units) AS BIGINT) AS rev_units
        |  FROM li
        |  JOIN promo ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN ac ON o_custkey = c_custkey
        |  JOIN sn ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT yr, supp_nation, rev_units,
        |  CAST((rev_units * 1000000) // CAST(SUM(rev_units)
        |    OVER (PARTITION BY yr) AS BIGINT) AS BIGINT) AS share_ppm
        |FROM rev ORDER BY yr, supp_nation""".stripMargin,
    "q258_range_window" ->
      """WITH daily AS (
        |  SELECT r_name,
        |    epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, day, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY r_name ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling7_cents,
        |  COUNT(*) OVER (PARTITION BY r_name ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS days_in_window
        |FROM daily ORDER BY r_name, day""".stripMargin)
}
