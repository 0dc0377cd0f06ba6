package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-value analytics:
  *
  *  - q247: cohort LTV curves — customers cohorted by first-order
  *    month, revenue accumulated by cohort age in exact integer cents;
  *    the cumulative column is the LTV curve a growth dashboard plots.
  *  - q248: exact weighted median unit price per nation — weighted by
  *    quantity, computed join-free on the bounded (nation, distinct
  *    price) frame with a cumulative-weight window: the lower weighted
  *    median is the smallest price whose cumulative weight reaches
  *    half the total (2·cum ≥ total avoids any division).
  *
  * Ref: the reference's trade-stats serving queries aggregate revenue
  * by date (publisher TradeStatsController); q247 is that rollup
  * re-keyed to cohort age, q248 the robust-center companion to its
  * averages.
  *
  * Scale (100 TB): q247 is two grouped aggregations (first-order month
  * is a per-customer min; the curve frame is cohorts × ages, bounded by
  * the calendar) plus a window over that bounded frame. q248's window
  * runs on the distinct-price-per-nation frame — price domains are
  * bounded, the corpus-scale table is only scanned and pre-aggregated
  * map-side. Neither sorts the fact table.
  *
  * Determinism: all sums are integer cents (decimal-cast raw columns,
  * never computed doubles); weights are integral doubles cast to long
  * (identical in both engines on integral values).
  */
object CustomerValueOps extends graft.QueryPack {

  /** q247: cohort-month × age revenue + cumulative LTV, integer cents. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("omonth"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val cohort = o.groupBy(col("o_custkey"))
      .agg(min(col("omonth")).as("cohort_month"))
    val curve = o.join(cohort, "o_custkey")
      .withColumn("age_months", col("omonth") - col("cohort_month"))
      .groupBy(col("cohort_month"), col("age_months"))
      .agg(count_distinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("rev_cents"))
    curve.withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort_month")).orderBy(col("age_months"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  /** q248: exact lower weighted median of unit price per nation. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    // NOT loadWide: an r16 A/B widened this scan (its fused decimal +
    // broadcast-probe + partial-agg stage profiles at 1.4 s / 3 tasks)
    // and measured 2.84 -> 3.05 s — the round-robin exchange costs more
    // than the extra width buys at this stage's compute density, unlike
    // q84's single-task envelope build. Kept narrow deliberately.
    val li = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)").as("cents"),
        expr("CAST(l_quantity AS BIGINT)").as("wt"))
    val freq = li.groupBy(col("n_name"), col("cents"))
      .agg(sum(col("wt")).as("w"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("cents"))
    val cum = freq.withColumn("cum_w", sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_w", sum(col("w")).over(
        Window.partitionBy(col("n_name"))))
    cum.filter(col("cum_w") * 2 >= col("total_w"))
      .groupBy(col("n_name"))
      .agg(max(col("total_w")).as("total_weight"),
        min(col("cents")).as("w_median_cents"))
      .orderBy(col("n_name"))
  }

  /** q293: Gini mean difference of order value per region — the mean
    * absolute pairwise gap Σ|xi−xj| / C(n,2), computed WITHOUT pairs:
    * on the sorted value-frequency frame each distinct value v with
    * frequency f and `below` smaller values contributes
    * v·f·(2·below + f − n) to Σ_{i<j}(x_j − x_i) (the sorted-
    * coefficient identity; tie blocks contribute identically under
    * any internal order). One window over the price-domain frame.
    * The dispersion twin of q199's Gini coefficient. */
  def giniMeanDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    val freq = o.groupBy(col("r_name"), col("cents"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("r_name")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = o.groupBy(col("r_name")).agg(count(lit(1)).as("n"))
    freq.withColumn("below", coalesce(sum(col("f")).over(w), lit(0L)))
      .join(broadcast(tot), "r_name")
      .groupBy(col("r_name"))
      .agg(max(col("n")).as("n"),
        sum(col("cents") * col("f") *
          (lit(2L) * col("below") + col("f") - col("n")))
          .as("pair_sum"))
      .select(col("r_name"), col("n"), col("pair_sum"),
        expr("(pair_sum * 2) div (n * (n - 1))").as("gmd_cents"))
      .orderBy(col("r_name"))
  }

  /** q294: Lorenz curve points — cumulative revenue share (ppm) held
    * by each revenue decile of customers, the curve behind q199's
    * Gini scalar. Customer deciles by exact position rank on the
    * per-customer revenue frame (customer-scale window). */
  def lorenzCurve(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("rev"))
    val ranked = perCust.withColumn("rn", row_number().over(
      Window.orderBy(col("rev"), col("o_custkey"))))
    val tot = perCust.agg(count(lit(1)).as("n"), sum(col("rev")).as("t"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("rev_cents"),
        max(col("t")).as("t"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_customers"), col("rev_cents"),
        // DECIMAL(38,0): cum cents reach the corpus total, and
        // total_cents*1e6 overflows BIGINT past ~9e12 cents — the q208
        // r13 lesson applied to its siblings (oracle widened to HUGEINT
        // in lockstep; all operands positive so div ≡ //)
        expr("(CAST(cum_rev_cents AS DECIMAL(38,0)) * 1000000) div t")
          .as("cum_share_ppm"))
      .orderBy(col("decile"))
  }

  /** q292: order inter-arrival census — gaps between a customer's
    * consecutive orders (lead over the per-customer sequence),
    * bucketed by week, with the cumulative share curve. The
    * repurchase-cadence histogram behind any replenishment model. */
  def interArrival(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("day"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = o.withColumn("next_day", lead(col("day"), 1).over(w))
      .filter(col("next_day").isNotNull)
      .select(expr("(next_day - day) div 7").as("gap_weeks"))
    val cells = gaps.groupBy(col("gap_weeks"))
      .agg(count(lit(1)).as("n_gaps"))
    val tot = cells.agg(sum(col("n_gaps")).as("total"))
    cells.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_gaps")).over(
        Window.orderBy(col("gap_weeks"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("gap_weeks"), col("n_gaps"),
        expr("(cum * 1000000) div total").as("cum_share_ppm"))
      .orderBy(col("gap_weeks"))
  }

  /** q311: basket-size distribution — lineitems-per-order census with
    * ppm shares and the cumulative curve. */
  def basketSizes(s: SparkSession, d: String): DataFrame = {
    val sizes = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("sz"))
    val cells = sizes.groupBy(col("sz")).agg(count(lit(1)).as("n_orders"))
    val tot = cells.agg(sum(col("n_orders")).as("total"))
    cells.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_orders")).over(
        Window.orderBy(col("sz"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("sz"), col("n_orders"),
        expr("(n_orders * 1000000) div total").as("share_ppm"),
        expr("(cum * 1000000) div total").as("cum_ppm"))
      .orderBy(col("sz"))
  }

  /** q312: customer lifetime spans — days between first and last
    * order per customer, bucketed by quarter-year, with the
    * single-order (span 0) class explicit. */
  def lifetimeSpans(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((expr("max(unix_micros(CAST(o_orderdate AS TIMESTAMP)))" +
        " div 86400000000") -
        expr("min(unix_micros(CAST(o_orderdate AS TIMESTAMP)))" +
          " div 86400000000")).as("span_days"))
    val cells = spans
      .withColumn("quarter_bucket", expr("span_days div 91"))
      .groupBy(col("quarter_bucket"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("span_days")).as("min_days"),
        max(col("span_days")).as("max_days"))
    val tot = cells.agg(sum(col("n_customers")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("quarter_bucket"), col("n_customers"),
        col("min_days"), col("max_days"),
        expr("(n_customers * 1000000) div total").as("share_ppm"))
      .orderBy(col("quarter_bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_cohort_ltv" -> cohortLtv,
    "q248_weighted_median" -> weightedMedian,
    "q292_interarrival" -> interArrival,
    "q293_gini_mean_diff" -> giniMeanDiff,
    "q294_lorenz_curve" -> lorenzCurve,
    "q311_basket_sizes" -> basketSizes,
    "q312_lifetime_spans" -> lifetimeSpans)

  val oracle: Map[String, String] = Map(
    "q311_basket_sizes" ->
      """WITH sizes AS (
        |  SELECT l_orderkey, COUNT(*) AS sz FROM lineitem
        |  GROUP BY l_orderkey),
        |cells AS (SELECT sz, COUNT(*) AS n_orders FROM sizes
        |  GROUP BY sz),
        |tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total
        |  FROM cells)
        |SELECT sz, n_orders,
        |  CAST((n_orders * 1000000) // total AS BIGINT) AS share_ppm,
        |  CAST((CAST(SUM(n_orders) OVER (ORDER BY sz
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) * 1000000) // total AS BIGINT) AS cum_ppm
        |FROM cells CROSS JOIN tot
        |ORDER BY sz""".stripMargin,
    "q312_lifetime_spans" ->
      """WITH spans AS (
        |  SELECT o_custkey,
        |    MAX(epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000)
        |    - MIN(epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000) AS span_days
        |  FROM orders GROUP BY o_custkey),
        |cells AS (
        |  SELECT span_days // 91 AS quarter_bucket,
        |    COUNT(*) AS n_customers,
        |    MIN(span_days) AS min_days, MAX(span_days) AS max_days
        |  FROM spans GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS total
        |  FROM cells)
        |SELECT quarter_bucket, n_customers, min_days, max_days,
        |  CAST((n_customers * 1000000) // total AS BIGINT)
        |    AS share_ppm
        |FROM cells CROSS JOIN tot
        |ORDER BY quarter_bucket""".stripMargin,
    "q292_interarrival" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day
        |  FROM orders),
        |gaps AS (
        |  SELECT (next_day - day) // 7 AS gap_weeks FROM (
        |    SELECT day, LEAD(day) OVER (PARTITION BY o_custkey
        |      ORDER BY day, o_orderkey) AS next_day
        |    FROM o)
        |  WHERE next_day IS NOT NULL),
        |cells AS (
        |  SELECT gap_weeks, COUNT(*) AS n_gaps FROM gaps GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS total FROM cells)
        |SELECT gap_weeks, n_gaps,
        |  CAST((CAST(SUM(n_gaps) OVER (ORDER BY gap_weeks
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) * 1000000) // total AS BIGINT) AS cum_share_ppm
        |FROM cells CROSS JOIN tot
        |ORDER BY gap_weeks""".stripMargin,
    "q293_gini_mean_diff" ->
      """WITH o AS (
        |  SELECT r_name,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |freq AS (
        |  SELECT r_name, cents, COUNT(*) AS f
        |  FROM o GROUP BY 1, 2),
        |tot AS (SELECT r_name, COUNT(*) AS n FROM o GROUP BY 1),
        |cum AS (
        |  SELECT r_name, cents, f,
        |    CAST(COALESCE(SUM(f) OVER (PARTITION BY r_name
        |      ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM freq)
        |SELECT c.r_name, MAX(n) AS n,
        |  CAST(SUM(cents * f * (2 * below + f - n)) AS BIGINT)
        |    AS pair_sum,
        |  CAST((SUM(cents * f * (2 * below + f - n)) * 2)
        |    // (MAX(n) * (MAX(n) - 1)) AS BIGINT) AS gmd_cents
        |FROM cum c JOIN tot USING (r_name)
        |GROUP BY c.r_name ORDER BY c.r_name""".stripMargin,
    "q294_lorenz_curve" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY o_custkey),
        |rk AS (
        |  SELECT rev,
        |    ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rn
        |  FROM pc),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS t
        |  FROM pc),
        |dec AS (
        |  SELECT ((rn - 1) * 10) // n + 1 AS decile, rev, t
        |  FROM rk CROSS JOIN tot),
        |agg AS (
        |  SELECT decile, COUNT(*) AS n_customers,
        |    CAST(SUM(rev) AS BIGINT) AS rev_cents, MAX(t) AS t
        |  FROM dec GROUP BY decile)
        |SELECT decile, n_customers, rev_cents,
        |  CAST((CAST(SUM(rev_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS HUGEINT) * 1000000) // t AS BIGINT) AS cum_share_ppm
        |FROM agg ORDER BY decile""".stripMargin,
    "q247_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS omonth,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |cohort AS (
        |  SELECT o_custkey, MIN(omonth) AS cohort_month
        |  FROM o GROUP BY o_custkey),
        |curve AS (
        |  SELECT cohort_month, omonth - cohort_month AS age_months,
        |    COUNT(DISTINCT o.o_custkey) AS n_active,
        |    CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN cohort ON o.o_custkey = cohort.o_custkey
        |  GROUP BY 1, 2)
        |SELECT cohort_month, age_months, n_active, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
        |    ORDER BY age_months
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_rev_cents
        |FROM curve ORDER BY cohort_month, age_months""".stripMargin,
    "q248_weighted_median" ->
      """WITH li AS (
        |  SELECT n_name,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |freq AS (
        |  SELECT n_name, cents, CAST(SUM(wt) AS BIGINT) AS w
        |  FROM li GROUP BY n_name, cents),
        |cum AS (
        |  SELECT n_name, cents, w,
        |    CAST(SUM(w) OVER (PARTITION BY n_name ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_w,
        |    CAST(SUM(w) OVER (PARTITION BY n_name) AS BIGINT) AS total_w
        |  FROM freq)
        |SELECT n_name, MAX(total_w) AS total_weight,
        |  MIN(cents) AS w_median_cents
        |FROM cum WHERE cum_w * 2 >= total_w
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
}
