package graft.queries

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator pack — filters, projections, joins,
  * aggregations, set ops, sorts — covering SURVEY.md §2.3–§2.6 re-expressed
  * over the TPC-H-ish testdata. Each query has a DuckDB oracle twin in
  * [[Relational.oracle]]; column aliases match exactly (driver hash-compares
  * after sorting columns by name).
  *
  * Scale notes (100 TB): every aggregation here is a hash partial/final
  * pair (map-side combine for free), joins against the small dimension
  * tables are explicitly `broadcast(...)`, and big fact-fact joins shuffle
  * on their equi-keys — the exact plan shape we want on a real cluster.
  */
object Relational extends graft.QueryPack {
  import Num._

  /** A1/A9 analog (windowed sums reduced to grouped sums — ref
    * DwsTrafficVcChArIsNewPageViewWindow.java:126-180): grouped exact
    * sums + averages over lineitem. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** P2 analog (envelope filter + projection — ref DwdTradeOrderDetail
    * .java:32-51): predicate + column pruning, both pushed to the scan. */
  def filterProject(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("value") > 50)
      .select(col("event_id"), col("user_id"), col("value"))

  /** P3 analog (`if(type='insert', sku_num, sku_num-old)` — ref
    * DwdTradeCartAdd.java:43): conditional expression inside an agg. */
  def conditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .agg(dsum(when(col("l_returnflag") === "R", -col("l_quantity"))
        .otherwise(col("l_quantity"))).as("net_qty"))

  /** J1 analog (order_detail ⋈ order_info on order_id — ref
    * DwdTradeOrderDetail.java:183-184): fact-fact equi-join; both sides
    * shuffle on the join key, AQE picks the final strategy. */
  def joinInner(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("line_count"))

  /** J3/J6 analog (snowflake dim chain, 6-deep async join in the ref —
    * DwsTradeTrademarkCategoryUserSpuOrderWindow.java:88-199): one
    * multi-way BROADCAST hash join; no shuffle for any dim. */
  def joinSnowflake(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        revenueSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("line_count"))
      .select("region_name", "nation_name", "revenue", "line_count")

  /** J2/J5 analog (streaming left outer join — ref DwdTradeOrderDetail
    * .java:185-188): left join + null-padding handling via coalesce. */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val returned = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("ret_qty"))
    Tables.orders(s, d)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("order_count"),
        count(col("l_orderkey")).as("orders_with_returns"),
        dsum(coalesce(col("ret_qty"), lit(0.0))).as("total_ret_qty"))
  }

  /** J10 analog (FULL OUTER of two aggregates — ref
    * CommodityStatsMapper.java:27-35): per-nation customer stats ⟗
    * per-nation supplier stats. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("customer_count"), dsum(col("c_acctbal")).as("cust_acctbal"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("supplier_count"), dsum(col("s_acctbal")).as("supp_acctbal"))
    cust.join(supp, Seq("nation_name"), "full_outer")
      .select(col("nation_name"),
        coalesce(col("customer_count"), lit(0L)).as("customer_count"),
        col("cust_acctbal"),
        coalesce(col("supplier_count"), lit(0L)).as("supplier_count"),
        col("supp_acctbal"))
  }

  /** O2 analog (UNION ALL of heterogeneous KPI rows — ref
    * TradeStatsMapper.java:18-36). */
  def unionKpi(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d).agg(lit("total_order_amount").as("metric"),
      dsum(col("o_totalprice")).as("value"))
    val b = Tables.lineitem(s, d).agg(lit("total_line_quantity").as("metric"),
      dsum(col("l_quantity")).as("value"))
    val c = Tables.customer(s, d).agg(lit("total_customer_acctbal").as("metric"),
      dsum(col("c_acctbal")).as("value"))
    a.unionByName(b).unionByName(c)
  }

  /** O1 analog (ORDER BY metric DESC on aggregated serving results — ref
    * TrafficChannelStatsMapper.java:16). Deterministic tiebreak on the
    * group key keeps row order stable across engines. */
  def topEventTypes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("event_count"), dsum(col("value"), 6).as("total_value"))
      .orderBy(col("event_count").desc, col("event_type"))

  /** A4 analog (exact distinct via Set buffer — ref
    * DwsTradeProvinceOrderWindow.java:56-112): exact + grouped distinct
    * counts. At 100 TB swap countDistinct → approx_count_distinct or a
    * sketch; exactness here mirrors the reference's Set semantics. */
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("distinct_orders"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        count(lit(1)).as("line_count"))

  /** A9 analog (ratio-of-sums, weighted case-sum — ref
    * TrafficChannelStatsMapper.java:27-48, TrafficKeywordsMapper.java:10-20). */
  def ratioWeighted(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        (dsum(col("value"), 6) / count(lit(1))).as("value_per_event"),
        dsum(when(col("user_id") % 2 === 0, col("value")).otherwise(lit(0.0)), 6)
          .as("even_user_value"),
        sum(when(col("value") > 50, lit(10L))
          .when(col("value") > 20, lit(3L)).otherwise(lit(1L))).as("weighted_score"))

  /** §2.7 scalar-function pack (date_format / concat / substring / round /
    * cast / case — ref DateFormatUtil.java, TrafficVisitorStatsMapper.java). */
  def scalarFunctions(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        round(col("o_totalprice"), 0).as("price_rounded"),
        floor(col("o_totalprice")).as("price_int"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> pricingSummary,
    "q02_filter_project" -> filterProject,
    "q03_conditional_agg" -> conditionalAgg,
    "q04_join_inner" -> joinInner,
    "q05_join_snowflake" -> joinSnowflake,
    "q06_join_left" -> joinLeft,
    "q07_join_full_outer" -> joinFullOuter,
    "q08_union_kpi" -> unionKpi,
    "q09_top_event_types" -> topEventTypes,
    "q10_distinct_counts" -> distinctCounts,
    "q11_ratio_weighted" -> ratioWeighted,
    "q12_scalar_functions" -> scalarFunctions)

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 50""".stripMargin,
    "q03_conditional_agg" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS net_qty
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q04_join_inner" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_join_snowflake" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS line_count
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q06_join_left" ->
      """WITH returned AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ret_qty
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey)
        |SELECT o_orderstatus,
        |  COUNT(*) AS order_count,
        |  COUNT(l_orderkey) AS orders_with_returns,
        |  CAST(SUM(CAST(COALESCE(ret_qty, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS total_ret_qty
        |FROM orders LEFT JOIN returned ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q07_join_full_outer" ->
      """WITH cust AS (
        |  SELECT n_name AS nation_name, COUNT(*) AS customer_count,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_acctbal
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name),
        |supp AS (
        |  SELECT n_name AS nation_name, COUNT(*) AS supplier_count,
        |    CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS supp_acctbal
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name)
        |SELECT COALESCE(cust.nation_name, supp.nation_name) AS nation_name,
        |  COALESCE(customer_count, 0) AS customer_count, cust_acctbal,
        |  COALESCE(supplier_count, 0) AS supplier_count, supp_acctbal
        |FROM cust FULL OUTER JOIN supp ON cust.nation_name = supp.nation_name""".stripMargin,
    "q08_union_kpi" ->
      """SELECT 'total_order_amount' AS metric,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders
        |UNION ALL
        |SELECT 'total_line_quantity' AS metric,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value FROM lineitem
        |UNION ALL
        |SELECT 'total_customer_acctbal' AS metric,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS value FROM customer""".stripMargin,
    "q09_top_event_types" ->
      """SELECT event_type, COUNT(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_count DESC, event_type""".stripMargin,
    "q10_distinct_counts" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS distinct_orders,
        |  COUNT(DISTINCT l_partkey) AS distinct_parts,
        |  COUNT(*) AS line_count
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q11_ratio_weighted" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS value_per_event,
        |  CAST(SUM(CAST(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END
        |      AS DECIMAL(18,6))) AS DOUBLE) AS even_user_value,
        |  CAST(SUM(CASE WHEN value > 50 THEN 10 WHEN value > 20 THEN 3 ELSE 1 END)
        |      AS BIGINT) AS weighted_score
        |FROM events GROUP BY event_type""".stripMargin,
    "q12_scalar_functions" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  o_orderstatus || '-' || o_orderpriority AS status_prio,
        |  substr(o_orderpriority, 1, 1) AS prio_code,
        |  round(o_totalprice, 0) AS price_rounded,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        |  CASE WHEN o_totalprice > 200000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS price_band
        |FROM orders""".stripMargin)
}
