package graft.serving

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked serving layer (SURVEY.md §2.10): every ServingQueries
  * function run end-to-end against deterministic `dws_*` frames DERIVED
  * from the driver testdata, with a DuckDB twin that replicates both the
  * dws derivation (as CTEs) and the publisher SQL — converting the
  * serving layer from spec-only coverage into hard correctness signal.
  *
  * The dws fixtures mirror the shape the streaming DWS jobs write
  * (hour-grain window start `stt`, per-dimension keys, additive
  * metrics); dimensions the testdata lacks (channel, is_new, trademark,
  * province, keyword source) are derived with engine-portable integer
  * arithmetic on existing keys, so both engines build bit-identical
  * frames. All metric columns are integer-valued (floor of amounts =
  * whole currency units, counts, distincts), which keeps every serving
  * re-aggregation exact at any parallelism — the same reasoning as
  * Num.dsum, without decimal/double coercion traps.
  *
  * Dates: events span 2024-01; orders 1995–2001; lineitem ships
  * 1995–2001. One dense date per source keeps each endpoint's
  * single-`date` bind (DateUtil.java:7-12 semantics) meaningful.
  */
object ServingPack extends graft.QueryPack {

  private val EvDate = 20240115 // 317 events / 129 users at sf0.01
  private val OrdDate = 19950120 // populated at sf0.001/0.01/0.1 (2/10/80)
  private val LiDate = 19950809 // 41 lineitems (19 returns) at sf0.01

  // ---- dws fixture frames (Spark side) ----

  /** dws_traffic_channel_page_view analog: hour windows × (ch, is_new). */
  private def trafficChannelDws(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(
        date_trunc("hour", col("ts")).as("stt"),
        concat(lit("ch_"), col("user_id") % 5).as("ch"),
        (col("user_id") % 2).cast("string").as("is_new"))
      .agg(count(lit(1)).as("pv_ct"),
        countDistinct(col("user_id")).as("uv_ct"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("sv_ct"),
        sum(col("user_id") % 60).as("dur_sum"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("uj_ct"))

  /** dws_trade_order analog: day windows × order priority. */
  private def tradeOrderDws(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).groupBy(
        col("o_orderdate").as("stt"), col("o_orderpriority"))
      .agg(sum(floor(col("o_totalprice"))).as("order_origin_total_amount"),
        sum(col("o_orderkey") % 50).as("order_activity_reduce_amount"),
        sum(col("o_orderkey") % 30).as("order_coupon_reduce_amount"),
        countDistinct(col("o_custkey")).as("order_unique_user_count"),
        count(lit(1)).as("order_count"))

  /** dws_trade_province_order analog (nation plays province). */
  private def provinceDws(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_orderdate").as("stt"),
        col("c_nationkey").cast("long").as("province_id"),
        col("n_name").as("province_name"))
      .agg(count(lit(1)).as("order_count"),
        sum(floor(col("o_totalprice"))).as("order_amount"))

  /** dws_trade_trademark order/refund analogs (p_brand plays trademark;
    * returnflag R = the refund stream). */
  private def tmBase(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(date_trunc("hour", col("l_shipdate")).as("stt"),
        col("p_brand").as("tm_id"),
        concat(lit("TM_"), col("p_brand")).as("tm_name"),
        col("l_returnflag"), floor(col("l_extendedprice")).as("amt"))

  private def tmOrderDws(s: SparkSession, d: String): DataFrame =
    tmBase(s, d).filter(col("l_returnflag") =!= "R")
      .groupBy("stt", "tm_id", "tm_name")
      .agg(sum(col("amt")).as("order_amount"), count(lit(1)).as("order_count"))

  private def tmRefundDws(s: SparkSession, d: String): DataFrame =
    tmBase(s, d).filter(col("l_returnflag") === "R")
      .groupBy("stt", "tm_id", "tm_name")
      .agg(sum(col("amt")).as("refund_amount"), count(lit(1)).as("refund_count"))

  /** dws_traffic_keyword analog (event_type plays keyword). */
  private def keywordDws(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(
        date_trunc("hour", col("ts")).as("stt"),
        col("event_type").as("keyword"),
        when(col("user_id") % 3 === 0, "SEARCH").otherwise("OTHER").as("source"))
      .agg(count(lit(1)).as("keyword_count"))

  /** dws_user_login analog over click events. */
  private def loginDws(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("stt"))
      .agg(countDistinct(col("user_id")).as("uu_ct"),
        sum(when(col("user_id") % 7 === 0, 1L).otherwise(0L)).as("back_ct"))

  /** dws_user_register analog over signup events. */
  private def registerDws(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === "signup")
      .groupBy(date_trunc("hour", col("ts")).as("stt"))
      .agg(count(lit(1)).as("register_ct"))

  /** dws_traffic_page_view analog (view/click play home/good_detail). */
  private def pageViewDws(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("stt"))
      .agg(
        countDistinct(when(col("event_type") === "view", col("user_id")))
          .as("home_uv_ct"),
        countDistinct(when(col("event_type") === "click", col("user_id")))
          .as("good_detail_uv_ct"))

  /** dws_trade_payment analog: fulfilled orders play payment successes. */
  private def paymentDws(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderdate").as("stt"))
      .agg(countDistinct(col("o_custkey")).as("payment_suc_unique_user_count"))

  // ---- q-entries: each runs the REAL ServingQueries function ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q68_serve_trade_stats" -> ((s, d) =>
      ServingQueries.tradeStats(tradeOrderDws(s, d), OrdDate)),
    "q69_serve_province_order" -> ((s, d) =>
      ServingQueries.provinceOrder(provinceDws(s, d), OrdDate)),
    "q70_serve_traffic_channel" -> ((s, d) =>
      ServingQueries.trafficChannelStats(trafficChannelDws(s, d), EvDate)),
    "q71_serve_keywords" -> ((s, d) =>
      ServingQueries.keywords(keywordDws(s, d), EvDate)),
    "q72_serve_visitor_type" -> ((s, d) =>
      ServingQueries.visitorPerType(trafficChannelDws(s, d), EvDate)),
    "q73_serve_visitor_hr" -> ((s, d) =>
      ServingQueries.visitorPerHr(trafficChannelDws(s, d), EvDate)),
    "q74_serve_commodity_tm" -> ((s, d) =>
      ServingQueries.commodityTrademarkStats(tmOrderDws(s, d), tmRefundDws(s, d), LiDate)),
    "q75_serve_activity_stats" -> ((s, d) =>
      ServingQueries.activityStats(tradeOrderDws(s, d), OrdDate)),
    "q76_serve_user_change" -> ((s, d) =>
      ServingQueries.userChange(loginDws(s, d), registerDws(s, d), EvDate)),
    "q77_serve_coupon_stats" -> ((s, d) =>
      ServingQueries.couponStats(tradeOrderDws(s, d), OrdDate)),
    "q78_serve_uv_per_page" -> ((s, d) =>
      ServingQueries.uvPerPage(pageViewDws(s, d), EvDate)),
    "q79_serve_user_trade" -> ((s, d) =>
      ServingQueries.userTradeCt(tradeOrderDws(s, d), paymentDws(s, d), OrdDate)),
    "q80_serve_sugar_gmv" -> ((s, d) =>
      ServingQueries.sugarGmv(tradeOrderDws(s, d), OrdDate)),
    "q81_serve_sugar_channel" -> ((s, d) =>
      ServingQueries.sugarChannelUv(trafficChannelDws(s, d), EvDate)))

  // ---- DuckDB oracle twins ----

  private val evCte =
    """SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id,
      |  event_type, value FROM events""".stripMargin

  private val chDwsCte =
    s"""ev AS ($evCte),
       |chdws AS (
       |  SELECT date_trunc('hour', ts) AS stt,
       |    'ch_' || CAST(user_id % 5 AS VARCHAR) AS ch,
       |    CAST(user_id % 2 AS VARCHAR) AS is_new,
       |    COUNT(*) AS pv_ct,
       |    COUNT(DISTINCT user_id) AS uv_ct,
       |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS sv_ct,
       |    CAST(SUM(user_id % 60) AS BIGINT) AS dur_sum,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct
       |  FROM ev GROUP BY 1, 2, 3)""".stripMargin

  private val tradeDwsCte =
    """tdws AS (
      |  SELECT o_orderdate AS stt, o_orderpriority,
      |    CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS order_origin_total_amount,
      |    CAST(SUM(o_orderkey % 50) AS BIGINT) AS order_activity_reduce_amount,
      |    CAST(SUM(o_orderkey % 30) AS BIGINT) AS order_coupon_reduce_amount,
      |    COUNT(DISTINCT o_custkey) AS order_unique_user_count,
      |    COUNT(*) AS order_count
      |  FROM orders GROUP BY 1, 2)""".stripMargin

  private def onDate(col: String, date: Int): String =
    s"CAST(strftime($col, '%Y%m%d') AS INT) = $date"

  val oracle: Map[String, String] = Map(
    "q68_serve_trade_stats" ->
      s"""WITH $tradeDwsCte,
         |f AS (SELECT * FROM tdws WHERE ${onDate("stt", OrdDate)})
         |SELECT 'order_amount' AS type,
         |  COALESCE(CAST(SUM(order_origin_total_amount) AS DOUBLE), 0.0) AS value FROM f
         |UNION ALL SELECT 'activity_amount',
         |  COALESCE(CAST(SUM(order_activity_reduce_amount) AS DOUBLE), 0.0) FROM f
         |UNION ALL SELECT 'coupon_amount',
         |  COALESCE(CAST(SUM(order_coupon_reduce_amount) AS DOUBLE), 0.0) FROM f
         |UNION ALL SELECT 'order_uu_count',
         |  COALESCE(CAST(SUM(order_unique_user_count) AS DOUBLE), 0.0) FROM f""".stripMargin,
    "q69_serve_province_order" ->
      s"""WITH pdws AS (
         |  SELECT o_orderdate AS stt,
         |    CAST(c_nationkey AS BIGINT) AS province_id, n_name AS province_name,
         |    COUNT(*) AS order_count,
         |    CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS order_amount
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2, 3)
         |SELECT province_id, province_name,
         |  CAST(SUM(order_count) AS BIGINT) AS order_count,
         |  CAST(SUM(order_amount) AS BIGINT) AS order_amount
         |FROM pdws WHERE ${onDate("stt", OrdDate)}
         |GROUP BY 1, 2""".stripMargin,
    "q70_serve_traffic_channel" ->
      s"""WITH $chDwsCte
         |SELECT ch,
         |  CAST(SUM(uv_ct) AS BIGINT) AS uv_ct,
         |  CAST(SUM(sv_ct) AS BIGINT) AS sv_ct,
         |  CASE WHEN SUM(sv_ct) > 0
         |    THEN CAST(SUM(pv_ct) AS DOUBLE) / SUM(sv_ct) END
         |    AS pv_per_session,
         |  CASE WHEN SUM(sv_ct) > 0
         |    THEN CAST(SUM(dur_sum) AS DOUBLE) / SUM(sv_ct) END
         |    AS dur_per_session,
         |  CASE WHEN SUM(sv_ct) > 0
         |    THEN CAST(SUM(uj_ct) AS DOUBLE) / SUM(sv_ct) END
         |    AS uj_rate
         |FROM chdws WHERE ${onDate("stt", EvDate)}
         |GROUP BY ch""".stripMargin,
    "q71_serve_keywords" ->
      s"""WITH ev AS ($evCte),
         |kdws AS (
         |  SELECT date_trunc('hour', ts) AS stt, event_type AS keyword,
         |    CASE WHEN user_id % 3 = 0 THEN 'SEARCH' ELSE 'OTHER' END AS source,
         |    COUNT(*) AS keyword_count
         |  FROM ev GROUP BY 1, 2, 3)
         |SELECT keyword,
         |  CAST(SUM(keyword_count *
         |    CASE WHEN source = 'SEARCH' THEN 10 ELSE 1 END) AS BIGINT) AS score
         |FROM kdws WHERE ${onDate("stt", EvDate)}
         |GROUP BY keyword""".stripMargin,
    "q72_serve_visitor_type" ->
      s"""WITH $chDwsCte
         |SELECT
         |  CAST(SUM(CASE WHEN is_new = '1' THEN uv_ct ELSE 0 END) AS BIGINT) AS new_uv,
         |  CAST(SUM(CASE WHEN is_new <> '1' THEN uv_ct ELSE 0 END) AS BIGINT) AS old_uv,
         |  CAST(SUM(CASE WHEN is_new = '1' THEN sv_ct ELSE 0 END) AS BIGINT) AS new_sv,
         |  CAST(SUM(CASE WHEN is_new <> '1' THEN sv_ct ELSE 0 END) AS BIGINT) AS old_sv
         |FROM chdws WHERE ${onDate("stt", EvDate)}""".stripMargin,
    "q73_serve_visitor_hr" ->
      s"""WITH $chDwsCte
         |SELECT CAST(hour(stt) AS BIGINT) AS hr,
         |  CAST(SUM(uv_ct) AS BIGINT) AS uv_ct,
         |  CAST(SUM(pv_ct) AS BIGINT) AS pv_ct,
         |  CAST(SUM(sv_ct) AS BIGINT) AS sv_ct
         |FROM chdws WHERE ${onDate("stt", EvDate)}
         |GROUP BY 1""".stripMargin,
    "q74_serve_commodity_tm" ->
      s"""WITH tm AS (
         |  SELECT date_trunc('hour', l_shipdate) AS stt, p_brand AS tm_id,
         |    'TM_' || p_brand AS tm_name, l_returnflag,
         |    CAST(floor(l_extendedprice) AS BIGINT) AS amt
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |o AS (
         |  SELECT tm_id, tm_name, CAST(SUM(amt) AS BIGINT) AS order_amount,
         |    COUNT(*) AS order_count
         |  FROM tm WHERE l_returnflag <> 'R' AND ${onDate("stt", LiDate)}
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT tm_id, tm_name, CAST(SUM(amt) AS BIGINT) AS refund_amount,
         |    COUNT(*) AS refund_count
         |  FROM tm WHERE l_returnflag = 'R' AND ${onDate("stt", LiDate)}
         |  GROUP BY 1, 2)
         |SELECT COALESCE(o.tm_id, r.tm_id) AS tm_id,
         |  COALESCE(o.tm_name, r.tm_name) AS tm_name,
         |  order_amount, order_count, refund_amount, refund_count
         |FROM o FULL OUTER JOIN r
         |  ON o.tm_id = r.tm_id AND o.tm_name = r.tm_name""".stripMargin,
    "q75_serve_activity_stats" ->
      s"""WITH $tradeDwsCte
         |SELECT CAST(strftime(stt, '%Y%m%d') AS INT) AS dt,
         |  CAST(SUM(order_activity_reduce_amount) AS DOUBLE) /
         |    SUM(order_origin_total_amount) AS subsidy_rate
         |FROM tdws WHERE ${onDate("stt", OrdDate)}
         |GROUP BY 1""".stripMargin,
    "q76_serve_user_change" ->
      s"""WITH ev AS ($evCte),
         |ldws AS (
         |  SELECT date_trunc('hour', ts) AS stt,
         |    COUNT(DISTINCT user_id) AS uu_ct,
         |    CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS back_ct
         |  FROM ev WHERE event_type = 'click' GROUP BY 1),
         |rdws AS (
         |  SELECT date_trunc('hour', ts) AS stt, COUNT(*) AS register_ct
         |  FROM ev WHERE event_type = 'signup' GROUP BY 1)
         |SELECT 'back' AS type,
         |  COALESCE(CAST(SUM(back_ct) AS BIGINT), 0) AS value
         |  FROM ldws WHERE ${onDate("stt", EvDate)}
         |UNION ALL SELECT 'active', COALESCE(CAST(SUM(uu_ct) AS BIGINT), 0)
         |  FROM ldws WHERE ${onDate("stt", EvDate)}
         |UNION ALL SELECT 'register', COALESCE(CAST(SUM(register_ct) AS BIGINT), 0)
         |  FROM rdws WHERE ${onDate("stt", EvDate)}""".stripMargin,
    "q77_serve_coupon_stats" ->
      s"""WITH $tradeDwsCte
         |SELECT CAST(SUM(order_coupon_reduce_amount) AS BIGINT) AS coupon_reduce_amount,
         |  CAST(SUM(order_coupon_reduce_amount) AS DOUBLE) /
         |    SUM(order_origin_total_amount) AS coupon_subsidy_rate
         |FROM tdws WHERE ${onDate("stt", OrdDate)}""".stripMargin,
    "q78_serve_uv_per_page" ->
      s"""WITH ev AS ($evCte),
         |pvdws AS (
         |  SELECT date_trunc('hour', ts) AS stt,
         |    COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS home_uv_ct,
         |    COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS good_detail_uv_ct
         |  FROM ev GROUP BY 1),
         |f AS (SELECT * FROM pvdws WHERE ${onDate("stt", EvDate)})
         |SELECT 'home' AS page,
         |  COALESCE(CAST(SUM(home_uv_ct) AS BIGINT), 0) AS uv_ct FROM f
         |UNION ALL SELECT 'good_detail',
         |  COALESCE(CAST(SUM(good_detail_uv_ct) AS BIGINT), 0) FROM f""".stripMargin,
    "q79_serve_user_trade" ->
      s"""WITH $tradeDwsCte,
         |pay AS (
         |  SELECT o_orderdate AS stt,
         |    COUNT(DISTINCT o_custkey) AS payment_suc_unique_user_count
         |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         |SELECT 'order' AS type,
         |  COALESCE(CAST(SUM(order_unique_user_count) AS BIGINT), 0) AS value
         |  FROM tdws WHERE ${onDate("stt", OrdDate)}
         |UNION ALL SELECT 'payment',
         |  COALESCE(CAST(SUM(payment_suc_unique_user_count) AS BIGINT), 0)
         |  FROM pay WHERE ${onDate("stt", OrdDate)}""".stripMargin,
    "q80_serve_sugar_gmv" ->
      s"""WITH $tradeDwsCte
         |SELECT COALESCE(CAST(SUM(order_origin_total_amount) AS DOUBLE), 0.0) AS gmv
         |FROM tdws WHERE ${onDate("stt", OrdDate)}""".stripMargin,
    "q81_serve_sugar_channel" ->
      s"""WITH $chDwsCte
         |SELECT ch, CAST(SUM(uv_ct) AS BIGINT) AS uv_ct
         |FROM chdws WHERE ${onDate("stt", EvDate)}
         |GROUP BY ch ORDER BY uv_ct DESC LIMIT 10""".stripMargin)
}
