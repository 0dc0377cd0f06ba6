package graft.dwd

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked DWD layer: the Maxwell-envelope transforms
  * (filter/projection P2–P6, joins J1–J5) run end-to-end through the
  * REAL DwdDb functions against synthetic envelopes derived
  * deterministically from the testdata tables, with DuckDB twins that
  * compute the equivalent result directly from the base tables —
  * converting the domain-pipeline layer from fixture-only specs into
  * hard correctness rows (same move as serving/ServingPack).
  *
  * Envelope derivations use only engine-portable integer arithmetic and
  * zero-padded date formatting; every amount is integer-valued to keep
  * both engines bit-identical. `region` (5 rows, keys 0–4) plays the
  * `base_dic` lookup table with codes 2401–2405.
  */
object DwdPack extends graft.QueryPack {

  private def ct(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** region as base_dic: codes 2401..2405. */
  private def baseDic(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(
      (lit(2401) + col("r_regionkey")).cast("string").as("dic_code"),
      col("r_name").as("dic_name"))

  private def envelope(table: String, typ: Column, data: Column,
      old: Column, oldStr: Column, ts: Column): Seq[Column] = Seq(
    lit("gmall").as("database"), lit(table).as("table"), typ.as("type"),
    data.as("data"), old.as("old"), oldStr.as("old_str"), ts.as("ts"))

  // ---- q83: cart_add (P2 filter + P3 delta + P4 changed-column) ----

  private def cartEnvelopes(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, d).select(envelope("cart_info",
      typ = when(k % 2 === 0, "insert").otherwise("update"),
      data = map(
        lit("id"), k.cast("string"),
        lit("user_id"), col("o_custkey").cast("string"),
        lit("sku_id"), (k % 100).cast("string"),
        lit("sku_num"), ((k % 5) + 1).cast("string"),
        lit("source_type"), lit("2401"),
        lit("source_id"), lit("src1"),
        lit("create_time"), ct(col("o_orderdate"))),
      old = when(k % 2 =!= 0, map(lit("sku_num"), (k % 7).cast("string"))),
      oldStr = lit(null).cast("string"),
      ts = (k * 1000)): _*)
  }

  def cartAddQ(s: SparkSession, d: String): DataFrame =
    DwdDb.cartAdd(cartEnvelopes(s, d))

  // ---- q84: order_detail wide row (J1 inner + J2 left×2 + J3 dic) ----

  private def orderDetailEnvelopes(s: SparkSession, d: String): DataFrame = {
    // loadWide: the envelope build materializes a 12-entry string map
    // per lineitem row (+ date formatting) — per-row CPU a single-row-
    // group scan serializes onto one task (the 2.0 s job of q84's
    // 3.2 s wall, r15); see Tables.loadWide
    val li = Tables.loadWide(s, d, "lineitem")
    val k = col("l_orderkey")
    val detailId = (k * 10 + col("l_linenumber")).cast("string")
    val detail = li.select(envelope("order_detail",
      typ = lit("insert"),
      data = map(
        lit("id"), detailId,
        lit("order_id"), k.cast("string"),
        lit("sku_id"), col("l_partkey").cast("string"),
        lit("sku_name"), concat(lit("sku_"), col("l_partkey")),
        lit("sku_num"), floor(col("l_quantity")).cast("string"),
        lit("order_price"), (col("l_partkey") % 500).cast("string"),
        lit("source_type"), (lit(2401) + col("l_partkey") % 3).cast("string"),
        lit("source_id"), lit("src1"),
        lit("create_time"), ct(col("l_shipdate")),
        lit("split_total_amount"), floor(col("l_extendedprice")).cast("string"),
        lit("split_activity_amount"), (k % 40).cast("string"),
        lit("split_coupon_amount"), (k % 20).cast("string")),
      old = lit(null).cast("map<string,string>"),
      oldStr = lit(null).cast("string"),
      ts = (k * 10 + col("l_linenumber"))): _*)
    val info = Tables.orders(s, d).select(envelope("order_info",
      typ = lit("insert"),
      data = map(
        lit("id"), col("o_orderkey").cast("string"),
        lit("user_id"), col("o_custkey").cast("string"),
        lit("province_id"), (col("o_custkey") % 30).cast("string")),
      old = lit(null).cast("map<string,string>"),
      oldStr = lit(null).cast("string"),
      ts = col("o_orderkey")): _*)
    // activity/coupon attach to line 1 / line 2 of each order. Derived
    // from `orders` (unique key) — (l_orderkey, l_linenumber) is NOT
    // unique in this synthetic lineitem, and a duplicate-keyed right side
    // would multiply rows through the left joins.
    val ok = col("o_orderkey")
    val act = Tables.orders(s, d).select(envelope(
      "order_detail_activity",
      typ = lit("insert"),
      data = map(
        lit("order_detail_id"), (ok * 10 + 1).cast("string"),
        lit("activity_id"), concat(lit("act_"), ok % 10),
        lit("activity_rule_id"), concat(lit("ar_"), ok % 5)),
      old = lit(null).cast("map<string,string>"),
      oldStr = lit(null).cast("string"),
      ts = ok): _*)
    val cou = Tables.orders(s, d).select(envelope(
      "order_detail_coupon",
      typ = lit("insert"),
      data = map(
        lit("order_detail_id"), (ok * 10 + 2).cast("string"),
        lit("coupon_id"), concat(lit("cp_"), ok % 10)),
      old = lit(null).cast("map<string,string>"),
      oldStr = lit(null).cast("string"),
      ts = ok): _*)
    detail.unionByName(info).unionByName(act).unionByName(cou)
  }

  def orderDetailQ(s: SparkSession, d: String): DataFrame =
    DwdDb.orderDetail(orderDetailEnvelopes(s, d), baseDic(s, d))
      // decimal(16,2)×decimal(16,2) scale rules differ across engines on
      // presentation; the product is integer-valued, compare as double
      .withColumn("split_original_amount",
        col("split_original_amount").cast("double"))

  // ---- q85: pay_detail_suc (P5 transition + old-presence guard) ----

  private def paymentEnvelopes(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, d).select(envelope("payment_info",
      typ = lit("update"),
      data = map(
        lit("id"), concat(lit("pay_"), k),
        lit("order_id"), k.cast("string"),
        lit("user_id"), col("o_custkey").cast("string"),
        lit("payment_type"), (lit(2401) + k % 5).cast("string"),
        lit("payment_status"),
        when(k % 3 === 0, "1602").otherwise("1601"),
        lit("callback_time"), ct(col("o_orderdate"))),
      old = when(k % 2 === 0, map(lit("payment_status"), lit("1601")))
        .otherwise(map(lit("callback_content"), lit("x"))),
      oldStr = lit(null).cast("string"),
      ts = (k * 1000)): _*)
  }

  def payDetailSucQ(s: SparkSession, d: String): DataFrame =
    DwdDb.payDetailSuc(paymentEnvelopes(s, d), baseDic(s, d))

  // ---- q86: order_refund (P6 map_keys + J4 double-alias dic + J5 left) ----

  private def refundEnvelopes(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val refund = Tables.orders(s, d).filter(k % 4 === 0).select(envelope(
      "order_refund_info",
      typ = lit("insert"),
      data = map(
        lit("id"), concat(lit("r_"), k),
        lit("user_id"), col("o_custkey").cast("string"),
        lit("order_id"), k.cast("string"),
        lit("sku_id"), (k % 100).cast("string"),
        lit("refund_type"), (lit(2401) + k % 2).cast("string"),
        lit("refund_num"), ((k % 3) + 1).cast("string"),
        lit("refund_amount"), floor(col("o_totalprice")).cast("string"),
        lit("refund_reason_type"), (lit(2401) + k % 5).cast("string"),
        lit("create_time"), ct(col("o_orderdate"))),
      old = lit(null).cast("map<string,string>"),
      oldStr = lit(null).cast("string"),
      ts = (k * 1000)): _*)
    val info = Tables.orders(s, d).filter(k % 2 === 0).select(envelope(
      "order_info",
      typ = lit("update"),
      data = map(
        lit("id"), k.cast("string"),
        lit("order_status"), when(k % 3 === 0, "1005").otherwise("1004"),
        lit("province_id"), (col("o_custkey") % 30).cast("string")),
      old = map(lit("order_status"), lit("1002")),
      oldStr = lit(null).cast("string"),
      ts = k): _*)
    refund.unionByName(info)
  }

  def orderRefundQ(s: SparkSession, d: String): DataFrame =
    DwdDb.orderRefund(refundEnvelopes(s, d), baseDic(s, d))

  // ---- q87: coupon_order (P6 changed-key-set on the RAW old string) ----

  private def couponEnvelopes(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    Tables.orders(s, d).select(envelope("coupon_use",
      typ = lit("update"),
      data = map(
        lit("id"), concat(lit("cu_"), k),
        lit("coupon_id"), concat(lit("cp_"), k % 10),
        lit("user_id"), col("o_custkey").cast("string"),
        lit("order_id"), k.cast("string"),
        lit("using_time"), ct(col("o_orderdate"))),
      old = lit(null).cast("map<string,string>"),
      oldStr = when(k % 2 === 0, """{"using_time":null}""")
        .otherwise("""{"other":"1"}"""),
      ts = (k * 1000)): _*)
  }

  def couponOrderQ(s: SparkSession, d: String): DataFrame =
    DwdDb.couponOrder(couponEnvelopes(s, d))

  // ---- q95: SCD2 dimension history (effective-dated versions) ----

  /** Slowly-changing-dimension history: the keep-latest dim snapshot
    * (DimRouter/Sinks.writeDim) answers "current value"; this answers
    * "value as of t". Versions of each dim key (orders replayed as a CDC
    * stream, ~15 versions per key via o_orderkey % 1000) are ordered by
    * binlog position and closed with lead(): [valid_from, valid_to),
    * open current version flagged. One shuffle on the dim key; at
    * 100 TB this is the standard changelog→history compaction written
    * per partition-of-key. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val versions = Tables.orders(s, d).select(
      (col("o_orderkey") % 1000).as("dim_id"),
      col("o_orderkey").as("version_ts"),
      col("o_orderstatus").as("status"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dim_id")).orderBy(col("version_ts"))
    versions
      .withColumn("valid_to", lead(col("version_ts"), 1).over(w))
      .select(col("dim_id"), col("version_ts").as("valid_from"),
        col("valid_to"), col("status"),
        col("valid_to").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_dwd_cart_add" -> cartAddQ,
    "q84_dwd_order_detail" -> orderDetailQ,
    "q85_dwd_pay_detail" -> payDetailSucQ,
    "q86_dwd_order_refund" -> orderRefundQ,
    "q87_dwd_coupon_order" -> couponOrderQ,
    "q95_scd2_history" -> scd2History)

  // ---- DuckDB twins: the same semantics straight off the base tables ----

  val oracle: Map[String, String] = Map(
    "q83_dwd_cart_add" ->
      """WITH env AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'insert' ELSE 'update' END AS typ,
        |    (o_orderkey % 5) + 1 AS new_num, o_orderkey % 7 AS old_num,
        |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ct
        |  FROM orders)
        |SELECT CAST(k AS VARCHAR) AS id, CAST(cust AS VARCHAR) AS user_id,
        |  CAST(k % 100 AS VARCHAR) AS sku_id, '2401' AS source_type,
        |  'src1' AS source_id, ct AS create_time,
        |  CAST(CASE WHEN typ = 'insert' THEN new_num
        |    ELSE new_num - old_num END AS INT) AS sku_num,
        |  CAST(k * 1000 AS BIGINT) AS ts
        |FROM env
        |WHERE typ = 'insert' OR (typ = 'update' AND new_num > old_num)""".stripMargin,
    "q84_dwd_order_detail" ->
      """SELECT
        |  CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS detail_id,
        |  CAST(l_orderkey AS VARCHAR) AS order_id,
        |  CAST(l_partkey AS VARCHAR) AS sku_id,
        |  'sku_' || CAST(l_partkey AS VARCHAR) AS sku_name,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  'src1' AS source_id,
        |  CAST(2401 + l_partkey % 3 AS VARCHAR) AS source_type,
        |  CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS sku_num,
        |  CAST(CAST(floor(l_quantity) AS BIGINT)
        |    * (l_partkey % 500) AS DOUBLE) AS split_original_amount,
        |  CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR)
        |    AS split_total_amount,
        |  CAST(l_orderkey % 40 AS VARCHAR) AS split_activity_amount,
        |  CAST(l_orderkey % 20 AS VARCHAR) AS split_coupon_amount,
        |  CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS ts,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_custkey % 30 AS VARCHAR) AS province_id,
        |  CASE WHEN l_linenumber = 1
        |    THEN 'act_' || CAST(l_orderkey % 10 AS VARCHAR) END AS activity_id,
        |  CASE WHEN l_linenumber = 1
        |    THEN 'ar_' || CAST(l_orderkey % 5 AS VARCHAR) END AS activity_rule_id,
        |  CASE WHEN l_linenumber = 2
        |    THEN 'cp_' || CAST(l_orderkey % 10 AS VARCHAR) END AS coupon_id,
        |  r_name AS source_type_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN region ON r_regionkey = l_partkey % 3""".stripMargin,
    "q85_dwd_pay_detail" ->
      """SELECT 'pay_' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(2401 + o_orderkey % 5 AS VARCHAR) AS payment_type,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS callback_time,
        |  CAST(o_orderkey * 1000 AS BIGINT) AS ts,
        |  r_name AS payment_type_name
        |FROM orders
        |LEFT JOIN region ON r_regionkey = o_orderkey % 5
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0""".stripMargin,
    "q86_dwd_order_refund" ->
      """SELECT 'r_' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  CAST(o_orderkey % 100 AS VARCHAR) AS sku_id,
        |  CAST(2401 + o_orderkey % 2 AS VARCHAR) AS refund_type,
        |  CAST((o_orderkey % 3) + 1 AS VARCHAR) AS refund_num,
        |  CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS refund_amount,
        |  CAST(2401 + o_orderkey % 5 AS VARCHAR) AS refund_reason_type,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  CAST(o_orderkey * 1000 AS BIGINT) AS ts,
        |  CASE WHEN o_orderkey % 6 = 0
        |    THEN CAST(o_custkey % 30 AS VARCHAR) END AS province_id,
        |  rt.r_name AS refund_type_name,
        |  rr.r_name AS refund_reason_type_name
        |FROM orders
        |LEFT JOIN region rt ON rt.r_regionkey = o_orderkey % 2
        |LEFT JOIN region rr ON rr.r_regionkey = o_orderkey % 5
        |WHERE o_orderkey % 4 = 0""".stripMargin,
    "q95_scd2_history" ->
      """SELECT o_orderkey % 1000 AS dim_id,
        |  o_orderkey AS valid_from,
        |  lead(o_orderkey) OVER (PARTITION BY o_orderkey % 1000
        |    ORDER BY o_orderkey) AS valid_to,
        |  o_orderstatus AS status,
        |  lead(o_orderkey) OVER (PARTITION BY o_orderkey % 1000
        |    ORDER BY o_orderkey) IS NULL AS is_current
        |FROM orders""".stripMargin,
    "q87_dwd_coupon_order" ->
      """SELECT 'cu_' || CAST(o_orderkey AS VARCHAR) AS id,
        |  'cp_' || CAST(o_orderkey % 10 AS VARCHAR) AS coupon_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS using_time,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  CAST(o_orderkey * 1000 AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
}
