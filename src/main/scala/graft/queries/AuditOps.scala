package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-governance operators a warehouse runs before trusting a corpus:
  *
  *  - q205: referential-integrity audit — orphan census for every
  *    foreign-key edge of the star schema via LEFT ANTI joins (child
  *    rows whose parent key is absent), one row per edge.
  *  - q206: quantile normalization of document length across sources —
  *    each doc's global percentile (tie-sharing RANK, in ppm) computed
  *    join-free from the bounded length-frequency frame, then averaged
  *    per source. The device that replaces a global sort: rank(v) =
  *    1 + Σ_{u<v} freq(u), a cumulative window over DISTINCT values.
  *  - q210: largest-remainder (Hamilton) apportionment of a fixed
  *    sample budget across (lang, source) strata proportional to doc
  *    counts — the exact integer allocation whose quotas sum to the
  *    budget by construction (floor quotas + the L largest remainders
  *    get +1).
  *
  * Ref: the reference's dim-layer consistency checks (DimApp validates
  * dims exist before lookups); q205 is that check as a batch audit.
  *
  * Scale (100 TB): q205 is anti-joins on the join keys (broadcast for
  * dim parents, shuffle for orders) with count-only outputs; q206's
  * window runs on the distinct-length frame (bounded domain), never the
  * corpus; q210's window runs on the strata frame (sources × langs).
  */
object AuditOps extends graft.QueryPack {

  /** q205: one row per FK edge — child rows, orphan rows, orphan keys. */
  def fkIntegrity(s: SparkSession, d: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      val c = child.select(col(key).as("k"))
      val orphans = c.join(parent.select(col(pkey).as("k")), Seq("k"),
        "left_anti")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
          count_distinct(col("k")).as("n_orphan_keys")))
        .select(lit(name).as("fk_edge"), col("n_child"),
          col("n_orphans"), col("n_orphan_keys"))
    }
    val li = Tables.lineitem(s, d)
    val os = Tables.orders(s, d)
    edge("lineitem.l_orderkey->orders", li, "l_orderkey",
        os, "o_orderkey")
      .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))
      .unionAll(edge("orders.o_custkey->customer", os, "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionAll(edge("customer.c_nationkey->nation", Tables.customer(s, d),
        "c_nationkey", Tables.nation(s, d), "n_nationkey"))
      .unionAll(edge("nation.n_regionkey->region", Tables.nation(s, d),
        "n_regionkey", Tables.region(s, d), "r_regionkey"))
      .orderBy(col("fk_edge"))
  }

  /** q206: per-source mean global length percentile (ppm), join-free
    * ranks from the length-frequency frame. */
  def quantileNormalize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    val vc = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(
        Window.orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val n = docs.agg(count(lit(1)).as("n"))
    docs.join(broadcast(vc.select(col("n_chars"), col("below"))), "n_chars")
      .crossJoin(broadcast(n))
      .withColumn("pr_ppm", expr("below * 1000000 div (n - 1)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(pr_ppm) div count(1)").as("mean_pr_ppm"),
        min(col("pr_ppm")).as("min_pr_ppm"),
        max(col("pr_ppm")).as("max_pr_ppm"))
      .orderBy(col("source"))
  }

  private val Budget = 10000L

  /** q210: Hamilton apportionment of `Budget` samples across strata. */
  def sampleAllocation(s: SparkSession, d: String): DataFrame = {
    val strata = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum(col("n_docs")).as("total"),
      count(lit(1)).as("n_strata"))
    val base = strata.crossJoin(broadcast(tot))
      .withColumn("floor_q", expr(s"$Budget * n_docs div total"))
      .withColumn("rem", expr(s"($Budget * n_docs) % total"))
    val leftover = base.agg(
      (lit(Budget) - sum(col("floor_q"))).as("leftover"))
    base.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"), col("source"))))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("floor_q") +
          when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("lang"), col("source"))
  }

  /** q214: right-to-be-forgotten cascade census — given a deterministic
    * deletion cohort (id % 100 = 0 stands in for the request list),
    * count what a GDPR erasure sweep would touch per table, following
    * the FK cascade customer → orders → lineitem plus the events
    * stream by user id. Counts only — no row materialization; the
    * same joins ARE the deletion predicate pushed to each table.
    *
    * Scale: the cohort tables are dim-scale broadcasts; the fact-side
    * scans aggregate map-side. The order-key set for the lineitem hop
    * is order-dim-scale (shuffle join, AQE-broadcastable). */
  def forgetCascade(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_custkey") % 100 === 0).select(col("c_custkey"))
    val ords = Tables.orders(s, d)
      .join(broadcast(cust.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey")
    val ordKeys = ords.select(col("o_orderkey"))
    val ev = Tables.events(s, d).filter(col("user_id") % 100 === 0)
      .agg(count_distinct(col("user_id")).as("n_entities"),
        count(lit(1)).as("n_rows"))
      .select(lit("events").as("table_name"), col("n_entities"),
        col("n_rows"))
    val cu = cust.agg(count(lit(1)).as("n_entities"),
        count(lit(1)).as("n_rows"))
      .select(lit("customer").as("table_name"), col("n_entities"),
        col("n_rows"))
    val or = ords.agg(count_distinct(col("o_custkey")).as("n_entities"),
        count(lit(1)).as("n_rows"))
      .select(lit("orders").as("table_name"), col("n_entities"),
        col("n_rows"))
    val li = Tables.lineitem(s, d)
      .join(ordKeys.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey")
      .agg(count_distinct(col("l_orderkey")).as("n_entities"),
        count(lit(1)).as("n_rows"))
      .select(lit("lineitem").as("table_name"), col("n_entities"),
        col("n_rows"))
    ev.unionAll(cu).unionAll(or).unionAll(li).orderBy(col("table_name"))
  }

  /** q237: recurring similar-amount purchase census — the AP screening
    * audit (duplicate/subscription detection): same customer, same
    * $1000 amount bucket, order dates within 365 days, distinct
    * orders. (Exact-amount-within-7-days was verified VACUOUS on the
    * continuous synthetic totals — an audit whose oracle can only ever
    * hash an empty set proves nothing, so the parameters are set where
    * the data has signal.) The self-join co-partitions on (customer,
    * bucket) — the equality predicate IS the blocking key. */
  def dupInvoices(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("ok"),
      col("o_custkey").as("ck"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("day"))
    val ob = o.withColumn("bucket", expr("cents div 100000"))
    ob.as("a").join(ob.as("b"),
        col("a.ck") === col("b.ck") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.ok") < col("b.ok") &&
          abs(col("a.day") - col("b.day")) <= 365)
      .select(col("a.ck").as("custkey"), col("a.bucket").as("bucket"),
        col("a.ok").as("order_a"), col("b.ok").as("order_b"),
        abs(col("a.day") - col("b.day")).as("days_apart"))
      .orderBy(col("custkey"), col("bucket"), col("order_a"),
        col("order_b"))
  }

  // Benford first-digit expectation in ppm: floor(log10(1+1/d)·10⁶),
  // computed ONCE driver-side (the q230 literal-threshold device —
  // the log never evaluates in either engine).
  private val BenfordPpm: Seq[Long] =
    (1 to 9).map(dd => (math.log10(1.0 + 1.0 / dd) * 1e6).toLong)

  /** q238: Benford's-law first-digit audit of order totals — observed
    * first-digit counts vs the Benford expectation, with the χ²-style
    * milli-statistic Σ (obs·10⁶ − n·exp_ppm)² / (n·exp_ppm·10³)
    * entirely in DECIMAL(38). One map-side digit census; the digit
    * frame is 9 rows. */
  def benford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .select(expr("CAST(substring(CAST(CAST(CAST(o_totalprice" +
        " AS DECIMAL(12,2)) * 100 AS BIGINT) AS STRING), 1, 1)" +
        " AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val exp_ = s.createDataFrame(
        BenfordPpm.zipWithIndex.map { case (p, i) => (i + 1L, p) })
      .toDF("digit", "exp_ppm")
    val n = digits.agg(sum(col("obs")).as("n"))
    digits.join(broadcast(exp_), "digit")
      .crossJoin(broadcast(n))
      .select(col("digit"), col("obs"), col("exp_ppm"),
        expr("obs * 1000000 div n").as("obs_ppm"),
        expr("CAST((CAST(obs AS DECIMAL(38,0)) * 1000000 - CAST(n" +
          " AS DECIMAL(38,0)) * exp_ppm) * (CAST(obs AS DECIMAL(38,0))" +
          " * 1000000 - CAST(n AS DECIMAL(38,0)) * exp_ppm)" +
          " div (CAST(n AS DECIMAL(38,0)) * exp_ppm * 1000)" +
          " AS BIGINT)").as("chi2_milli"))
      .orderBy(col("digit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_dup_invoices" -> dupInvoices,
    "q238_benford" -> benford,
    "q205_fk_integrity" -> fkIntegrity,
    "q206_quantile_normalize" -> quantileNormalize,
    "q210_sample_allocation" -> sampleAllocation,
    "q214_forget_cascade" -> forgetCascade)

  val oracle: Map[String, String] = Map(
    "q237_dup_invoices" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, o_custkey AS ck,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day
        |  FROM orders)
        |SELECT a.ck AS custkey, a.cents // 100000 AS bucket,
        |  a.ok AS order_a, b.ok AS order_b,
        |  abs(a.day - b.day) AS days_apart
        |FROM o a JOIN o b
        |  ON a.ck = b.ck AND a.cents // 100000 = b.cents // 100000
        |  AND a.ok < b.ok AND abs(a.day - b.day) <= 365
        |ORDER BY custkey, bucket, order_a, order_b""".stripMargin,
    "q238_benford" -> {
      val expValues = BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH digits AS (
         |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice
         |      AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
         |      AS BIGINT) AS digit
         |  FROM orders),
         |ob AS (SELECT digit, COUNT(*) AS obs FROM digits
         |  GROUP BY digit),
         |e(digit, exp_ppm) AS (VALUES $expValues),
         |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM ob)
         |SELECT ob.digit, obs, CAST(exp_ppm AS BIGINT) AS exp_ppm,
         |  obs * 1000000 // n AS obs_ppm,
         |  CAST((CAST(obs AS HUGEINT) * 1000000
         |      - CAST(n AS HUGEINT) * exp_ppm)
         |    * (CAST(obs AS HUGEINT) * 1000000
         |      - CAST(n AS HUGEINT) * exp_ppm)
         |    // (CAST(n AS HUGEINT) * exp_ppm * 1000) AS BIGINT)
         |    AS chi2_milli
         |FROM ob JOIN e ON ob.digit = e.digit CROSS JOIN n
         |ORDER BY ob.digit""".stripMargin
    },
    "q214_forget_cascade" ->
      """WITH cust AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
        |ords AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  JOIN cust ON o_custkey = c_custkey)
        |SELECT * FROM (
        |  SELECT 'events' AS table_name,
        |    COUNT(DISTINCT user_id) AS n_entities, COUNT(*) AS n_rows
        |  FROM events WHERE user_id % 100 = 0
        |  UNION ALL
        |  SELECT 'customer', COUNT(*), COUNT(*) FROM cust
        |  UNION ALL
        |  SELECT 'orders', COUNT(DISTINCT o_custkey), COUNT(*) FROM ords
        |  UNION ALL
        |  SELECT 'lineitem', COUNT(DISTINCT l_orderkey), COUNT(*)
        |  FROM lineitem JOIN ords ON l_orderkey = o_orderkey)
        |ORDER BY table_name""".stripMargin,
    "q205_fk_integrity" ->
      """SELECT * FROM (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    COUNT(*) AS n_child,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans,
        |    COUNT(DISTINCT CASE WHEN o_orderkey IS NULL
        |      THEN l_orderkey END) AS n_orphan_keys
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', COUNT(*),
        |    CAST(SUM(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN p_partkey IS NULL THEN l_partkey END)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
        |    CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN s_suppkey IS NULL THEN l_suppkey END)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', COUNT(*),
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN c_custkey IS NULL THEN o_custkey END)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation', COUNT(*),
        |    CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN n_nationkey IS NULL
        |      THEN c_nationkey END)
        |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', COUNT(*),
        |    CAST(SUM(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN r_regionkey IS NULL
        |      THEN n_regionkey END)
        |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey)
        |ORDER BY fk_edge""".stripMargin,
    "q206_quantile_normalize" ->
      """WITH vc AS (
        |  SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars),
        |blw AS (
        |  SELECT n_chars,
        |    COALESCE(SUM(c) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM vc),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |pr AS (
        |  SELECT source,
        |    CAST(below * 1000000 // (n - 1) AS BIGINT) AS pr_ppm
        |  FROM documents JOIN blw USING (n_chars) CROSS JOIN n)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(pr_ppm) // COUNT(*) AS BIGINT) AS mean_pr_ppm,
        |  MIN(pr_ppm) AS min_pr_ppm, MAX(pr_ppm) AS max_pr_ppm
        |FROM pr GROUP BY source ORDER BY source""".stripMargin,
    "q210_sample_allocation" ->
      s"""WITH strata AS (
         |  SELECT lang, source, COUNT(*) AS n_docs
         |  FROM documents GROUP BY lang, source),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM strata),
         |base AS (
         |  SELECT lang, source, n_docs,
         |    $Budget * n_docs // total AS floor_q,
         |    ($Budget * n_docs) % total AS rem
         |  FROM strata CROSS JOIN tot),
         |lo AS (SELECT $Budget - SUM(floor_q) AS leftover FROM base),
         |rk AS (
         |  SELECT lang, source, n_docs, floor_q, leftover,
         |    row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
         |  FROM base CROSS JOIN lo)
         |SELECT lang, source, n_docs,
         |  floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
         |FROM rk ORDER BY lang, source""".stripMargin)
}
