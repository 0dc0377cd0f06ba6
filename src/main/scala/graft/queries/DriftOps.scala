package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift and quality-of-service censuses:
  *
  *  - q285: PSI bucket table — order totals split into two halves of
  *    the date range, bucketed by POOLED exact deciles (position-based
  *    on the value-frequency frame — the q206/q248 counts-of-counts
  *    device; no sort of the fact table), with per-bucket ppm shares
  *    for each period and the absolute share drift. The PSI's
  *    logarithm stays with the consumer (the q276 sufficient-
  *    statistics rule); the bucket table IS the drift evidence.
  *    Pairs with q178 (KS) and the streaming DriftMonitor.
  *  - q286: return-rate census — share of returned lineitems
  *    (l_returnflag = 'R') per order priority × order year, count
  *    and revenue-weighted, in exact ppm.
  *
  * Scale (100 TB): q285's windows run on the distinct-value frame;
  * the fact table contributes one aggregate each. q286 is a single
  * co-partitioned join + conditional aggregate.
  */
object DriftOps extends graft.QueryPack {

  /** q285: pooled-decile PSI bucket table across date halves. */
  def psiBuckets(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("day"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    // `div`, not `/`: float division + cast would ROUND in DuckDB and
    // truncate in Spark on odd sums (the documented double→int trap)
    val span = o.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val lab = o.crossJoin(broadcast(span))
      .withColumn("p1", col("day") <= col("mid"))
    val freq = lab.groupBy(col("cents"))
      .agg(count(lit(1)).as("f"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("f1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("f2"))
    val tot = freq.agg(sum(col("f")).as("total"),
      sum(col("f1")).as("n1"), sum(col("f2")).as("n2"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    freq.withColumn("below", coalesce(sum(col("f")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr("(below * 10) div total + 1"))
      .groupBy(col("bucket"))
      .agg(sum(col("f1")).as("n_p1"), sum(col("f2")).as("n_p2"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("bucket"),
        col("n_p1"), col("n_p2"),
        expr("(n_p1 * 1000000) div n1").as("share1_ppm"),
        expr("(n_p2 * 1000000) div n2").as("share2_ppm"),
        abs(expr("(n_p1 * 1000000) div n1 - (n_p2 * 1000000) div n2"))
          .as("drift_ppm"))
      .orderBy(col("bucket"))
  }

  /** q286: return-rate per (priority, year), count and revenue ppm. */
  def returnRates(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_returnflag"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)").as("cents"))
    li.join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(col("cents")).as("rev_cents"),
        sum(when(col("l_returnflag") === "R", col("cents"))
          .otherwise(0L)).as("returned_cents"))
      .select(col("o_orderpriority"), col("yr"), col("n_items"),
        col("n_returned"),
        expr("(n_returned * 1000000) div n_items").as("return_ppm"),
        // DECIMAL(38,0): a (priority, year) slice's cents are
        // corpus-scale, and cents*1e6 overflows BIGINT past ~9e12
        // cents (the q208 r13 lesson; oracle HUGEINT in lockstep)
        expr("(CAST(returned_cents AS DECIMAL(38,0)) * 1000000)" +
          " div rev_cents").as("return_rev_ppm"))
      .orderBy(col("o_orderpriority"), col("yr"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q285_psi_buckets" -> psiBuckets,
    "q286_return_rates" -> returnRates)

  val oracle: Map[String, String] = Map(
    "q285_psi_buckets" ->
      """WITH o AS (
        |  SELECT epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |span AS (
        |  SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM o),
        |lab AS (
        |  SELECT cents, day <= mid AS p1 FROM o CROSS JOIN span),
        |freq AS (
        |  SELECT cents, COUNT(*) AS f,
        |    CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN p1 THEN 0 ELSE 1 END) AS BIGINT) AS f2
        |  FROM lab GROUP BY cents),
        |tot AS (
        |  SELECT CAST(SUM(f) AS BIGINT) AS total,
        |    CAST(SUM(f1) AS BIGINT) AS n1,
        |    CAST(SUM(f2) AS BIGINT) AS n2
        |  FROM freq),
        |cum AS (
        |  SELECT f1, f2,
        |    CAST(COALESCE(SUM(f) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM freq),
        |bk AS (
        |  SELECT (below * 10) // total + 1 AS bucket,
        |    f1, f2, n1, n2
        |  FROM cum CROSS JOIN tot),
        |agg AS (
        |  SELECT bucket, CAST(SUM(f1) AS BIGINT) AS n_p1,
        |    CAST(SUM(f2) AS BIGINT) AS n_p2,
        |    MAX(n1) AS n1, MAX(n2) AS n2
        |  FROM bk GROUP BY bucket)
        |SELECT bucket, n_p1, n_p2,
        |  CAST((n_p1 * 1000000) // n1 AS BIGINT) AS share1_ppm,
        |  CAST((n_p2 * 1000000) // n2 AS BIGINT) AS share2_ppm,
        |  CAST(abs((n_p1 * 1000000) // n1 - (n_p2 * 1000000) // n2)
        |    AS BIGINT) AS drift_ppm
        |FROM agg ORDER BY bucket""".stripMargin,
    "q286_return_rates" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem)
        |SELECT o_orderpriority, year(o_orderdate) AS yr,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  CAST((SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    * 1000000) // COUNT(*) AS BIGINT) AS return_ppm,
        |  CAST((CAST(SUM(CASE WHEN l_returnflag = 'R' THEN cents
        |    ELSE 0 END) AS HUGEINT)
        |    * 1000000) // SUM(cents) AS BIGINT) AS return_rev_ppm
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, year(o_orderdate)
        |ORDER BY o_orderpriority, yr""".stripMargin)
}
