package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engagement analytics finishers:
  *
  *  - q308: boxplot table — per event type, the exact five-number
  *    summary of value cents (min, lower-median quartiles, max) plus
  *    the Tukey-fence outlier counts, all from per-type value
  *    histograms (the q161/q239 counts-of-counts device — no sort of
  *    the event stream, quartiles by cumulative position).
  *  - q309: retention curve — for each week-offset k since a user's
  *    FIRST event, how many users were active in week k, as ppm of
  *    the user base (the aggregate decay curve; q102 is the
  *    cohort×month matrix, this is the classic marginal curve).
  *  - q310: stickiness — per month: MAU, Σ daily DAU, and the DAU/MAU
  *    ratio in ppm (mean DAU over days × 10⁶ div MAU), all exact
  *    integers.
  *
  * Scale: q308's windows run per-type on the value-frequency frames;
  * q309/q310 are two grouped aggregates each over (user, day|week)
  * frames — map-side combinable, outputs calendar-bounded.
  */
object EngagementOps extends graft.QueryPack {

  /** q308: exact five-number summary + Tukey outlier census per type. */
  def boxplot(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val freq = ev.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("f"))
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = freq.withColumn("cum", sum(col("f")).over(w))
      .join(broadcast(tot), "event_type")
    def qAt(num: Int, den: Int) = // smallest v with cum*den >= n*num
      min(when(col("cum") * den >= col("n") * num, col("cents")))
    val summary = cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(col("cents")).as("v_min"),
        qAt(1, 4).as("q1"), qAt(2, 4).as("median"), qAt(3, 4).as("q3"),
        max(col("cents")).as("v_max"))
    ev.join(broadcast(summary), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("v_min")).as("v_min"),
        max(col("q1")).as("q1"), max(col("median")).as("median"),
        max(col("q3")).as("q3"), max(col("v_max")).as("v_max"),
        sum(when(col("cents") * 2 < col("q1") * 5 - col("q3") * 3, 1L)
          .otherwise(0L)).as("n_low_outliers"),
        sum(when(col("cents") * 2 > col("q3") * 5 - col("q1") * 3, 1L)
          .otherwise(0L)).as("n_high_outliers"))
      .orderBy(col("event_type"))
  }

  /** q309: users active k weeks after their first event, ppm of base. */
  def retentionCurve(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val first = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("w0"))
    val base = first.agg(count(lit(1)).as("n_users"))
    uw.join(first, "user_id")
      .select(col("user_id"), (col("week") - col("w0")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_active"))
      .crossJoin(broadcast(base))
      .select(col("k"), col("n_active"),
        expr("(n_active * 1000000) div n_users").as("retained_ppm"))
      .orderBy(col("k"))
  }

  /** q310: monthly MAU, Σ daily DAU, stickiness ppm. */
  def stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .withColumn("month", expr("day div 30")) // epoch-30-day months
    val dau = ud.groupBy(col("month"), col("day"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val mau = ud.select(col("month"), col("user_id")).distinct()
      .groupBy(col("month")).agg(count(lit(1)).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"), col("sum_dau"), col("mau"),
        expr("(sum_dau * 1000000) div (n_days * mau)")
          .as("stickiness_ppm"))
      .orderBy(col("month"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q308_boxplot" -> boxplot,
    "q309_retention_curve" -> retentionCurve,
    "q310_stickiness" -> stickiness)

  val oracle: Map[String, String] = Map(
    "q308_boxplot" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |freq AS (
        |  SELECT event_type, cents, COUNT(*) AS f
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
        |cum AS (
        |  SELECT f.event_type, f.cents,
        |    CAST(SUM(f.f) OVER (PARTITION BY f.event_type
        |      ORDER BY f.cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    t.n
        |  FROM freq f JOIN tot t USING (event_type)),
        |summ AS (
        |  SELECT event_type, MAX(n) AS n, MIN(cents) AS v_min,
        |    MIN(CASE WHEN cum * 4 >= n * 1 THEN cents END) AS q1,
        |    MIN(CASE WHEN cum * 4 >= n * 2 THEN cents END) AS median,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS q3,
        |    MAX(cents) AS v_max
        |  FROM cum GROUP BY event_type)
        |SELECT e.event_type, MAX(s.n) AS n, MAX(s.v_min) AS v_min,
        |  MAX(s.q1) AS q1, MAX(s.median) AS median, MAX(s.q3) AS q3,
        |  MAX(s.v_max) AS v_max,
        |  CAST(SUM(CASE WHEN e.cents * 2 < s.q1 * 5 - s.q3 * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
        |  CAST(SUM(CASE WHEN e.cents * 2 > s.q3 * 5 - s.q1 * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
        |FROM ev e JOIN summ s USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q309_retention_curve" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(date_trunc('microseconds', ts)) // 604800000000
        |      AS week
        |  FROM events),
        |first AS (
        |  SELECT user_id, MIN(week) AS w0 FROM uw GROUP BY user_id),
        |base AS (SELECT COUNT(*) AS n_users FROM first)
        |SELECT week - w0 AS k, COUNT(*) AS n_active,
        |  CAST((COUNT(*) * 1000000) // n_users AS BIGINT)
        |    AS retained_ppm
        |FROM uw JOIN first USING (user_id) CROSS JOIN base
        |GROUP BY week - w0, n_users
        |ORDER BY k""".stripMargin,
    "q310_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(date_trunc('microseconds', ts)) // 86400000000
        |      AS day
        |  FROM events),
        |ud2 AS (SELECT user_id, day, day // 30 AS month FROM ud),
        |dau AS (
        |  SELECT month, COUNT(*) AS n_days,
        |    CAST(SUM(dau) AS BIGINT) AS sum_dau
        |  FROM (SELECT month, day, COUNT(*) AS dau FROM ud2
        |        GROUP BY month, day)
        |  GROUP BY month),
        |mau AS (
        |  SELECT month, COUNT(*) AS mau FROM (
        |    SELECT DISTINCT month, user_id FROM ud2)
        |  GROUP BY month)
        |SELECT month, n_days, sum_dau, mau,
        |  CAST((sum_dau * 1000000) // (n_days * mau) AS BIGINT)
        |    AS stickiness_ppm
        |FROM dau JOIN mau USING (month)
        |ORDER BY month""".stripMargin)
}
