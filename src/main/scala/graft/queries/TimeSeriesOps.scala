package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series monitoring over the event stream — the ops-dashboard
  * trio, stated so every statistic is exact integer arithmetic:
  *
  *  - q179: anomalous days by Tukey fences (counts outside
  *    [Q1 − 1.5·IQR, Q3 + 1.5·IQR]) — quartiles are exact discrete
  *    order statistics and the 1.5× factor is cleared by comparing
  *    4·count against 4·Q1 − 6·IQR (never a fraction).
  *  - q180: least-squares trend slope of daily volume — slope as the
  *    exact rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), reported as
  *    numerator/denominator plus a ppm quotient.
  *  - q181: per-event-type EWMA (α=¼) — the fold s′ = (3s + c) div 4
  *    over the ordered daily series, run inside a bounded list fold
  *    (the day dimension is small by nature; both engines fold
  *    left-to-right with the first element as seed).
  *
  * Ref: the reference's dashboards chart exactly these daily series
  * (gmall-publisher sugar endpoints); this adds the monitoring math
  * on top.
  *
  * Scale (100 TB): the event scan reduces to one map-side-combinable
  * daily-count aggregate; every later frame is days- or types-sized.
  * Windows and folds only ever see the (bounded) day dimension.
  */
object TimeSeriesOps extends graft.QueryPack {

  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .as("day_num"))
      .agg(count(lit(1)).as("c"))

  /** q179: (dt, n_events, kind) for EVERY day — kind ∈ low/high/normal
    * by the Tukey fences. Labeling all days (the day frame is bounded
    * by nature) instead of filtering to outliers keeps the result
    * non-empty at scales where nothing is anomalous, which is itself
    * the monitoring signal. */
  def anomalyDays(s: SparkSession, d: String): DataFrame = {
    val counts = dailyCounts(s, d)
    // exact discrete quartiles over the bounded day frame (q161 device)
    val cum = counts.groupBy(col("c")).agg(count(lit(1)).as("freq"))
      .withColumn("cum", sum(col("freq")).over(
        Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = counts.agg(count(lit(1)).as("n_days"))
    val qs = cum.crossJoin(broadcast(n))
      .agg(min(when(col("cum") >= expr("((n_days - 1) * 25) div 100") + 1,
          col("c"))).as("q1"),
        min(when(col("cum") >= expr("((n_days - 1) * 75) div 100") + 1,
          col("c"))).as("q3"))
      .select(col("q1"), col("q3"), (col("q3") - col("q1")).as("iqr"))
    counts.crossJoin(broadcast(qs))
      .select(expr("date_add(DATE '1970-01-01', CAST(day_num AS INT))")
        .as("dt"), col("c").as("n_events"),
        when(col("c") * 4 < col("q1") * 4 - col("iqr") * 6, "low")
          .when(col("c") * 4 > col("q3") * 4 + col("iqr") * 6, "high")
          .otherwise("normal").as("kind"))
  }

  /** q180: one row — exact rational trend slope of daily volume. */
  def trendSlope(s: SparkSession, d: String): DataFrame =
    dailyCounts(s, d)
      .select(col("day_num"), col("c"))
      .crossJoin(broadcast(dailyCounts(s, d)
        .agg(min(col("day_num")).as("d0"))))
      .select((col("day_num") - col("d0")).as("x"), col("c").as("y"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope_ppm", expr("(slope_num * 1000000L) div slope_den"))

  /** q181: per-event-type EWMA (α=¼) over the ordered daily series. */
  def ewma(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_num"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        expr("transform(array_sort(collect_list(struct(day_num, c))), " +
          "x -> x.c)").as("series"))
      .select(col("event_type"), col("n_days"),
        expr("element_at(series, -1)").as("last_count"),
        expr("aggregate(slice(series, 2, size(series) - 1), " +
          "element_at(series, 1), (s, c) -> (3 * s + c) div 4)").as("ewma"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_anomaly_days" -> anomalyDays,
    "q180_trend_slope" -> trendSlope,
    "q181_ewma" -> ewma)

  private val dailyCte =
    """daily AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS day_num,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q179_anomaly_days" ->
      s"""WITH $dailyCte,
         |coc AS (SELECT c, COUNT(*) AS freq FROM daily GROUP BY c),
         |cum AS (
         |  SELECT c, SUM(freq) OVER (ORDER BY c
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM coc),
         |n AS (SELECT COUNT(*) AS n_days FROM daily),
         |qs AS (
         |  SELECT MIN(CASE WHEN cum >= ((n_days - 1) * 25) // 100 + 1
         |      THEN c END) AS q1,
         |    MIN(CASE WHEN cum >= ((n_days - 1) * 75) // 100 + 1
         |      THEN c END) AS q3
         |  FROM cum CROSS JOIN n)
         |SELECT DATE '1970-01-01' + CAST(day_num AS INTEGER) AS dt,
         |  c AS n_events,
         |  CASE WHEN c * 4 < q1 * 4 - (q3 - q1) * 6 THEN 'low'
         |       WHEN c * 4 > q3 * 4 + (q3 - q1) * 6 THEN 'high'
         |       ELSE 'normal' END AS kind
         |FROM daily CROSS JOIN qs""".stripMargin,
    "q180_trend_slope" ->
      s"""WITH $dailyCte,
         |xy AS (
         |  SELECT day_num - (SELECT MIN(day_num) FROM daily) AS x, c AS y
         |  FROM daily),
         |agg AS (
         |  SELECT COUNT(*) AS n_days,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM xy)
         |SELECT n_days,
         |  n_days * sxy - sx * sy AS slope_num,
         |  n_days * sxx - sx * sx AS slope_den,
         |  CAST(((n_days * sxy - sx * sy) * 1000000)
         |    // (n_days * sxx - sx * sx) AS BIGINT) AS slope_ppm
         |FROM agg""".stripMargin,
    "q181_ewma" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    list(c ORDER BY day_num) AS series
        |  FROM daily GROUP BY event_type)
        |SELECT event_type, n_days,
        |  series[-1] AS last_count,
        |  list_reduce(series, (s, c) -> (3 * s + c) // 4) AS ewma
        |FROM ser""".stripMargin)
}
