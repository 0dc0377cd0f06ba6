package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serial-correlation pack — the two lag-domain diagnostics the
  * time-series family (q181 EWMA, q204 DOW seasonality, q213
  * burstiness, q232 Theil–Sen, q277 STL) still lacked:
  *
  *  - q360 daily-count ACF: the autocorrelation function of the
  *    events-per-day series at calendar lags 0..[[AcfMaxLag]], in
  *    exact integer algebra. Centering uses the n-scaled device
  *    (q288's "no square root" rule applied to serial correlation):
  *    y_t = n·x_t − S makes Σy_ty_{t+k} the n²-scaled autocovariance
  *    with no rational mean, so acf_milli = num·1000 div den is
  *    engine-exact (negative lags of an alternating series exercise
  *    the truncation-toward-zero pin).
  *  - q361 lead–lag cross-correlation: orders-placed-per-day against
  *    lineitems-shipped-per-day at lags −7..+7 — the "shipping
  *    follows ordering by k days" detector (the lag-domain companion
  *    of q239's per-order ship lag). Each series is centered with its
  *    OWN (n, S); the signed n²-scaled numerator is emitted raw plus
  *    a squared correlation in ppm via DECIMAL(38,0) cross products
  *    (the q188 χ² device) — magnitude normalized, sign read from
  *    num_xn.
  *
  * Lags are CALENDAR-day lags via a day+k equi-join, not row-index
  * lags: missing days contribute nothing (a sparse dot product), the
  * statistic is deterministic on any gap pattern, and the plan needs
  * no window at all — both queries are groupBy-join-groupBy chains.
  *
  * Scale (100 TB): the per-day aggregate is the only pass over the
  * fact; everything after operates on |days|-sized frames (≤ a few
  * thousand rows regardless of corpus size) with a broadcast 1-row
  * totals frame — the lag join never touches raw events. No windows,
  * no driver loops.
  *
  * Int64 headroom (ADVICE r9): the OUTERMOST products already ride
  * DECIMAL(38,0) (rho2_ppm), but the inner n-scaled centering keeps
  * y = n·x − S and Σy·y in int64: with n = |days| and x a per-day
  * count, Σy² ≈ n³·x̄², exact for n³x̄² < 2⁶³ — e.g. 10 years of days
  * (n ≈ 3650) with up to ~4·10⁵ events/day. Past that, widen the y
  * products to DECIMAL(38,0) like the numerator already is.
  *
  * Ref: the reference's per-window traffic series
  * (DwsTrafficVcChArIsNewPageViewWindow.java:40-120) stop at windowed
  * sums; lag-domain structure is part of the extension surface.
  */
object AutoCorrOps extends graft.QueryPack {

  private[queries] val AcfMaxLag = 7
  private[queries] val XcfMaxLag = 7

  /** Per-calendar-day counts of `df`, centered by the n-scaled rule:
    * (day DATE, n_days, y = n_days·x − Σx). */
  private[queries] def centeredDaily(df: DataFrame, dateCol: Column)
      : DataFrame = {
    val daily = df.select(to_date(date_trunc("DAY", dateCol)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"))
    daily.crossJoin(broadcast(tot))
      .select(col("day"), col("n_days"),
        (col("n_days") * col("x") - col("s")).as("y"))
  }

  /** q360 core: ACF of a centered daily frame at lags 0..maxLag. */
  private[queries] def acfOf(ys: DataFrame, maxLag: Int): DataFrame = {
    val y = ys.stable() // den + both legs of the lag join
    val den = y.agg(sum(col("y") * col("y")).as("den"),
      max(col("n_days")).as("n_days"))
    val ks = y.sparkSession.range(0, maxLag + 1L).select(col("id").as("k"))
    y.crossJoin(ks)
      .join(y.select(col("day").as("day_b"), col("y").as("y_b")),
        col("day_b") === expr("date_add(day, CAST(k AS INT))"))
      .groupBy(col("k")).agg(sum(col("y") * col("y_b")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_days"), col("num"), col("den"),
        expr("num * 1000 div den").as("acf_milli"))
      .orderBy(col("k"))
  }

  /** q360: ACF of events-per-day, lags 0..7 (k=0 reads 1000 — the
    * built-in sanity row). */
  def acfDaily(s: SparkSession, d: String): DataFrame =
    acfOf(centeredDaily(Tables.events(s, d), col("ts")), AcfMaxLag)

  /** q361 core: signed cross-correlation numerators of two centered
    * daily frames at lags −maxLag..maxLag, plus both denominators and
    * the ppm squared correlation. */
  private[queries] def xcorrOf(ysA: DataFrame, ysB: DataFrame,
      maxLag: Int): DataFrame = {
    val a = ysA.stable()
    val b = ysB.stable()
    val denA = a.agg(sum(col("y") * col("y")).as("den_a"))
    val denB = b.agg(sum(col("y") * col("y")).as("den_b"))
    val ks = a.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("k"))
    a.select(col("day"), col("y")).crossJoin(ks)
      .join(b.select(col("day").as("day_b"), col("y").as("y_b")),
        col("day_b") === expr("date_add(day, CAST(k AS INT))"))
      .groupBy(col("k")).agg(sum(col("y") * col("y_b")).as("num_xn"))
      .crossJoin(broadcast(denA))
      .crossJoin(broadcast(denB))
      .select(col("k"), col("num_xn"), col("den_a"), col("den_b"),
        expr("CAST((CAST(num_xn AS DECIMAL(38,0)) * num_xn * 1000000)" +
          " div (CAST(den_a AS DECIMAL(38,0)) * den_b) AS BIGINT)")
          .as("rho2_ppm"))
      .orderBy(col("k"))
  }

  /** q361: orders-placed vs lineitems-shipped per day, lags −7..+7. */
  def crossCorrLeadLag(s: SparkSession, d: String): DataFrame =
    xcorrOf(
      centeredDaily(Tables.orders(s, d), col("o_orderdate")),
      centeredDaily(Tables.lineitem(s, d), col("l_shipdate")),
      XcfMaxLag)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q360_acf_daily" -> acfDaily,
    "q361_crosscorr_leadlag" -> crossCorrLeadLag)

  val oracle: Map[String, String] = Map(
    "q360_acf_daily" ->
      s"""WITH dc AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |    COUNT(*) AS x
         |  FROM events GROUP BY 1),
         |tot AS (
         |  SELECT COUNT(*) AS n_days, CAST(SUM(x) AS BIGINT) AS s
         |  FROM dc),
         |ys AS (
         |  SELECT day, n_days, n_days * x - s AS y
         |  FROM dc CROSS JOIN tot),
         |den AS (
         |  SELECT CAST(SUM(y * y) AS BIGINT) AS den,
         |    MAX(n_days) AS n_days
         |  FROM ys),
         |num AS (
         |  SELECT k, CAST(SUM(a.y * b.y) AS BIGINT) AS num
         |  FROM generate_series(0, $AcfMaxLag) g(k)
         |  CROSS JOIN ys a
         |  JOIN ys b ON b.day = a.day + CAST(k AS INT)
         |  GROUP BY k)
         |SELECT CAST(k AS BIGINT) AS k, n_days, num, den,
         |  num * 1000 // den AS acf_milli
         |FROM num CROSS JOIN den ORDER BY k""".stripMargin,
    "q361_crosscorr_leadlag" ->
      s"""WITH da AS (
         |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         |    COUNT(*) AS x
         |  FROM orders GROUP BY 1),
         |ta AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM da),
         |ya AS (SELECT day, n * x - s AS y FROM da CROSS JOIN ta),
         |db AS (
         |  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
         |    COUNT(*) AS x
         |  FROM lineitem GROUP BY 1),
         |tb AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM db),
         |yb AS (SELECT day, n * x - s AS y FROM db CROSS JOIN tb),
         |dena AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den_a FROM ya),
         |denb AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den_b FROM yb),
         |num AS (
         |  SELECT k, CAST(SUM(a.y * b.y) AS BIGINT) AS num_xn
         |  FROM generate_series(-$XcfMaxLag, $XcfMaxLag) g(k)
         |  CROSS JOIN ya a
         |  JOIN yb b ON b.day = a.day + CAST(k AS INT)
         |  GROUP BY k)
         |SELECT CAST(k AS BIGINT) AS k, num_xn, den_a, den_b,
         |  CAST(CAST(num_xn AS HUGEINT) * num_xn * 1000000
         |    // (CAST(den_a AS HUGEINT) * den_b) AS BIGINT) AS rho2_ppm
         |FROM num CROSS JOIN dena CROSS JOIN denb
         |ORDER BY k""".stripMargin)
}
