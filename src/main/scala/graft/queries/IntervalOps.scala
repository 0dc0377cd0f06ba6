package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval analytics — the sweep-line / gaps-and-islands family every
  * warehouse needs and no single Spark builtin provides:
  *
  *  - q241: peak concurrency per day — per-(user, day) activity
  *    intervals, swept as +1/−1 deltas with a running sum; the maximum
  *    of the running sum is the day's peak concurrent-user count.
  *  - q242: interval coalescing (gaps-and-islands) — each event opens a
  *    30-minute activity window; overlapping/touching windows merge
  *    into maximal islands per user via the classic
  *    "start > running-max(previous ends)" island-boundary flag.
  *  - q243: calendar-spine gap fill — daily revenue per region joined
  *    onto a dense `sequence()` date spine, missing days filled by
  *    LINEAR INTERPOLATION between the nearest known neighbors in
  *    integer cents (endpoints clamp to the nearest known value).
  *
  * Ref: the reference keeps per-user activity state in keyed Flink state
  * (gmall-realtime UV/UJ apps); these are the batch interval analytics
  * over the same activity streams.
  *
  * Determinism notes (both engines must agree):
  *  - q241 orders sweep points by (t, delta DESC) so all +1s at a
  *    timestamp precede the −1s — touching intervals count as
  *    concurrent, and the running-sum MAX is invariant to tie order
  *    inside each (t, delta) group (all deltas equal → max is reached
  *    at the group's end regardless of arrangement).
  *  - q242 dedupes intervals first (all windows have e = s + W, so
  *    distinct (user, s) kills every tie); the boundary flag then
  *    depends only on rows with strictly smaller s.
  *  - q243 interpolates in integer cents with `div` (Spark `div` ≡
  *    DuckDB `//`, truncation — the verified r7 trap), so both engines
  *    compute identical filled values.
  *
  * Scale (100 TB): every window here is partitioned — q241 by day,
  * q242 by user, q243 by region (the spine frame is days × regions,
  * bounded). The sweep and island devices never materialize pairs; the
  * cost is one shuffle to the partition key plus a sort within each
  * bounded partition. Nothing is driver-side.
  */
object IntervalOps extends graft.QueryPack {

  /** q241: per-day peak concurrent users via sweep line. */
  def maxConcurrency(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts)").as("t"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("t")).as("st"), max(col("t")).as("en"))
    val pts = iv.select(col("day"), col("st").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("day"), col("en").as("t"),
        lit(-1L).as("delta")))
    val run = pts.withColumn("conc", sum(col("delta")).over(
      Window.partitionBy(col("day")).orderBy(col("t"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val peaks = run.groupBy(col("day"))
      .agg(max(col("conc")).as("peak_concurrent"))
    iv.groupBy(col("day")).agg(count(lit(1)).as("n_intervals"))
      .join(peaks, "day")
      .select(col("day"), col("n_intervals"), col("peak_concurrent"))
      .orderBy(col("day"))
  }

  private val WindowUs = 30L * 60 * 1000000 // 30-minute activity window

  /** q242: per-user activity islands from 30-min event windows. */
  def intervalCoalesce(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("st"))
      .distinct()
      .withColumn("en", col("st") + lit(WindowUs))
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"))
    val flagged = iv.withColumn("prev_max_en",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_en").isNull ||
          col("st") > col("prev_max_en"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = flagged.groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("is_st"), max(col("en")).as("is_en"),
        count(lit(1)).as("n_ev"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("n_ev")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("is_en") - col("is_st")).as("covered_us"),
        max(col("is_en") - col("is_st")).as("max_island_us"))
      .orderBy(col("user_id"))
  }

  /** q243: dense daily revenue per region, gaps linearly interpolated
    * in integer cents. */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
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
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = Tables.region(s, d).select(col("r_name"))
      .crossJoin(broadcast(span))
      .select(col("r_name"),
        explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy(col("r_name")).orderBy(col("day"))
    val joined = spine.join(daily, Seq("r_name", "day"), "left")
      .withColumn("prev_v", last(col("rev_cents"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_d", last(when(col("rev_cents").isNotNull,
          col("day")), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_v", first(col("rev_cents"), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_d", first(when(col("rev_cents").isNotNull,
          col("day")), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
    joined.select(col("r_name"), col("day"),
        when(col("rev_cents").isNotNull, lit(0L)).otherwise(lit(1L))
          .as("filled"),
        when(col("rev_cents").isNotNull, col("rev_cents"))
          .when(col("prev_v").isNull, col("next_v"))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") +
            expr("(next_v - prev_v) * (day - prev_d) div (next_d - prev_d)"))
          .as("rev_cents_filled"))
      .orderBy(col("r_name"), col("day"))
  }

  /** q291: weekday × hour activity heat map — event counts and ppm
    * share per (dow, hour) cell, pure µs arithmetic on the epoch
    * ((day+4) % 7 — the q204 origin-free weekday device; hour =
    * µs-of-day div 3600s). One aggregate to a 7×24 frame. */
  def dowHourHeatmap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
      expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hour"))
    val cells = ev.groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"),
        expr("(n * 1000000) div total").as("ppm"))
      .orderBy(col("dow"), col("hour"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q241_max_concurrency" -> maxConcurrency,
    "q242_interval_coalesce" -> intervalCoalesce,
    "q243_gap_fill" -> gapFill,
    "q291_dow_hour_heatmap" -> dowHourHeatmap)

  val oracle: Map[String, String] = Map(
    "q291_dow_hour_heatmap" ->
      """WITH ev AS (
        |  SELECT (epoch_us(date_trunc('microseconds', ts))
        |      // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(date_trunc('microseconds', ts)) % 86400000000)
        |      // 3600000000 AS hour
        |  FROM events),
        |cells AS (
        |  SELECT dow, hour, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
        |SELECT dow, hour, n,
        |  CAST((n * 1000000) // total AS BIGINT) AS ppm
        |FROM cells CROSS JOIN tot
        |ORDER BY dow, hour""".stripMargin,
    "q241_max_concurrency" ->
      """WITH iv AS (
        |  SELECT user_id,
        |    epoch_us(date_trunc('microseconds', ts)) // 86400000000
        |      AS day,
        |    MIN(epoch_us(date_trunc('microseconds', ts))) AS st,
        |    MAX(epoch_us(date_trunc('microseconds', ts))) AS en
        |  FROM events GROUP BY 1, 2),
        |pts AS (
        |  SELECT day, st AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT day, en, -1 FROM iv),
        |run AS (
        |  SELECT day,
        |    SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts),
        |pk AS (
        |  SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrent
        |  FROM run GROUP BY day),
        |nn AS (SELECT day, COUNT(*) AS n_intervals FROM iv GROUP BY day)
        |SELECT nn.day, n_intervals, peak_concurrent
        |FROM nn JOIN pk ON nn.day = pk.day
        |ORDER BY nn.day""".stripMargin,
    "q242_interval_coalesce" ->
      s"""WITH iv AS (
         |  SELECT DISTINCT user_id,
         |    epoch_us(date_trunc('microseconds', ts)) AS st,
         |    epoch_us(date_trunc('microseconds', ts)) + $WindowUs AS en
         |  FROM events),
         |flagged AS (
         |  SELECT user_id, st, en,
         |    CASE WHEN MAX(en) OVER (PARTITION BY user_id ORDER BY st
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |        IS NULL
         |      OR st > MAX(en) OVER (PARTITION BY user_id ORDER BY st
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      THEN 1 ELSE 0 END AS new_island
         |  FROM iv),
         |isl AS (
         |  SELECT user_id, st, en,
         |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY st
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS island
         |  FROM flagged),
         |agg AS (
         |  SELECT user_id, island, MIN(st) AS is_st, MAX(en) AS is_en,
         |    COUNT(*) AS n_ev
         |  FROM isl GROUP BY user_id, island)
         |SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
         |  COUNT(*) AS n_islands,
         |  CAST(SUM(is_en - is_st) AS BIGINT) AS covered_us,
         |  CAST(MAX(is_en - is_st) AS BIGINT) AS max_island_us
         |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q243_gap_fill" ->
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
        |  GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
        |spine AS (
        |  SELECT r_name, gs.day FROM region
        |  CROSS JOIN span
        |  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(d0, d1))
        |    AS day) gs),
        |j AS (
        |  SELECT s.r_name, s.day, d.rev_cents,
        |    LAST_VALUE(d.rev_cents IGNORE NULLS) OVER (
        |      PARTITION BY s.r_name ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_v,
        |    LAST_VALUE(CASE WHEN d.rev_cents IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.r_name ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_d,
        |    FIRST_VALUE(d.rev_cents IGNORE NULLS) OVER (
        |      PARTITION BY s.r_name ORDER BY s.day
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_v,
        |    FIRST_VALUE(CASE WHEN d.rev_cents IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.r_name ORDER BY s.day
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_d
        |  FROM spine s LEFT JOIN daily d
        |    ON s.r_name = d.r_name AND s.day = d.day)
        |SELECT r_name, day,
        |  CASE WHEN rev_cents IS NOT NULL THEN 0 ELSE 1 END AS filled,
        |  CAST(CASE WHEN rev_cents IS NOT NULL THEN rev_cents
        |    WHEN prev_v IS NULL THEN next_v
        |    WHEN next_v IS NULL THEN prev_v
        |    ELSE prev_v + (next_v - prev_v) * (day - prev_d)
        |      // (next_d - prev_d) END AS BIGINT) AS rev_cents_filled
        |FROM j ORDER BY r_name, day""".stripMargin)
}
