package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream ML assembly:
  *
  *  - q252: NEAREST-event join — for every purchase, the nearest click
  *    of the same user in absolute event time, both directions (the
  *    bidirectional upgrade of the q45/q109 backward-only as-of join).
  *    Computed with the interleave device: one per-user window pass
  *    over the merged stream — prev candidate via a running
  *    last(IGNORE NULLS), next via the mirrored first over the
  *    following frame — never a pair join. Ties (equidistant) resolve
  *    to the earlier click; same-timestamp clicks split by event_id
  *    into the prev/next sides deterministically in both engines.
  *  - q256: leakage-safe training-set assembly — per-user features
  *    from activity ≤ cutoff and a churn label from (cutoff, max]
  *    computed in ONE conditional-aggregate pass: the feature and
  *    label windows are disjoint by construction, so temporal leakage
  *    is structurally impossible (the point of the operator; a
  *    feature join against an unfiltered activity table is how real
  *    pipelines leak). Cutoff = max event day − 7: the events table
  *    spans ~30 days, and a 30-day label window was verified VACUOUS
  *    (zero feature-side rows) and rejected — the q237
  *    parameter-honesty rule.
  *
  * Ref: the reference joins pay→order streams by time proximity
  * (interval join, TradePaySuc); q252 generalizes to nearest-in-time,
  * q256 is the offline label factory its DWS layer feeds.
  *
  * Scale (100 TB): q252 shuffles once to user_id and sorts within
  * user; q256 is a single map-side-combinable aggregation after a
  * broadcast of the 1-row max-day frame. No pair frames anywhere.
  */
object EventJoinOps extends graft.QueryPack {

  /** q252: nearest click for each purchase, per user. */
  def nearestEvent(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val marked = ev
      .withColumn("prev_click", last(
          when(col("event_type") === "click", col("t")),
          ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_click", first(
          when(col("event_type") === "click", col("t")),
          ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
    marked.filter(col("event_type") === "purchase")
      .withColumn("nearest_ts",
        when(col("prev_click").isNull, col("next_click"))
          .when(col("next_click").isNull, col("prev_click"))
          .when(col("t") - col("prev_click") <=
            col("next_click") - col("t"), col("prev_click"))
          .otherwise(col("next_click")))
      .select(col("event_id"), col("user_id"), col("t"),
        col("nearest_ts"),
        abs(col("t") - col("nearest_ts")).as("dist_us"),
        when(col("nearest_ts").isNull, lit(null).cast("string"))
          .when(col("nearest_ts") <= col("t"), lit("before"))
          .otherwise(lit("after")).as("side"))
      .orderBy(col("event_id"))
  }

  private val LabelDays = 7L

  /** q256: per-user features (≤ cutoff) + churn label ((cutoff, max]). */
  def leakageSafeLabels(s: SparkSession, d: String): DataFrame =
    labelsFrom(Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day")))

  /** Core over any (user_id, event_type, day) frame — fixture entry. */
  private[queries] def labelsFrom(ev: DataFrame): DataFrame = {
    val cut = ev.agg((max(col("day")) - LabelDays).as("cutoff"))
    val labeled = ev.crossJoin(broadcast(cut))
    def featCount(t: String): org.apache.spark.sql.Column =
      sum(when(col("day") <= col("cutoff") &&
        col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    labeled.groupBy(col("user_id"))
      .agg(featCount("click"), featCount("view"), featCount("purchase"),
        featCount("error"), featCount("signup"),
        max(when(col("day") <= col("cutoff"), col("day")))
          .as("last_active_day"),
        max(col("cutoff")).as("cutoff"),
        max(when(col("day") > col("cutoff"), 1L).otherwise(0L))
          .as("label_active"))
      .filter(col("last_active_day").isNotNull)
      .select(col("user_id"), col("n_click"), col("n_view"),
        col("n_purchase"), col("n_error"), col("n_signup"),
        (col("cutoff") - col("last_active_day")).as("recency_days"),
        col("label_active"))
      .orderBy(col("user_id"))
  }

  /** q268: time-weighted average event value per user (TWAP) — each
    * event's value holds until the next event; the weighted mean
    * weights by holding duration, all integer (cents × µs sums stay
    * under 2⁶³ through ~10⁶ events/user × full-range gaps; past that
    * the accumulators move to DECIMAL(38) — documented ceiling, the
    * q134 discipline). Users with ≥ 2 events (a single event has no
    * holding interval). One per-user window pass. */
  def twap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(ts)").as("t"), col("event_id"),
      expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    ev.withColumn("next_t", lead(col("t"), 1).over(w))
      .filter(col("next_t").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("next_t") - col("t")).as("span_us"),
        sum(col("cents") * (col("next_t") - col("t")))
          .as("weighted_sum"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        expr("weighted_sum div span_us").as("twap_cents"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q252_nearest_event" -> nearestEvent,
    "q256_leakage_safe_labels" -> leakageSafeLabels,
    "q268_twap" -> twap)

  val oracle: Map[String, String] = Map(
    "q268_twap" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS t,
        |    event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |iv AS (
        |  SELECT user_id, t, cents,
        |    LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS next_t
        |  FROM ev),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n_intervals,
        |    CAST(SUM(next_t - t) AS BIGINT) AS span_us,
        |    CAST(SUM(cents * (next_t - t)) AS BIGINT) AS weighted_sum
        |  FROM iv WHERE next_t IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id, n_intervals, span_us,
        |  CAST(weighted_sum // span_us AS BIGINT) AS twap_cents
        |FROM agg ORDER BY user_id""".stripMargin,
    "q252_nearest_event" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS t
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |marked AS (
        |  SELECT event_id, user_id, event_type, t,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN t END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS prev_click,
        |    FIRST_VALUE(CASE WHEN event_type = 'click' THEN t END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_click
        |  FROM ev),
        |p AS (
        |  SELECT event_id, user_id, t,
        |    CASE WHEN prev_click IS NULL THEN next_click
        |      WHEN next_click IS NULL THEN prev_click
        |      WHEN t - prev_click <= next_click - t THEN prev_click
        |      ELSE next_click END AS nearest_ts
        |  FROM marked WHERE event_type = 'purchase')
        |SELECT event_id, user_id, t, nearest_ts,
        |  abs(t - nearest_ts) AS dist_us,
        |  CASE WHEN nearest_ts IS NULL THEN NULL
        |    WHEN nearest_ts <= t THEN 'before' ELSE 'after' END AS side
        |FROM p ORDER BY event_id""".stripMargin,
    "q256_leakage_safe_labels" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    epoch_us(date_trunc('microseconds', ts)) // 86400000000
         |      AS day
         |  FROM events),
         |cut AS (SELECT MAX(day) - $LabelDays AS cutoff FROM ev),
         |agg AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN day <= cutoff AND event_type = 'click'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |    CAST(SUM(CASE WHEN day <= cutoff AND event_type = 'view'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         |    CAST(SUM(CASE WHEN day <= cutoff AND event_type = 'purchase'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         |    CAST(SUM(CASE WHEN day <= cutoff AND event_type = 'error'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |    CAST(SUM(CASE WHEN day <= cutoff AND event_type = 'signup'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |    MAX(CASE WHEN day <= cutoff THEN day END)
         |      AS last_active_day,
         |    MAX(cutoff) AS cutoff,
         |    CAST(MAX(CASE WHEN day > cutoff THEN 1 ELSE 0 END)
         |      AS BIGINT) AS label_active
         |  FROM ev CROSS JOIN cut
         |  GROUP BY user_id)
         |SELECT user_id, n_click, n_view, n_purchase, n_error, n_signup,
         |  cutoff - last_active_day AS recency_days, label_active
         |FROM agg WHERE last_active_day IS NOT NULL
         |ORDER BY user_id""".stripMargin)
}
