package graft.queries

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window, sessionization, dedup and per-key-state analytics —
  * the batch re-expression of the reference's stateful streaming operators
  * (SURVEY.md §2.5 A5–A8, §2.3 P8, §2.9 CEP bounce, §2.4 J8). The streaming
  * forms live in `graft.streaming`; these batch twins are what the DuckDB
  * oracle can check exactly.
  *
  * Determinism at scale: every window function orders by `(ts, event_id)`
  * — event_id breaks ties so results are stable at any parallelism. All
  * time arithmetic is integer microseconds (`unix_micros` /
  * `epoch_us`) so Spark and the oracle agree bit-for-bit.
  */
object TimeAnalytics extends graft.QueryPack {
  import Num._

  /** A1/A3 analog (10 s tumbling event-time window — ref
    * DwsTrafficSourceKeywordPageViewWindow.java:71-81). Streaming twin:
    * `withWatermark("ts","2 seconds").groupBy(window($"ts","10 seconds"),...)`. */
  def windowTumble(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("event_count"), dsum(col("value"), 6).as("total_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("event_count"), col("total_value"))

  /** A5 analog (daily independent-visitor count via keyed first-sight
    * state — ref DwsTradeCartAddUuWindow.java:79-112): distinct users
    * per day ≡ one emission per (user, day). */
  def dailyActiveUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("event_count"))

  /** A10 analog (group by toYYYYMMDD/toHour — ref ActivityStatsMapper
    * .java:16, TrafficVisitorStatsMapper.java:24-30). */
  def timeBuckets(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        date_format(col("ts"), "yyyyMMdd").cast("long").as("date_id"),
        hour(col("ts")).cast("long").as("hour_id"))
      .agg(count(lit(1)).as("event_count"), dsum(col("value"), 6).as("total_value"))

  /** A7 analog (keep-FIRST per key, ValueState marker — ref
    * DwsTradePaymentSucWindow.java:74-102): earliest event per user by
    * (ts, event_id). Streaming twin: `dropDuplicates("user_id")`. */
  def dedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_type"),
        col("ts").as("first_ts"))
  }

  /** A8 analog (keep-LATEST per key with timer — ref
    * OrderDetailFilterFunction.java:42-81): richest/newest row per key.
    * Streaming twin: flatMapGroupsWithState emitting the max-ts row. */
  def dedupKeepLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("ts").as("last_ts"))
  }

  /** A6 analog (returning-user "回流" detection: gap between consecutive
    * active days ≥ threshold — ref DwsUserUserLoginWindow.java:83-135 uses
    * 8 days; 2 here so the synthetic month of data yields matches). */
  def returningUsers(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("event_date"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_date"))
    days
      .withColumn("prev_date", lag(col("event_date"), 1).over(w))
      .filter(col("prev_date").isNotNull &&
        datediff(col("event_date"), col("prev_date")) >= 2)
      .groupBy(col("event_date"))
      .agg(countDistinct(col("user_id")).as("back_users"))
  }

  /** CEP-bounce analog (ref DwdTrafficUserJumpDetail.java:62-107):
    * gap-based sessionization (10 min inactivity), bounce = single-event
    * session. Streaming twin: flatMapGroupsWithState state machine in
    * `graft.streaming.Sessionize`. */
  def sessionizeBounce(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu").asc, col("event_id").asc)
    val sessions = Tables.events(s, d)
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("prev_tsu", lag(col("tsu"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_tsu").isNull ||
          col("tsu") - col("prev_tsu") > 600L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("session_events"),
        (max(col("tsu")) - min(col("tsu"))).as("session_dur_us"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        sum(when(col("session_events") === 1, 1L).otherwise(0L)).as("bounce_count"),
        sum(col("session_dur_us")).as("total_dur_us"))
  }

  /** P8 analog (is_new visitor repair via first-visit-date keyed state —
    * ref BaseLogApp.java:69-118): an event is "new" iff its date equals
    * the user's first-ever active date. */
  def isNewRepair(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
      .withColumn("first_date", min(col("event_date")).over(w))
      .groupBy(col("event_date"))
      .agg(
        sum(when(col("event_date") === col("first_date"), 1L).otherwise(0L))
          .as("new_user_events"),
        sum(when(col("event_date") =!= col("first_date"), 1L).otherwise(0L))
          .as("old_user_events"))
  }

  /** P1/§2.7-JSON analog (from_json / map access on the Maxwell `data`
    * payload — ref DwdTradeOrderDetail.java:34-46): extract a typed field
    * from the JSON `props` column and aggregate. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_count"),
        max(col("k")).as("k_max"))

  /** J8 analog (interval join `between(-5s,+5s)` — ref
    * DataStreamJoinTest.java:48-60): purchases within 5 s after a click
    * by the same user (1 h window on this sparse synthetic stream; the
    * reference uses ±5 s on dense streams). Equi-join on user_id + µs
    * range predicate; at
    * scale this shuffles once on user_id, range filter applied post-join. */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("tsu", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsu").as("c_tsu"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tsu").as("p_tsu"))
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("p_tsu") >= col("c_tsu") &&
        col("p_tsu") <= col("c_tsu") + 3600L * 1000000L)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("pair_count"))
  }

  /** A2 analog (keyless windowAll — ref DwsUserUserRegisterWindow
    * .java:68-88): global 10 s tumbling totals. Keyless groupBy(window)
    * still does parallel partial aggregation — better than Flink's
    * parallelism-1 windowAll, same results. */
  def globalWindowTotals(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("event_count"),
        countDistinct(col("user_id")).as("active_users"),
        dsum(col("value"), 6).as("total_value"))
      .select(col("window.start").as("wstart"), col("event_count"),
        col("active_users"), col("total_value"))

  /** Range (interval-containment) join, granule-bucketed — the operator
    * the preference order resolves by COMPOSITION (brief: "as-of join,
    * range join"): shipments joined to the 7-day promo windows
    * containing them. A naive containment predicate plans as a
    * nested-loop join; instead each interval explodes to its covered DAY
    * granules and each point maps to its day, so candidates EQUI-join on
    * the granule and the exact half-open containment filter runs only
    * within matching days — one shuffle, linear in intervals × span +
    * points, never points × intervals. Granule width trades explode
    * factor vs candidate precision (same knob as LSH band width). */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("promo_id"),
        col("o_orderdate").as("start_ts"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("end_ts"))
    val granules = iv.select(col("promo_id"), col("start_ts"), col("end_ts"),
      explode(sequence(to_date(col("start_ts")), to_date(col("end_ts"))))
        .as("day"))
    val points = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"),
        to_date(col("l_shipdate")).as("day"))
    points.join(granules, Seq("day"))
      .filter(col("l_shipdate") >= col("start_ts") &&
        col("l_shipdate") < col("end_ts"))
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_shipments"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** Event-time SCD2 as-of join — the event-time upgrade of the
    * reference's `FOR SYSTEM_TIME AS OF` processing-time lookup (ref
    * DwdTradeCartAdd.java:92-94, covered in processing-time form by
    * q84/q85): each lineitem fact resolves against the dim VERSION that
    * was valid at the fact's event time, the standard late-arriving-fact
    * pattern. Version history comes from [[graft.dwd.DwdPack.scd2History]]
    * (valid_from/valid_to half-open intervals, open-ended current rows).
    *
    * Shape: union facts and versions on (dim_id, ts) and fill the latest
    * version attribute forward with `last(ignoreNulls)` over a
    * (dim_id, ts, kind) sort — ONE shuffle + sort, zero row inflation,
    * and open-ended current versions need no special casing. This beats
    * both the q45 join+max composition (which inflates by the number of
    * earlier versions per fact before aggregating them away) and the
    * q100 granule-explode shape (SCD2 validity spans are long and the
    * current version is unbounded, so a granule explode has an unbounded
    * factor). Version rows sort BEFORE fact rows at equal ts (kind 0<1),
    * giving the half-open [valid_from, valid_to) semantics. At 100 TB
    * the sort key is (dim_id, ts) — the same partitioning a sort-merge
    * join would need, with per-dim skew handled by AQE. */
  def scd2AsOf(s: SparkSession, d: String): DataFrame = {
    val versions = graft.dwd.DwdPack.scd2History(s, d)
      .select(col("dim_id"), col("valid_from").as("ts"),
        lit(0).as("kind"), col("status"),
        lit(null).cast("decimal(12,2)").as("qty"))
    val facts = Tables.lineitem(s, d)
      .select((col("l_partkey") % 1000).as("dim_id"),
        col("l_orderkey").as("ts"),
        lit(1).as("kind"), lit(null).cast("string").as("status"),
        dec2(col("l_quantity")).as("qty"))
    val w = Window.partitionBy(col("dim_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(facts)
      .withColumn("eff_status", last(col("status"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("eff_status").isNotNull)
      .groupBy(col("eff_status").as("status"))
      .agg(count(lit(1)).as("n_facts"),
        sum(col("qty")).cast("double").as("sum_qty"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_range_join" -> rangeJoin,
    "q109_scd2_asof" -> scd2AsOf,
    "q13_window_tumble_10s" -> windowTumble,
    "q56_global_window" -> globalWindowTotals,
    "q14_daily_active_users" -> dailyActiveUsers,
    "q15_time_buckets" -> timeBuckets,
    "q16_dedup_keep_first" -> dedupKeepFirst,
    "q17_dedup_keep_latest" -> dedupKeepLatest,
    "q18_returning_users" -> returningUsers,
    "q19_sessionize_bounce" -> sessionizeBounce,
    "q20_is_new_repair" -> isNewRepair,
    "q21_json_extract" -> jsonExtract,
    "q22_interval_join" -> intervalJoin)

  /** DuckDB twins. `ev` CTE mirrors Spark's ns→µs truncation. */
  private val evCte =
    """WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
      |  user_id, event_type, value, props FROM events)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q100_range_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey AS promo_id, o_orderdate AS start_ts,
        |    o_orderdate + INTERVAL 7 DAY AS end_ts
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT promo_id, COUNT(*) AS n_shipments,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN iv
        |  ON l_shipdate >= start_ts AND l_shipdate < end_ts
        |GROUP BY promo_id""".stripMargin,
    // DuckDB's native ASOF JOIN picks the latest version with
    // valid_from <= ts per fact — independent semantics for the same
    // event-time SCD2 resolution the Spark fill-forward computes.
    "q109_scd2_asof" ->
      """WITH versions AS (
        |  SELECT o_orderkey % 1000 AS dim_id, o_orderkey AS valid_from,
        |    o_orderstatus AS status
        |  FROM orders),
        |facts AS (
        |  SELECT l_partkey % 1000 AS dim_id, l_orderkey AS ts, l_quantity
        |  FROM lineitem)
        |SELECT v.status AS status, COUNT(*) AS n_facts,
        |  CAST(SUM(CAST(f.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM facts f ASOF JOIN versions v
        |  ON f.dim_id = v.dim_id AND f.ts >= v.valid_from
        |GROUP BY v.status""".stripMargin,
    "q56_global_window" -> s"""$evCte
      |SELECT time_bucket(INTERVAL '10 seconds', ts) AS wstart,
      |  COUNT(*) AS event_count,
      |  COUNT(DISTINCT user_id) AS active_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM ev GROUP BY 1""".stripMargin,
    "q13_window_tumble_10s" -> s"""$evCte
      |SELECT time_bucket(INTERVAL '10 seconds', ts) AS wstart, event_type,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM ev GROUP BY 1, 2""".stripMargin,
    "q14_daily_active_users" -> s"""$evCte
      |SELECT CAST(ts AS DATE) AS event_date,
      |  COUNT(DISTINCT user_id) AS active_users, COUNT(*) AS event_count
      |FROM ev GROUP BY 1""".stripMargin,
    "q15_time_buckets" -> s"""$evCte
      |SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS date_id,
      |  CAST(hour(ts) AS BIGINT) AS hour_id,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM ev GROUP BY 1, 2""".stripMargin,
    "q16_dedup_keep_first" -> s"""$evCte
      |SELECT user_id, event_type AS first_type, ts AS first_ts
      |FROM (SELECT *, row_number() OVER
      |    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn FROM ev)
      |WHERE rn = 1""".stripMargin,
    "q17_dedup_keep_latest" -> s"""$evCte
      |SELECT user_id, event_type AS last_type, ts AS last_ts
      |FROM (SELECT *, row_number() OVER
      |    (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
      |WHERE rn = 1""".stripMargin,
    "q18_returning_users" -> s"""$evCte,
      |days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date FROM ev),
      |lagged AS (SELECT user_id, event_date,
      |  lag(event_date) OVER (PARTITION BY user_id ORDER BY event_date) AS prev_date
      |  FROM days)
      |SELECT event_date, COUNT(DISTINCT user_id) AS back_users
      |FROM lagged
      |WHERE prev_date IS NOT NULL AND date_diff('day', prev_date, event_date) >= 2
      |GROUP BY event_date""".stripMargin,
    "q19_sessionize_bounce" -> s"""$evCte,
      |base AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM ev),
      |lagged AS (SELECT *, lag(tsu) OVER
      |    (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev_tsu FROM base),
      |flagged AS (SELECT *, CASE WHEN prev_tsu IS NULL
      |    OR tsu - prev_tsu > 600 * 1000000 THEN 1 ELSE 0 END AS new_session FROM lagged),
      |numbered AS (SELECT *, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
      |     ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged),
      |sessions AS (SELECT user_id, session_seq, COUNT(*) AS session_events,
      |    MAX(tsu) - MIN(tsu) AS session_dur_us
      |  FROM numbered GROUP BY user_id, session_seq)
      |SELECT user_id, COUNT(*) AS session_count,
      |  CAST(SUM(CASE WHEN session_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounce_count,
      |  CAST(SUM(session_dur_us) AS BIGINT) AS total_dur_us
      |FROM sessions GROUP BY user_id""".stripMargin,
    "q20_is_new_repair" -> s"""$evCte,
      |base AS (SELECT user_id, CAST(ts AS DATE) AS event_date FROM ev),
      |firsts AS (SELECT *, MIN(event_date) OVER (PARTITION BY user_id) AS first_date
      |  FROM base)
      |SELECT event_date,
      |  CAST(SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END) AS BIGINT)
      |    AS new_user_events,
      |  CAST(SUM(CASE WHEN event_date <> first_date THEN 1 ELSE 0 END) AS BIGINT)
      |    AS old_user_events
      |FROM firsts GROUP BY event_date""".stripMargin,
    "q21_json_extract" -> s"""$evCte
      |SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  COUNT(json_extract_string(props, '$$.k')) AS k_count,
      |  CAST(MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_max
      |FROM ev GROUP BY event_type""".stripMargin,
    "q22_interval_join" -> s"""$evCte,
      |base AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM ev),
      |clicks AS (SELECT user_id AS c_user, tsu AS c_tsu FROM base
      |  WHERE event_type = 'click'),
      |purchases AS (SELECT user_id AS p_user, tsu AS p_tsu FROM base
      |  WHERE event_type = 'purchase')
      |SELECT c_user AS user_id, COUNT(*) AS pair_count
      |FROM clicks JOIN purchases ON c_user = p_user
      |  AND p_tsu >= c_tsu AND p_tsu <= c_tsu + CAST(3600000000 AS BIGINT)
      |GROUP BY c_user""".stripMargin)
}

/** Sliding + session windows — the two remaining window kinds beyond
  * tumbling (the reference only uses 10 s tumbling; a complete engine
  * exposes all three). The session-window oracle reconstructs sessions
  * from first principles (lag + cumulative sum), proving Spark's native
  * `session_window` matches the manual state-machine semantics. */
object WindowKinds extends graft.QueryPack {
  import graft.Num._
  import org.apache.spark.sql.expressions.{Window => W}

  /** 30 s windows sliding every 10 s: each event lands in 3 windows. */
  def slidingWindow(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(window(col("ts"), "30 seconds", "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("event_count"))

  /** Native session windows: 10-minute inactivity gap per user. Session
    * windows are `[ts, ts+gap)`, so a gap of EXACTLY the duration starts
    * a new session — the oracle uses `>=` to match. */
  def sessionWindow(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("session_events"),
        dsum(col("value"), 6).as("session_value"))
      .select(col("session_window.start").as("sstart"), col("user_id"),
        col("session_events"), col("session_value"))

  /** Per-event session LABELING (vs q60's session aggregates): every
    * event gets its user's session ordinal — lag to flag gap-breaks,
    * cumulative sum to number them. The labeled stream is what feeds
    * per-session funnels/attribution downstream; one shuffle on user_id,
    * in-partition sort (same cost class as any window function). */
  def sessionLabels(s: SparkSession, d: String): DataFrame = {
    val byUser = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    graft.Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >=
            600L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("event_id"), col("user_id"), col("session_seq"))
  }

  /** Cohort retention: users grouped by FIRST-active date, counted again
    * at each day offset they return — the product-analytics retention
    * matrix. Two shuffles (first-seen per user, then cohort × offset);
    * at scale the first-seen frame is a tiny per-user dim reused across
    * reports. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q59_sliding_window" -> slidingWindow,
    "q60_session_window" -> sessionWindow,
    "q101_session_labels" -> sessionLabels,
    "q102_cohort_retention" -> cohortRetention)

  val oracle: Map[String, String] = Map(
    // each event contributes to 3 slide-aligned windows: k = 0,1,2
    "q59_sliding_window" ->
      """WITH ev AS (SELECT date_trunc('microseconds', ts) AS ts, event_type
        |  FROM events),
        |expanded AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL '10 seconds', ts)
        |      - CAST(unnest([0, 1, 2]) * 10 AS BIGINT) * INTERVAL '1 second'
        |      AS wstart,
        |    ts
        |  FROM ev)
        |SELECT wstart, event_type, COUNT(*) AS event_count
        |FROM expanded
        |WHERE ts >= wstart AND ts < wstart + INTERVAL '30 seconds'
        |GROUP BY wstart, event_type""".stripMargin,
    // first-principles sessions: gap > 10 min starts a new session; the
    // session window starts at its first event
    "q60_session_window" ->
      """WITH ev AS (SELECT user_id, event_id, value,
        |    date_trunc('microseconds', ts) AS ts FROM events),
        |lagged AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_ts FROM ev),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR ts - prev_ts >= INTERVAL '10 minutes' THEN 1 ELSE 0 END
        |    AS new_session FROM lagged),
        |numbered AS (
        |  SELECT *, SUM(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged)
        |SELECT MIN(ts) AS sstart, user_id,
        |  COUNT(*) AS session_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        |FROM numbered GROUP BY user_id, session_seq""".stripMargin,
    "q101_session_labels" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts FROM events),
        |lagged AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_ts FROM ev),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR ts - prev_ts >= INTERVAL '10 minutes' THEN 1 ELSE 0 END
        |    AS new_session FROM lagged)
        |SELECT event_id, user_id,
        |  CAST(SUM(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM flagged""".stripMargin,
    "q102_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(date_trunc('microseconds', ts) AS DATE) AS day FROM events),
        |first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1),
        |offsets AS (
        |  SELECT DISTINCT ev.user_id, cohort_day,
        |    CAST(day - cohort_day AS BIGINT) AS day_offset
        |  FROM ev JOIN first ON ev.user_id = first.user_id)
        |SELECT cohort_day, day_offset,
        |  COUNT(DISTINCT user_id) AS active_users
        |FROM offsets GROUP BY 1, 2""".stripMargin)
}
