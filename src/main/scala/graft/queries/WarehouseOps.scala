package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-operations pack:
  *
  *  - q219: multi-granularity time rollup — revenue at day, ISO-week
  *    and month granularity in ONE scan via GROUPING SETS over derived
  *    time columns (an Expand-based plan: one shuffle serves all three
  *    rollups; the alternative is three scans). Week = the epoch-day
  *    div 7 bucket anchored to Monday 1970-01-05 ((days+3) div 7),
  *    month = year·100+month — both pure integer derivations shared
  *    verbatim with the oracle.
  *  - q220: column-encoding audit — per-column distinct/row ratios of
  *    the lineitem fact (the dictionary-encoding decision a columnar
  *    writer makes), one row per audited column. COUNT(DISTINCT) over
  *    a UNION ALL of per-column projections would rescan; instead each
  *    column gets its own map-side distinct aggregate and the tiny
  *    results union.
  *  - q221: native session windows — Spark's `session_window(ts, gap)`
  *    (merging state operator in streaming, a first-class grouping in
  *    batch) against the classic gaps-and-islands SQL restatement:
  *    a new session starts when the gap EXCEEDS 30 min — a gap of
  *    exactly the timeout MERGES (Spark merges sessions whose start
  *    touches the previous end; pinned empirically in the spec — the
  *    oracle mirrors with a strict `>`).
  *  - q222: exact 10% trimmed mean of order value cents per priority —
  *    counts-of-counts order statistics (the q161 device): drop the
  *    exact bottom/top decile BY RANK (ties split by rank position,
  *    not value), integer mean of the middle 80%.
  *
  * Scale: q219 one Expand + one shuffle; q220 per-column map-side
  * partial distincts; q221's session assembly is per-user state (the
  * streaming twin is exactly Structured Streaming's session window
  * operator); q222 windows run on per-priority value histograms.
  */
object WarehouseOps extends graft.QueryPack {

  /** q219: (granularity, bucket) → exact revenue cents + order count. */
  def timeRollup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("day"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
      .withColumn("week", expr("(day + 3) div 7"))
      .withColumn("month",
        expr("year(date_add(DATE '1970-01-01', CAST(day AS INT))) * 100" +
          " + month(date_add(DATE '1970-01-01', CAST(day AS INT)))"))
    base.createOrReplaceTempView("graft_q219_base")
    s.sql(
      """SELECT grouping(day) * 4 + grouping(week) * 2 + grouping(month)
        |    AS gid,
        |  day, week, month, COUNT(*) AS n_orders,
        |  SUM(cents) AS revenue_cents
        |FROM graft_q219_base
        |GROUP BY day, week, month
        |  GROUPING SETS ((day), (week), (month))
        |ORDER BY gid, day, week, month""".stripMargin)
  }

  /** q220: one row per audited lineitem column. */
  def encodingAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def audit(c: String): DataFrame =
      li.agg(count(lit(1)).as("n_rows"),
          count_distinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"),
          col("n_distinct"),
          expr("n_distinct * 1000000 div n_rows").as("distinct_ppm"),
          (col("n_distinct") * 100 <= col("n_rows")).as("dict_encode"))
    Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_partkey",
        "l_orderkey", "l_quantity")
      .map(audit).reduce(_ unionAll _)
      .orderBy(col("column_name"))
  }

  private val GapMin = 30L

  /** q221: session census per user via the NATIVE session_window. */
  def sessionWindow(s: SparkSession, d: String): DataFrame = {
    val sess = Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$GapMin minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .as("cents"))
    sess.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("cents")).as("total_cents"))
      .orderBy(col("user_id"))
  }

  /** q222: 10%-trimmed mean of order cents per priority, exact. */
  def trimmedMean(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("pri"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val vc = o.groupBy(col("pri"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_hi", sum(col("c")).over(
        Window.partitionBy(col("pri")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_lo", col("cum_hi") - col("c"))
    val n = o.groupBy(col("pri")).agg(count(lit(1)).as("n"))
    // ranks (cum_lo, cum_hi] of this value; keep rank r with
    // lo < r <= n - lo where lo = n div 10 — per-value kept multiplicity
    // = overlap of the two intervals
    vc.join(broadcast(n), "pri")
      .withColumn("lo", expr("n div 10"))
      .withColumn("kept",
        expr("greatest(0L, least(cum_hi, n - lo) - greatest(cum_lo, lo))"))
      .groupBy(col("pri"))
      .agg(sum(col("kept")).as("n_kept"),
        sum(col("kept") * col("cents")).as("kept_cents"))
      .select(col("pri"), col("n_kept"),
        expr("kept_cents div n_kept").as("trimmed_mean_cents"))
      .orderBy(col("pri"))
  }

  /** q228: week-over-week growth — the BI report on q219's weekly
    * frame: revenue per Monday-anchored epoch week with the ppm delta
    * vs the previous PRESENT week (gaps compare against the last
    * observed week, the standard dashboard convention). Window over
    * the weeks frame only. */
  def wowGrowth(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables.orders(s, d).select(
        expr("(unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
          " div 86400000000 + 3) div 7").as("week"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    weekly
      .withColumn("prev_cents", lag(col("cents"), 1).over(
        Window.orderBy(col("week"))))
      .withColumn("growth_ppm",
        expr("(cents - prev_cents) * 1000000 div prev_cents"))
      .orderBy(col("week"))
  }

  /** q234: 2-D Pareto skyline of parts — cheapest-for-the-size
    * frontier: a part survives iff no other part is ≤ price AND
    * ≥ size with one strict. Computed by two part-dim-scale windows
    * (running max size over the strictly-cheaper RANGE prefix + the
    * equal-price group max) — the oracle is the O(n²) NOT-EXISTS
    * domination statement, so the hash match proves the windowed scan
    * ≡ the definition. Prices in cents: no float compare drift. */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(col("p_partkey"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("price_cents"), col("p_size").cast("long").as("size"))
    // dominated iff ∃y with (y.price < x.price ∧ y.size ≥ x.size) or
    // (y.price = x.price ∧ y.size > x.size) or (y.price < ∧ y.size >
    // — subsumed). Two windows express exactly that: the value-RANGE
    // frame sees all STRICTLY cheaper rows; the price partition sees
    // the equal-price group. Equal (price, size) duplicates all
    // survive (domination needs a strict coordinate).
    p.withColumn("max_sz_cheaper",
        coalesce(max(col("size")).over(
          Window.orderBy(col("price_cents"))
            .rangeBetween(Window.unboundedPreceding, -1)), lit(-1L)))
      .withColumn("grp_max_sz",
        max(col("size")).over(Window.partitionBy(col("price_cents"))))
      .filter(col("size") > col("max_sz_cheaper") &&
        col("size") === col("grp_max_sz"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("size").desc, col("p_partkey"))
  }

  /** q235: exact MODE per group with a deterministic smallest-value
    * tie-break, as a hash-aggregable packed argmax (the q156 device:
    * max(cnt·2³² − dollars) — no per-group sort, no collect, bounded
    * aggregation state). The mode of balance DOLLARS per segment
    * (dollar quantization gives the mode a meaningful support). */
  def modePerGroup(s: SparkSession, d: String): DataFrame = {
    // floor BEFORE the integer cast: DuckDB rounds decimal→int casts
    // while Spark truncates (the NOTES_r7 trap); floor agrees on both
    val c = Tables.customer(s, d).select(col("c_mktsegment").as("seg"),
      expr("CAST(floor(CAST(c_acctbal AS DECIMAL(12,2))) AS BIGINT)")
        .as("dollars"))
    // dollars ∈ [−1000, 10000] — shift to non-negative for packing
    c.groupBy(col("seg"), col("dollars"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("seg"))
      .agg(max(expr("cnt * 4294967296L + (4294967295L - (dollars + 1000))"))
        .as("packed"))
      .select(col("seg"),
        expr("packed div 4294967296L").as("mode_count"),
        expr("4294967295L - (packed % 4294967296L) - 1000")
          .as("mode_dollars"))
      .orderBy(col("seg"))
  }

  /** q236: per-producer sequence-continuity audit — the Kafka-producer
    * / CDC-offset completeness check: within each user's event stream,
    * gaps in the id sequence (lead − id > 1) counted and sized per
    * user. Windows partition by user (per-user state only, the scale-
    * correct form of an id audit — a GLOBAL dense-id check is a single
    * sorted scan and was verified trivially empty on this data). */
  def idGaps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("nxt", lead(col("event_id"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("nxt") - col("event_id") > 1, 1L).otherwise(0L))
          .as("n_gaps"),
        sum(when(col("nxt") - col("event_id") > 1,
          col("nxt") - col("event_id") - 1).otherwise(0L))
          .as("missing_total"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q234_skyline" -> skyline,
    "q235_mode_per_group" -> modePerGroup,
    "q236_id_gaps" -> idGaps,
    "q228_wow_growth" -> wowGrowth,
    "q219_time_rollup" -> timeRollup,
    "q220_encoding_audit" -> encodingAudit,
    "q221_session_window" -> sessionWindow,
    "q222_trimmed_mean" -> trimmedMean)

  val oracle: Map[String, String] = Map(
    "q234_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS price_cents,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT p_partkey, price_cents, size FROM p x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p y
        |  WHERE y.price_cents <= x.price_cents AND y.size >= x.size
        |    AND (y.price_cents < x.price_cents OR y.size > x.size))
        |ORDER BY price_cents, size DESC, p_partkey""".stripMargin,
    "q235_mode_per_group" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(floor(CAST(c_acctbal AS DECIMAL(12,2))) AS BIGINT)
        |      AS dollars
        |  FROM customer),
        |vc AS (
        |  SELECT seg, dollars, COUNT(*) AS cnt
        |  FROM c GROUP BY seg, dollars),
        |rk AS (
        |  SELECT seg, dollars, cnt,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY cnt DESC, dollars) AS rn
        |  FROM vc)
        |SELECT seg, CAST(cnt AS BIGINT) AS mode_count,
        |  dollars AS mode_dollars
        |FROM rk WHERE rn = 1 ORDER BY seg""".stripMargin,
    "q236_id_gaps" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, event_id FROM events),
        |g AS (
        |  SELECT user_id, event_id,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS nxt
        |  FROM ev)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN nxt - event_id > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gaps,
        |  CAST(SUM(CASE WHEN nxt - event_id > 1 THEN nxt - event_id - 1
        |    ELSE 0 END) AS BIGINT) AS missing_total
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q228_wow_growth" ->
      """WITH weekly AS (
        |  SELECT (epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 + 3) // 7 AS week,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT week, n_orders, cents,
        |  lag(cents) OVER (ORDER BY week) AS prev_cents,
        |  CAST((cents - lag(cents) OVER (ORDER BY week)) * 1000000
        |    // lag(cents) OVER (ORDER BY week) AS BIGINT) AS growth_ppm
        |FROM weekly ORDER BY week""".stripMargin,
    "q219_time_rollup" ->
      """WITH base AS (
        |  SELECT epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |b2 AS (
        |  SELECT day, (day + 3) // 7 AS week,
        |    year(DATE '1970-01-01' + to_days(CAST(day AS INT))) * 100
        |      + month(DATE '1970-01-01' + to_days(CAST(day AS INT)))
        |      AS month,
        |    cents
        |  FROM base)
        |SELECT GROUPING(day) * 4 + GROUPING(week) * 2 + GROUPING(month)
        |    AS gid,
        |  day, week, month, COUNT(*) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM b2
        |GROUP BY GROUPING SETS ((day), (week), (month))
        |ORDER BY gid, day, week, month""".stripMargin,
    "q220_encoding_audit" ->
      """SELECT * FROM (
        |  SELECT 'l_returnflag' AS column_name, COUNT(*) AS n_rows,
        |    COUNT(DISTINCT l_returnflag) AS n_distinct,
        |    COUNT(DISTINCT l_returnflag) * 1000000 // COUNT(*)
        |      AS distinct_ppm,
        |    COUNT(DISTINCT l_returnflag) * 100 <= COUNT(*) AS dict_encode
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', COUNT(*), COUNT(DISTINCT l_linestatus),
        |    COUNT(DISTINCT l_linestatus) * 1000000 // COUNT(*),
        |    COUNT(DISTINCT l_linestatus) * 100 <= COUNT(*)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', COUNT(*), COUNT(DISTINCT l_suppkey),
        |    COUNT(DISTINCT l_suppkey) * 1000000 // COUNT(*),
        |    COUNT(DISTINCT l_suppkey) * 100 <= COUNT(*)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', COUNT(*), COUNT(DISTINCT l_partkey),
        |    COUNT(DISTINCT l_partkey) * 1000000 // COUNT(*),
        |    COUNT(DISTINCT l_partkey) * 100 <= COUNT(*)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey', COUNT(*), COUNT(DISTINCT l_orderkey),
        |    COUNT(DISTINCT l_orderkey) * 1000000 // COUNT(*),
        |    COUNT(DISTINCT l_orderkey) * 100 <= COUNT(*)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(*), COUNT(DISTINCT l_quantity),
        |    COUNT(DISTINCT l_quantity) * 1000000 // COUNT(*),
        |    COUNT(DISTINCT l_quantity) * 100 <= COUNT(*)
        |  FROM lineitem)
        |ORDER BY column_name""".stripMargin,
    "q221_session_window" ->
      s"""WITH ev AS (
         |  SELECT user_id,
         |    epoch_us(date_trunc('microseconds', ts)) AS tsu,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM events),
         |marked AS (
         |  SELECT user_id, tsu, cents,
         |    CASE WHEN tsu - lag(tsu) OVER (PARTITION BY user_id
         |        ORDER BY tsu) > ${GapMin * 60000000L}
         |      THEN 1 ELSE 0 END AS new_sess
         |  FROM ev),
         |sessed AS (
         |  SELECT user_id, cents,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS sess_id
         |  FROM marked),
         |sess AS (
         |  SELECT user_id, sess_id, COUNT(*) AS n_events,
         |    CAST(SUM(cents) AS BIGINT) AS cents
         |  FROM sessed GROUP BY user_id, sess_id)
         |SELECT user_id, COUNT(*) AS n_sessions,
         |  CAST(MAX(n_events) AS BIGINT) AS max_session_events,
         |  CAST(SUM(cents) AS BIGINT) AS total_cents
         |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q222_trimmed_mean" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |vc AS (
        |  SELECT pri, cents, COUNT(*) AS c FROM o GROUP BY pri, cents),
        |cum AS (
        |  SELECT pri, cents, c,
        |    CAST(SUM(c) OVER (PARTITION BY pri ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_hi
        |  FROM vc),
        |n AS (SELECT pri, COUNT(*) AS n FROM o GROUP BY pri),
        |kept AS (
        |  SELECT cum.pri, cents,
        |    GREATEST(0, LEAST(cum_hi, n - n // 10)
        |      - GREATEST(cum_hi - c, n // 10)) AS kept
        |  FROM cum JOIN n ON cum.pri = n.pri)
        |SELECT pri, CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(kept * cents) // SUM(kept) AS BIGINT)
        |    AS trimmed_mean_cents
        |FROM kept GROUP BY pri ORDER BY pri""".stripMargin)
}
