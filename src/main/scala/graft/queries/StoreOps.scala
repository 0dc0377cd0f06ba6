package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-placement and lifecycle operators:
  *
  *  - q163: rendezvous (highest-random-weight) sharding audit — the
  *    placement scheme whose resize property ("only 1/(n+1) of keys
  *    move, all to the new shard") this query states AND measures.
  *  - q165: TTL retention sweep — per-event-class purge accounting
  *    against the newest-event anchor (the lifecycle pass a 100 TB
  *    event store runs nightly).
  *  - q166: per-user activity streaks (gaps-and-islands) — consecutive
  *    active-day runs, the engagement statistic.
  *  - q168: DAU / trailing-7-day WAU / stickiness via a bounded
  *    fan-out (the distributed rolling-distinct shape).
  *  - q173: first-order Markov transition matrix over per-user event
  *    sequences, integer row-stochastic ppm.
  *
  * Ref: the reference routes dim writes to Phoenix tables by a config
  * table (DimSinkFunction.java); rendezvous hashing is the
  * shard-placement generalization. Its TTL'd ValueStates
  * (DwdTrafficUniqueVisitorDetail.java:75-90) are the per-key version
  * of the q165 retention decision.
  *
  * Scale (100 TB): q163's assignment is a pure projection — the
  * 64-way hash fan-out happens inside one `transform` over a literal
  * sequence (no explode, no shuffle; 64 codegen'd polynomial hashes
  * per row), and only the 64-row shard census aggregates. q165 is one
  * broadcast of a 1-row anchor plus a map-side classified aggregate.
  * q166's windows partition by user_id — per-user state only, the
  * scale-safe window class.
  */
object StoreOps extends graft.QueryPack {

  private val Shards = 64

  /** Engine-exact per-(key, shard) weight — quadratic-residue mixing
    * over the Mersenne modulus 2³¹−1, stated in portable BIGINT
    * arithmetic: u = (key·1103515245 + i·40503 + 12345) mod M, weight
    * = u² mod M. The SQUARE is load-bearing: any affine-in-i hash
    * (including the corpus polynomial hash of a "key:shard:i" string,
    * whose Horner form is prefix·Bᵏ + suffix) makes the argmax
    * near-constant across keys — same-length shard suffixes share the
    * prefix term, so one shard wins everything (observed: 500 docs →
    * 2 shards). Squaring mod M wraps each weight ~u²/M times, which
    * decorrelates the i-ordering per key (measured: 64/64 shards
    * occupied, Poisson-plausible 1–14 spread). All intermediates
    * bound by 2³¹·1103515245 < 2⁶² for ANY key after the key%M
    * pre-reduction — no overflow at 100 TB ids. */
  private def hrwArray(n: Int): String = {
    val u = "(((doc_id % 2147483647L) * 1103515245L + i * 40503L + 12345L)" +
      " % 2147483647L)"
    s"transform(sequence(0, ${n - 1}), i -> ($u * $u) % 2147483647L)"
  }

  /** q163: (shard, n_docs, moved_docs) — HRW assignment at 64 shards,
    * plus how many of each shard's docs would move if a 65th shard
    * joined (rendezvous guarantees they ALL move to the new shard —
    * pinned in StoreOpsSpec; ties break to the smallest shard index,
    * mirrored in the oracle's ORDER BY h DESC, i ASC). */
  def shardAssign(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).select(col("doc_id"))
      .withColumn("hs", expr(hrwArray(Shards)))
      .withColumn("hs65", expr(hrwArray(Shards + 1)))
      .select(col("doc_id"),
        (expr("array_position(hs, array_max(hs))") - 1).as("shard"),
        (expr("array_position(hs65, array_max(hs65))") - 1).as("shard65"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard65") =!= col("shard"), 1L).otherwise(0L))
          .as("moved_docs"))
  }

  /** Retention policy, stated once for both engines. */
  private val RetentionDays = Seq(
    "view" -> 7L, "click" -> 14L, "error" -> 30L,
    "purchase" -> 365L, "signup" -> 365L)

  /** q165: per-event-type purge accounting against the newest event:
    * rows older than the class retention are purge candidates.
    * Output: (event_type, n_total, n_purge, purge_ppm, first_kept_dt). */
  def ttlSweep(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), expr("unix_micros(ts)").as("tsu"))
    val anchor = ev.agg(max(col("tsu")).as("anchor_us"))
    val ret = RetentionDays.foldLeft(lit(null).cast("long")) {
      case (acc, (t, days)) => when(col("event_type") === t, days).otherwise(acc)
    }
    ev.crossJoin(broadcast(anchor))
      .withColumn("cutoff_us", col("anchor_us") - ret * 86400000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("tsu") < col("cutoff_us"), 1L).otherwise(0L))
          .as("n_purge"),
        min(when(col("tsu") >= col("cutoff_us"),
          to_date(timestamp_micros(col("tsu"))))).as("first_kept_dt"))
      .withColumn("purge_ppm", expr("(n_purge * 1000000L) div n_total"))
      .select("event_type", "n_total", "n_purge", "purge_ppm", "first_kept_dt")
  }

  /** q166: per-user consecutive-active-day streaks via the
    * day_number − row_number island key (windows partition by user —
    * per-user state only). Output: (user_id, n_active_days, n_streaks,
    * longest_streak). */
  def activityStreaks(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_num"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
    val islands = days
      .withColumn("island", col("day_num") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** q168: DAU / trailing-7-day WAU / stickiness per active day. Each
    * distinct (user, day) fans out to the ≤7 window-end days it can
    * serve (a bounded explode — the standard distributed rolling-
    * distinct shape; no window function ever sees more than one
    * user-day), then one distinct + one count per window day; only
    * days with actual traffic are reported. */
  def rollingWau(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_num"))
      .distinct()
    val present = days.select(col("day_num").as("w")).distinct()
    val dau = days.groupBy(col("day_num").as("w"))
      .agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"),
        explode(expr("sequence(day_num, day_num + 6)")).as("w"))
      .distinct()
      .join(present, Seq("w"), "left_semi")
      .groupBy(col("w")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("w"))
      .select(expr("date_add(DATE '1970-01-01', CAST(w AS INT))").as("dt"),
        col("dau"), col("wau"),
        expr("(dau * 1000000L) div wau").as("stickiness_ppm"))
  }

  /** q173: first-order Markov transition matrix over per-user event
    * sequences — (from_type, to_type, n, p_ppm) with integer
    * probabilities. Ordering inside a user is (ts, event_id) — the
    * unique id breaks timestamp ties so both engines sequence
    * identically. Windows partition by user: per-user state only. */
  def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000L) div tot").as("p_ppm"))
  }

  /** q178: two-sample Kolmogorov–Smirnov drift test between the first
    * and second halves of the event stream (split at min day + 15) —
    * the distribution-monitoring pass a production pipeline runs on
    * every new window. Engine-exact: the statistic is computed as the
    * CROSS-MULTIPLIED integer max |cum1·n2 − cum2·n1| (never a float
    * CDF), reported in ppm of n1·n2, with the smallest value
    * attaining it. The cumulative window runs over the distinct-value
    * frame (the q161/q169 device); for a value domain too large to
    * hold, pre-bin — the statistic degrades gracefully, noted here. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("value").as("v"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_num"))
    val cut = ev.agg((min(col("day_num")) + 15).as("cut"))
    val counts = ev.crossJoin(broadcast(cut))
      .select(col("v"), when(col("day_num") < col("cut"), 1L).otherwise(0L)
        .as("h1"))
      .groupBy(col("v"))
      .agg(sum(col("h1")).as("c1"), sum(lit(1L) - col("h1")).as("c2"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
    val ns = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val dd = cums.crossJoin(broadcast(ns))
      .select(col("v"), col("n1"), col("n2"),
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dnum"))
    val mx = dd.agg(max(col("dnum")).as("mx"))
    dd.crossJoin(broadcast(mx))
      .filter(col("dnum") === col("mx"))
      .groupBy(col("n1"), col("n2"), col("mx"))
      .agg(min(col("v")).as("at_value"))
      .select(col("n1"), col("n2"),
        expr("(mx * 1000000L) div (n1 * n2)").as("ks_ppm"),
        col("at_value"))
  }

  /** q183: out-of-order census — the data-driven way to CHOOSE a
    * watermark delay (the reference hard-codes 2–5 s ones;
    * §2.9's operators consume them): per event_type, how many events
    * arrive with an event time older than the running maximum (in
    * event_id arrival order), the worst lateness, and the total —
    * a `withWatermark` delay at max_delay_us retains everything,
    * and the n_late/n ratio says what a tighter bound drops.
    * Windows partition by type and order by the unique event_id —
    * per-type state only, deterministic in both engines. */
  def disorderCensus(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
      .withColumn("prev_max", max(col("tsu")).over(w))
      .select(col("event_type"),
        when(col("prev_max") > col("tsu"), col("prev_max") - col("tsu"))
          .otherwise(0L).as("delay"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("delay") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("delay")).as("max_delay_us"),
        sum(col("delay")).as("sum_delay_us"))
      .withColumn("late_ppm", expr("(n_late * 1000000L) div n_events"))
  }

  /** q341: shard content checksums — the dataset-versioning manifest:
    * per doc_id-mod-64 shard, row count plus TWO order-independent
    * content checks (XOR of the 60-bit md5 prefix, and the sum of its
    * mod-p residues) over md5(text). Diffing two dataset versions then
    * touches only shard rows, not documents (the q160 snapshot diff
    * at manifest granularity — the WebDataset/content-addressable
    * layout audit). Both checks are commutative ⇒ engine- and
    * partitioning-invariant; md5 is identical in Spark and DuckDB,
    * and the 15-hex-char prefix fits BIGINT exactly (2⁶⁰). One
    * map-side-combinable aggregate; 64 rows at any corpus size. */
  def shardChecksums(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(pmod(col("doc_id"), lit(64L)).as("shard"),
        expr("CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("xor_check"),
        sum(expr("h % 1000000007L")).as("sum_check"))
      .orderBy(col("shard"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q341_shard_checksums" -> shardChecksums,
    "q163_shard_assign" -> shardAssign,
    "q173_transition_matrix" -> transitionMatrix,
    "q178_ks_drift" -> ksDrift,
    "q183_disorder_census" -> disorderCensus,
    "q165_ttl_sweep" -> ttlSweep,
    "q166_activity_streaks" -> activityStreaks,
    "q168_rolling_wau" -> rollingWau)

  private def hrwOracle(n: Int, alias: String): String = {
    val u = "((doc_id % 2147483647) * 1103515245 + i * 40503 + 12345)" +
      " % 2147483647"
    s"""$alias AS (
       |  SELECT doc_id, i, (($u) * ($u)) % 2147483647 AS h
       |  FROM (SELECT doc_id, unnest(range(0, $n)) AS i FROM documents)),
       |${alias}_pick AS (
       |  SELECT doc_id, i AS shard FROM (
       |    SELECT doc_id, i, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY h DESC, i) AS rn FROM $alias)
       |  WHERE rn = 1)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q341_shard_checksums" ->
      """SELECT doc_id % 64 AS shard, COUNT(*) AS n_docs,
        |  bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
        |    AS xor_check,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    % 1000000007) AS BIGINT) AS sum_check
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "q163_shard_assign" ->
      s"""WITH ${hrwOracle(Shards, "h64")},
         |${hrwOracle(Shards + 1, "h65")}
         |SELECT p64.shard, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN p65.shard <> p64.shard THEN 1 ELSE 0 END)
         |    AS BIGINT) AS moved_docs
         |FROM h64_pick p64 JOIN h65_pick p65 USING (doc_id)
         |GROUP BY p64.shard""".stripMargin,
    "q165_ttl_sweep" -> {
      val retCase = RetentionDays
        .map { case (t, days) => s"WHEN event_type = '$t' THEN $days" }
        .mkString(" ")
      s"""WITH ev AS (
         |  SELECT event_type,
         |    epoch_us(date_trunc('microseconds', ts)) AS tsu
         |  FROM events),
         |anchor AS (SELECT MAX(tsu) AS anchor_us FROM ev),
         |cls AS (
         |  SELECT event_type, tsu,
         |    anchor_us - (CASE $retCase END) * 86400000000 AS cutoff_us
         |  FROM ev CROSS JOIN anchor)
         |SELECT event_type, COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN tsu < cutoff_us THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_purge,
         |  CAST((SUM(CASE WHEN tsu < cutoff_us THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS purge_ppm,
         |  MIN(CASE WHEN tsu >= cutoff_us
         |    THEN CAST(make_timestamp(tsu) AS DATE) END) AS first_kept_dt
         |FROM cls GROUP BY event_type""".stripMargin
    },
    "q183_disorder_census" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu
        |  FROM events),
        |lagged AS (
        |  SELECT event_type,
        |    MAX(tsu) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
        |    tsu
        |  FROM ev),
        |delays AS (
        |  SELECT event_type,
        |    CASE WHEN prev_max > tsu THEN prev_max - tsu ELSE 0 END AS delay
        |  FROM lagged)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN delay > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  MAX(delay) AS max_delay_us,
        |  CAST(SUM(delay) AS BIGINT) AS sum_delay_us,
        |  CAST((SUM(CASE WHEN delay > 0 THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS late_ppm
        |FROM delays GROUP BY event_type""".stripMargin,
    "q178_ks_drift" ->
      """WITH ev AS (
        |  SELECT value AS v,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
        |  FROM events),
        |cut AS (SELECT MIN(day_num) + 15 AS cut FROM ev),
        |counts AS (
        |  SELECT v,
        |    SUM(CASE WHEN day_num < cut THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN day_num < cut THEN 0 ELSE 1 END) AS c2
        |  FROM ev CROSS JOIN cut GROUP BY v),
        |cums AS (
        |  SELECT v, c1, c2,
        |    SUM(c1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    SUM(c2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM counts),
        |ns AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        |  FROM counts),
        |dd AS (
        |  SELECT v, n1, n2,
        |    abs(CAST(cum1 AS BIGINT) * n2 - CAST(cum2 AS BIGINT) * n1)
        |      AS dnum
        |  FROM cums CROSS JOIN ns),
        |mx AS (SELECT MAX(dnum) AS mx FROM dd)
        |SELECT n1, n2,
        |  CAST((mx * 1000000) // (n1 * n2) AS BIGINT) AS ks_ppm,
        |  MIN(v) AS at_value
        |FROM dd CROSS JOIN mx WHERE dnum = mx
        |GROUP BY n1, n2, mx""".stripMargin,
    "q173_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS to_type,
        |    LAG(event_type, 1) OVER (
        |      PARTITION BY user_id
        |      ORDER BY date_trunc('microseconds', ts), event_id) AS from_type
        |  FROM events),
        |counts AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |  WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM counts GROUP BY from_type)
        |SELECT from_type, to_type, n,
        |  CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
        |FROM counts JOIN tot USING (from_type)""".stripMargin,
    "q168_rolling_wau" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
        |  FROM events),
        |present AS (SELECT DISTINCT day_num AS w FROM days),
        |dau AS (
        |  SELECT day_num AS w, COUNT(*) AS dau FROM days GROUP BY day_num),
        |fan AS (
        |  SELECT DISTINCT user_id, day_num + i AS w
        |  FROM (SELECT user_id, day_num, unnest(range(0, 7)) AS i FROM days)),
        |wau AS (
        |  SELECT w, COUNT(*) AS wau
        |  FROM fan JOIN present USING (w) GROUP BY w)
        |SELECT DATE '1970-01-01' + CAST(w AS INTEGER) AS dt, dau, wau,
        |  CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau USING (w)""".stripMargin,
    "q166_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day_num - ROW_NUMBER() OVER (
        |      PARTITION BY user_id ORDER BY day_num) AS island
        |  FROM days),
        |runs AS (
        |  SELECT user_id, island, COUNT(*) AS len
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks, MAX(len) AS longest_streak
        |FROM runs GROUP BY user_id""".stripMargin)
}
