package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential-state operators — per-key folds whose transition depends
  * on the ACCUMULATED state, which no window function can express
  * (a windowed sum can't clamp; a fixed-interval filter can't depend
  * on which earlier rows survived). This is exactly the operator class
  * the reference writes as Flink KeyedProcessFunctions (keep-first
  * dedup, is_new repair); here it's the batch form: one shuffle to the
  * key, an in-group sort, a linear fold via typed `mapGroups`.
  *
  *  - q266: floor-capped running balance — purchases credit, clicks
  *    debit (exact cents); balance clamps at zero. Per user: final
  *    balance, running max, number of clamp events.
  *  - q267: rate-limit throttle (keep-first with a 2 h refractory
  *    period) — an event is kept iff ≥ 2 h elapsed since the last
  *    KEPT event; which events survive depends on prior keeps, so
  *    this is NOT `ts div interval` bucketing. (2 h chosen against
  *    the data's ~1 h median inter-event gap so both keeps and drops
  *    occur — the q237/q256 parameter-honesty rule.)
  *
  * The oracle states the same folds as LINEAR recursive CTEs (one row
  * per (user, event-index) state, rn → rn+1 — no aggregate in the
  * recursive term, users advance in parallel): the hash match proves
  * the distributed fold ≡ the sequential recurrence.
  *
  * Scale (100 TB): groupByKey(user) shuffles once; each group folds in
  * one pass (state = 3 longs). Group size = one user's events — the
  * same per-key boundedness every keyed-state streaming op here
  * already assumes; for truly unbounded keys the streaming twin
  * (Dedup.scala keep-first) processes incrementally instead.
  *
  * Determinism: in-group order is (ts, event_id) — unique; both
  * engines fold the identical sequence.
  */
object SequentialOps extends graft.QueryPack {

  private val ThrottleUs = 2L * 3600 * 1000000

  private def userEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(ts)").as("t"), col("event_id"),
      when(col("event_type") === "purchase",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .when(col("event_type") === "click",
          -expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .otherwise(lit(0L)).as("delta"))

  /** q266: clamped-at-zero running balance per user. */
  def cappedBalance(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    userEvents(s, d).as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        var bal = 0L; var mx = 0L; var hits = 0L; var n = 0L
        it.toSeq.sortBy(e => (e._2, e._3)).foreach { e =>
          val next = bal + e._4
          if (next < 0) { bal = 0L; hits += 1 } else bal = next
          if (bal > mx) mx = bal
          n += 1
        }
        (user, n, bal, mx, hits)
      }
      .toDF("user_id", "n_events", "final_balance", "max_balance",
        "floor_hits")
      .orderBy(col("user_id"))
  }

  /** q267: keep-first throttle with a 2 h refractory period. */
  def rateLimit(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    userEvents(s, d).as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        var lastKept = Long.MinValue; var kept = 0L; var n = 0L
        it.toSeq.sortBy(e => (e._2, e._3)).foreach { e =>
          if (lastKept == Long.MinValue || e._2 >= lastKept + ThrottleUs) {
            lastKept = e._2; kept += 1
          }
          n += 1
        }
        (user, n, kept, lastKept)
      }
      .toDF("user_id", "n_events", "n_kept", "last_kept_t")
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q266_capped_balance" -> cappedBalance,
    "q267_rate_limit" -> rateLimit)

  private val evCte =
    """e AS (
      |  SELECT user_id AS u,
      |    epoch_us(date_trunc('microseconds', ts)) AS t,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      WHEN event_type = 'click'
      |      THEN -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      ELSE 0 END AS delta,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(date_trunc('microseconds', ts)), event_id)
      |      AS rn
      |  FROM events)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q266_capped_balance" ->
      s"""WITH RECURSIVE $evCte,
         |rec(u, rn, bal, mx, hits) AS (
         |  SELECT u, rn,
         |    GREATEST(0, delta),
         |    GREATEST(0, delta),
         |    CASE WHEN delta < 0 THEN 1 ELSE 0 END
         |  FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.u, e.rn,
         |    GREATEST(0, r.bal + e.delta),
         |    GREATEST(r.mx, GREATEST(0, r.bal + e.delta)),
         |    r.hits + CASE WHEN r.bal + e.delta < 0 THEN 1 ELSE 0 END
         |  FROM rec r JOIN e ON e.u = r.u AND e.rn = r.rn + 1),
         |fin AS (
         |  SELECT u, MAX(rn) AS n_events FROM rec GROUP BY u)
         |SELECT f.u AS user_id, CAST(f.n_events AS BIGINT) AS n_events,
         |  CAST(r.bal AS BIGINT) AS final_balance,
         |  CAST(r.mx AS BIGINT) AS max_balance,
         |  CAST(r.hits AS BIGINT) AS floor_hits
         |FROM fin f JOIN rec r ON r.u = f.u AND r.rn = f.n_events
         |ORDER BY user_id""".stripMargin,
    "q267_rate_limit" ->
      s"""WITH RECURSIVE $evCte,
         |rec(u, rn, last_kept, kept) AS (
         |  SELECT u, rn, t, 1 FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.u, e.rn,
         |    CASE WHEN e.t >= r.last_kept + $ThrottleUs THEN e.t
         |      ELSE r.last_kept END,
         |    r.kept + CASE WHEN e.t >= r.last_kept + $ThrottleUs
         |      THEN 1 ELSE 0 END
         |  FROM rec r JOIN e ON e.u = r.u AND e.rn = r.rn + 1),
         |fin AS (
         |  SELECT u, MAX(rn) AS n_events FROM rec GROUP BY u)
         |SELECT f.u AS user_id, CAST(f.n_events AS BIGINT) AS n_events,
         |  CAST(r.kept AS BIGINT) AS n_kept,
         |  CAST(r.last_kept AS BIGINT) AS last_kept_t
         |FROM fin f JOIN rec r ON r.u = f.u AND r.rn = f.n_events
         |ORDER BY user_id""".stripMargin)
}
