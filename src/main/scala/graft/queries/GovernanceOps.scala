package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Governance operators — privacy and contract enforcement over the
  * dimensional data:
  *
  *  - q244: k-anonymity census — equivalence classes of the
  *    quasi-identifier (mktsegment, nationkey, $1000 acctbal bucket)
  *    on customer, reported at two generalization levels (full QI vs
  *    the bucket dropped): class count, minimum class size (the
  *    dataset's k), and how many rows sit in classes violating k=5.
  *    The generalization ladder is the point: one level up, k rises.
  *  - q245: config-driven data-quality rule engine — rules are DATA
  *    (rule id, table, boolean violation predicate compiled via
  *    `expr()`), evaluated as conditional aggregates in ONE scan per
  *    table; output is the audit report (rows checked, violations,
  *    pass flag). Mixes contract rules that must hold (and do) with
  *    screening thresholds that genuinely fire — an audit whose every
  *    count is zero proves nothing (the q237 vacuity lesson).
  *  - q246: SCD2 MERGE apply — a deterministic change batch (every
  *    custkey ≡ 3 mod 10 moves to segment UPGRADED on day D) merged
  *    into the current dimension snapshot: affected current rows close
  *    at D, new versions open [D, ∞); unaffected rows pass through.
  *    This is `MERGE INTO` semantics expressed as a union of three
  *    disjoint row sets — no row is read twice, no state mutated.
  *
  * Ref: the reference's DimApp validates dim rows against a config
  * table before Phoenix upserts (dim/DimRouter here); q245 is that
  * validation generalized to a rule table, q246 the dim-history write
  * path it feeds.
  *
  * Scale (100 TB): q244 is two grouped counts on the QI columns
  * (map-side partial); q245 is one conditional-aggregate scan per
  * table with a constant-width output; q246 is a single projection +
  * union with the change predicate pushed to the scan — none of the
  * three shuffles more than a groupBy of bounded output.
  */
object GovernanceOps extends graft.QueryPack {

  private val K = 5L

  /** q244: k-anonymity at two generalization levels. */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_mktsegment"),
      col("c_nationkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
        " div 100000").as("bal_bucket"))
    def level(name: String, keys: Seq[String]): DataFrame =
      cust.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("cls"))
        .agg(lit(name).as("level"),
          count(lit(1)).as("n_classes"),
          min(col("cls")).as("k_min"),
          sum(when(col("cls") < K, col("cls")).otherwise(0L))
            .as(s"rows_violating_k$K"))
    level("L0_segment_nation_balance",
        Seq("c_mktsegment", "c_nationkey", "bal_bucket"))
      .unionAll(level("L1_segment_nation", Seq("c_mktsegment", "c_nationkey")))
      .orderBy(col("level"))
  }

  /** Rule table: (rule id, table, violation predicate). Contract rules
    * (should pass) + screening thresholds (fire on this data). */
  private val Rules: Seq[(String, String, String)] = Seq(
    ("R01_price_positive", "orders", "o_totalprice <= 0"),
    ("R02_status_domain", "orders", "o_orderstatus NOT IN ('O','F','P')"),
    ("R03_qty_range", "lineitem", "l_quantity < 1 OR l_quantity > 50"),
    ("R04_price_outlier", "orders", "o_totalprice > 300000"),
    ("R05_qty_high", "lineitem", "l_quantity > 45"),
    ("R06_balance_negative", "customer", "c_acctbal < 0"))

  /** q245: evaluate all rules, one conditional-aggregate scan per table. */
  def dqRules(s: SparkSession, d: String): DataFrame = {
    val byTable = Rules.groupBy(_._2)
    val frames = byTable.toSeq.sortBy(_._1).map { case (t, rs) =>
      val df = Tables.load(s, d, t)
      val aggs = rs.map { case (id, _, pred) =>
        sum(when(expr(pred), 1L).otherwise(0L)).as(id)
      } :+ count(lit(1)).as("n_rows")
      val wide = df.agg(aggs.head, aggs.tail: _*)
      rs.map { case (id, _, _) =>
        wide.select(lit(id).as("rule_id"), lit(t).as("table_name"),
          col("n_rows"), col(id).as("n_violations"),
          (col(id) === 0L).as("pass"))
      }.reduce(_ unionAll _)
    }
    frames.reduce(_ unionAll _).orderBy(col("rule_id"))
  }

  private val MergeDay = 10500L // effective day: inside the order-date range (1995–2001), so the q278 temporal join matches BOTH versions across time — a post-range day was verified to make the version pick vacuous

  /** q246: SCD2 merge of the UPGRADED change batch into the snapshot. */
  def scd2Merge(s: SparkSession, d: String): DataFrame = {
    val cur = Tables.customer(s, d).select(col("c_custkey"),
      col("c_mktsegment"), lit(0L).as("valid_from"))
    val changed = col("c_custkey") % 10 === 3
    val untouched = cur.filter(!changed)
      .select(col("c_custkey"), col("c_mktsegment"), col("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    val closed = cur.filter(changed)
      .select(col("c_custkey"), col("c_mktsegment"), col("valid_from"),
        lit(MergeDay).as("valid_to"), lit(false).as("is_current"))
    val opened = cur.filter(changed)
      .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"),
        lit(MergeDay).as("valid_from"),
        lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
    untouched.unionAll(closed).unionAll(opened)
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** q278: point-in-time (temporal) dimension join — every order
    * joined to the SCD2 version valid AT ITS ORDER DATE
    * (valid_from ≤ day < valid_to, open-ended current rows), i.e. the
    * q246 history consumed the way a warehouse actually reads it.
    * With MergeDay inside the order-date range, orders BEFORE the
    * merge resolve to the original segment and orders after resolve
    * to UPGRADED — the version pick varies over time (non-vacuous by
    * construction). Census by matched segment.
    *
    * Scale: equi join on custkey (the range predicate rides the
    * hash join as a residual filter — at most 2 versions per key
    * here, ≤ version-count fan-out in general). */
  def temporalDimJoin(s: SparkSession, d: String): DataFrame = {
    val dim = scd2Merge(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
        " div 86400000000").as("day"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    o.join(dim, col("o_custkey") === col("c_custkey") &&
        col("day") >= col("valid_from") &&
        (col("valid_to").isNull || col("day") < col("valid_to")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_customers"),
        sum(col("cents")).as("rev_cents"))
      .orderBy(col("c_mktsegment"))
  }

  private val TxCorrection = 200L // transaction time of the merge batch

  /** q313: BITEMPORAL querying — the q246 history carried in BOTH time
    * dimensions: VALID time (when the fact was true in the world) and
    * TRANSACTION time (when the warehouse knew it). The initial load
    * commits at tx 0; the UPGRADE merge commits at tx [[TxCorrection]],
    * which CLOSES the transaction interval of the superseded belief
    * and opens two corrected rows. Three point queries — (as-known-at,
    * valid-at) = (100, 11000), (300, 10000), (300, 11000) — give the
    * classic bitemporal census: before the correction the warehouse
    * still believes the old segment even for post-merge valid dates;
    * after it, the segment depends on valid time. One row per (query,
    * segment).
    *
    * Scale: the history is dim-scale; each point query is a filter +
    * census — the same pruned-scan shape as q278. */
  def bitemporal(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"),
      col("c_mktsegment"))
    val changed = col("c_custkey") % 10 === 3
    val inf = lit(null).cast("long")
    // (custkey, segment, valid_from, valid_to, tx_from, tx_to)
    val initialUntouched = cust.filter(!changed)
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(0L).as("vf"), inf.as("vt"), lit(0L).as("tf"), inf.as("tt"))
    val initialSuperseded = cust.filter(changed)
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(0L).as("vf"), inf.as("vt"), lit(0L).as("tf"),
        lit(TxCorrection).as("tt"))
    val correctedClosed = cust.filter(changed)
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(0L).as("vf"), lit(MergeDay).as("vt"),
        lit(TxCorrection).as("tf"), inf.as("tt"))
    val correctedOpen = cust.filter(changed)
      .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"),
        lit(MergeDay).as("vf"), inf.as("vt"),
        lit(TxCorrection).as("tf"), inf.as("tt"))
    val hist = initialUntouched.unionAll(initialSuperseded)
      .unionAll(correctedClosed).unionAll(correctedOpen)
      .stable() // three point queries below
    def at(label: String, tx: Long, valid: Long): DataFrame =
      hist.filter(col("tf") <= tx &&
          (col("tt").isNull || col("tt") > tx) &&
          col("vf") <= valid &&
          (col("vt").isNull || col("vt") > valid))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .select(lit(label).as("query"), col("c_mktsegment"),
          col("n_customers"))
    at("tx100_valid11000", 100L, 11000L)
      .unionAll(at("tx300_valid10000", 300L, 10000L))
      .unionAll(at("tx300_valid11000", 300L, 11000L))
      .orderBy(col("query"), col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_k_anonymity" -> kAnonymity,
    "q245_dq_rules" -> dqRules,
    "q246_scd2_merge" -> scd2Merge,
    "q278_temporal_dim_join" -> temporalDimJoin,
    "q313_bitemporal" -> bitemporal)

  val oracle: Map[String, String] = Map(
    "q313_bitemporal" ->
      s"""WITH hist AS (
         |  SELECT c_custkey, c_mktsegment, 0 AS vf,
         |    CAST(NULL AS BIGINT) AS vt, 0 AS tf,
         |    CAST(NULL AS BIGINT) AS tt
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, 0, CAST(NULL AS BIGINT),
         |    0, $TxCorrection
         |  FROM customer WHERE c_custkey % 10 = 3
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, 0, $MergeDay,
         |    $TxCorrection, CAST(NULL AS BIGINT)
         |  FROM customer WHERE c_custkey % 10 = 3
         |  UNION ALL
         |  SELECT c_custkey, 'UPGRADED', $MergeDay,
         |    CAST(NULL AS BIGINT), $TxCorrection, CAST(NULL AS BIGINT)
         |  FROM customer WHERE c_custkey % 10 = 3),
         |q AS (
         |  SELECT 'tx100_valid11000' AS query, 100 AS tx, 11000 AS v
         |  UNION ALL SELECT 'tx300_valid10000', 300, 10000
         |  UNION ALL SELECT 'tx300_valid11000', 300, 11000)
         |SELECT query, c_mktsegment, COUNT(*) AS n_customers
         |FROM q JOIN hist
         |  ON tf <= tx AND (tt IS NULL OR tt > tx)
         |  AND vf <= v AND (vt IS NULL OR vt > v)
         |GROUP BY query, c_mktsegment
         |ORDER BY query, c_mktsegment""".stripMargin,
    "q278_temporal_dim_join" ->
      s"""WITH dim AS (
         |  SELECT c_custkey, c_mktsegment, 0 AS valid_from,
         |    CAST(NULL AS BIGINT) AS valid_to
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, 0, $MergeDay
         |  FROM customer WHERE c_custkey % 10 = 3
         |  UNION ALL
         |  SELECT c_custkey, 'UPGRADED', $MergeDay, CAST(NULL AS BIGINT)
         |  FROM customer WHERE c_custkey % 10 = 3),
         |o AS (
         |  SELECT o_custkey,
         |    epoch_us(date_trunc('microseconds', o_orderdate))
         |      // 86400000000 AS day,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS cents
         |  FROM orders)
         |SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  CAST(SUM(cents) AS BIGINT) AS rev_cents
         |FROM o JOIN dim ON o_custkey = c_custkey
         |  AND day >= valid_from
         |  AND (valid_to IS NULL OR day < valid_to)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q244_k_anonymity" ->
      s"""WITH cust AS (
         |  SELECT c_mktsegment, c_nationkey,
         |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      // 100000 AS bal_bucket
         |  FROM customer),
         |l0 AS (
         |  SELECT COUNT(*) AS cls FROM cust
         |  GROUP BY c_mktsegment, c_nationkey, bal_bucket),
         |l1 AS (
         |  SELECT COUNT(*) AS cls FROM cust
         |  GROUP BY c_mktsegment, c_nationkey)
         |SELECT * FROM (
         |  SELECT 'L0_segment_nation_balance' AS level,
         |    COUNT(*) AS n_classes, MIN(cls) AS k_min,
         |    CAST(SUM(CASE WHEN cls < $K THEN cls ELSE 0 END) AS BIGINT)
         |      AS rows_violating_k$K
         |  FROM l0
         |  UNION ALL
         |  SELECT 'L1_segment_nation', COUNT(*), MIN(cls),
         |    CAST(SUM(CASE WHEN cls < $K THEN cls ELSE 0 END) AS BIGINT)
         |  FROM l1)
         |ORDER BY level""".stripMargin,
    "q245_dq_rules" -> {
      val selects = Rules.sortBy(_._1).map { case (id, t, pred) =>
        s"""SELECT '$id' AS rule_id, '$t' AS table_name,
           |  COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violations,
           |  CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) = 0
           |    AS pass
           |FROM $t""".stripMargin
      }
      selects.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        ")\nORDER BY rule_id")
    },
    "q246_scd2_merge" ->
      s"""SELECT * FROM (
         |  SELECT c_custkey, c_mktsegment, 0 AS valid_from,
         |    CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
         |  FROM customer WHERE c_custkey % 10 <> 3
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, 0, $MergeDay, FALSE
         |  FROM customer WHERE c_custkey % 10 = 3
         |  UNION ALL
         |  SELECT c_custkey, 'UPGRADED', $MergeDay,
         |    CAST(NULL AS BIGINT), TRUE
         |  FROM customer WHERE c_custkey % 10 = 3)
         |ORDER BY c_custkey, valid_from""".stripMargin)
}
