package graft.queries

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended relational surface beyond the reference's own inventory —
  * the operators a user of a complete analytics engine expects even
  * though the reference never needed them: semi/anti joins, right outer
  * join (completing J9), ROLLUP subtotals, ranking window functions,
  * frame-bounded moving aggregates, and an as-of join (composed from
  * built-ins per the preference order — no custom plan node needed).
  */
object Extended extends graft.QueryPack {
  import Num._

  /** Semi/anti joins (EXISTS / NOT EXISTS): per market segment, customers
    * with and without orders. Plans as LeftSemi/LeftAnti — no row
    * multiplication, and the orders side only ships the join key. */
  def joinSemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"))
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
    val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
    withO.join(without, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("with_orders"), lit(0L)).as("with_orders"),
        coalesce(col("without_orders"), lit(0L)).as("without_orders"))
  }

  /** Right outer join (J9 completeness): every customer keeps a row even
    * with no orders. */
  def joinRight(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("order_count"),
        countDistinct(col("c_custkey")).as("customer_count"))

  /** ROLLUP subtotals: (status, priority) → status → grand total. */
  def rollupTotals(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("order_count"))

  /** Top-N per group via ranking window: 3 priciest parts per brand
    * (deterministic tiebreak on p_partkey). */
  def topNPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, d)
      .withColumn("rank_in_brand", row_number().over(w))
      .filter(col("rank_in_brand") <= 3)
      .select(col("p_brand"), col("rank_in_brand"), col("p_partkey"),
        col("p_retailprice"))
  }

  /** Frame-bounded moving aggregate: 4-row moving quantity sum per
    * supplier in shipdate order. Exact decimal accumulation inside the
    * frame keeps it engine-exact. */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val frame = order.rowsBetween(-3, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 2)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec2(col("l_quantity"))).over(frame).cast("double").as("moving_qty"),
        count(lit(1)).over(frame).as("frame_rows"))
  }

  /** As-of join — composed from built-ins (preference order (a) in the
    * project brief): for each purchase, the user's latest click at or
    * before it. Equi-join on user + range filter + max per purchase; at
    * scale this is one shuffle on user_id (same as a custom sort-merge
    * as-of node, without the bespoke operator). DuckDB's native ASOF JOIN
    * is the oracle, proving semantic equivalence. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("tsu", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("tsu").as("p_tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tsu").as("c_tsu"))
    purchases
      .join(clicks, col("p_user") === col("c_user") && col("c_tsu") <= col("p_tsu"))
      .groupBy(col("p_id"), col("p_user"), col("p_tsu"))
      .agg(max(col("c_tsu")).as("asof_click_tsu"))
      .select(col("p_id").as("event_id"), col("p_user").as("user_id"),
        col("asof_click_tsu"))
  }

  /** A4 via the custom typed Aggregator (graft.functions.ExactDistinct):
    * must equal COUNT(DISTINCT ...) exactly — the oracle proves the
    * partial/merge path correct. */
  def exactDistinctAgg(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ExactDistinct.exact_distinct
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(exact_distinct(col("o_custkey")).as("distinct_customers"),
        count(lit(1)).as("order_count"))
  }

  /** Skew-transparent salted aggregation (graft.operators.Skew): the
    * two-phase salted plan must produce EXACTLY the plain groupBy result
    * (decimal sums are associative, so resharding by salt is invisible). */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.saltedSumCount(
      Tables.lineitem(s, d),
      keys = Seq("l_returnflag"),
      sumCols = Seq("sum_qty" -> dec2(col("l_quantity"))),
      saltFrom = col("l_orderkey"),
      salts = 16)
      .select(col("l_returnflag"), col("sum_qty").cast("double").as("sum_qty"),
        col("row_count"))

  /** Skew-transparent salted join (graft.operators.Skew.saltedJoin):
    * the dim side is replicated once per salt and the fact side salted
    * by a deterministic hash, spreading a hot join key over `salts`
    * reducers — and the result must be EXACTLY the plain equi-join,
    * which is what the plain-join oracle proves (the q47 pattern,
    * extended from aggregation to the join operator SkewJoinSpec
    * benchmarks). Aggregated per order status for a stable frame. */
  def saltedJoinQuery(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        dec2(col("l_quantity")).as("qty"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    // NB: this fixture is deliberately UNskewed, so the salted plan
    // pays the dim-replication overhead with no straggler to win back —
    // the skew bench recorded in PLANS.md shows where the trade flips
    // (2× under a 90% hot key). 8 salts demonstrate the plan at half the
    // replication.
    graft.operators.Skew.saltedJoin(fact, dim, "l_orderkey",
        saltFrom = col("l_linenumber"), salts = 8)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("joined_rows"),
        sum(col("qty")).cast("double").as("sum_qty"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_join_semi_anti" -> joinSemiAnti,
    "q41_join_right" -> joinRight,
    "q42_rollup_totals" -> rollupTotals,
    "q43_topn_per_group" -> topNPerGroup,
    "q44_moving_agg" -> movingAvg,
    "q45_asof_join" -> asofJoin,
    "q46_exact_distinct_agg" -> exactDistinctAgg,
    "q47_salted_agg" -> saltedAgg,
    "q123_salted_join" -> saltedJoinQuery)

  val oracle: Map[String, String] = Map(
    "q40_join_semi_anti" ->
      """WITH w AS (
        |  SELECT c_mktsegment, COUNT(*) AS with_orders FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment),
        |wo AS (
        |  SELECT c_mktsegment, COUNT(*) AS without_orders FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_mktsegment)
        |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        |  COALESCE(with_orders, 0) AS with_orders,
        |  COALESCE(without_orders, 0) AS without_orders
        |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""".stripMargin,
    "q41_join_right" ->
      """SELECT c_mktsegment, COUNT(o_orderkey) AS order_count,
        |  COUNT(DISTINCT c_custkey) AS customer_count
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q42_rollup_totals" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS order_count
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q43_topn_per_group" ->
      """SELECT p_brand, rank_in_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice, row_number() OVER
        |    (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
        |    AS rank_in_brand
        |  FROM part)
        |WHERE rank_in_brand <= 3""".stripMargin,
    "q44_moving_agg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER
        |    (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty,
        |  COUNT(*) OVER
        |    (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS frame_rows
        |FROM lineitem WHERE l_suppkey <= 2""".stripMargin,
    "q45_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu FROM events),
        |p AS (SELECT event_id, user_id, tsu FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, tsu AS c_tsu FROM ev
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, c.c_tsu AS asof_click_tsu
        |FROM p ASOF JOIN c ON p.user_id = c.c_user AND p.tsu >= c.c_tsu""".stripMargin,
    "q46_exact_distinct_agg" ->
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS distinct_customers,
        |  COUNT(*) AS order_count
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q47_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS row_count
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q123_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS joined_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)
}

/** Second extension pack: multidimensional subtotals, ordered string
  * aggregation, and exact percentiles. */
object Extended2 extends graft.QueryPack {
  import Num._

  /** CUBE: all subtotal combinations over (returnflag, linestatus). */
  def cubeTotals(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("line_count"))

  /** Ordered string aggregation (group concat) — portable via sorting
    * before concatenation on both engines. */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .groupBy("n_regionkey")
      .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
        .as("nations_csv"))
      .select(col("n_regionkey").cast("long").as("region_key"), col("nations_csv"))

  /** Exact percentiles (median / p90) of order totals per status — both
    * engines use linear interpolation over the sorted values. */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q51_cube_totals" -> cubeTotals,
    "q52_string_agg" -> stringAgg,
    "q53_percentiles" -> percentiles)

  val oracle: Map[String, String] = Map(
    "q51_cube_totals" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS line_count
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q52_string_agg" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS region_key,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    "q53_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
}

/** Third extension pack: pivot and the native grouped top-k aggregate. */
object Extended3 extends graft.QueryPack {

  /** Pivot (wide KPI tables): events per day × event_type. `coalesce`
    * because pivot yields null for absent cells where the oracle's
    * CASE-sum yields 0. */
  def pivotCounts(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("event_date") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Grouped top-k via the native TypedImperativeAggregate
    * (graft.functions.TopKBy): bounded heap instead of window sort. The
    * aggregate returns an ordered array; we posexplode it to scalar
    * (p_brand, rank, p_partkey) rows so the result is hash-comparable. */
  def topkAgg(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKBy.register(s)
    Tables.part(s, d)
      .groupBy("p_brand")
      .agg(call_function("topk_by", col("p_retailprice"), col("p_partkey"),
        lit(3)).as("top_parts"))
      .select(col("p_brand"), posexplode(col("top_parts")))
      .select(col("p_brand"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("p_partkey"))
  }

  /** TopKBy over STRING keys (the generalized native aggregate): top-3
    * supplier names by account balance per nation. Same bounded-heap
    * plan; string keys serialize as UTF-8 in the partial buffers. */
  def topkAggString(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKBy.register(s)
    Tables.supplier(s, d)
      .groupBy(col("s_nationkey").cast("long").as("nation_key"))
      .agg(call_function("topk_by", col("s_acctbal"), col("s_name"),
        lit(3)).as("top_names"))
      .select(col("nation_key"), posexplode(col("top_names")))
      .select(col("nation_key"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("s_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q54_pivot_counts" -> pivotCounts,
    "q55_topk_agg" -> topkAgg,
    "q96_topk_string" -> topkAggString)

  val oracle: Map[String, String] = Map(
    "q54_pivot_counts" ->
      """WITH ev AS (SELECT date_trunc('microseconds', ts) AS ts, event_type
        |  FROM events)
        |SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM ev GROUP BY 1""".stripMargin,
    "q55_topk_agg" ->
      """WITH t AS (
        |  SELECT p_brand,
        |    (list(p_partkey ORDER BY p_retailprice DESC, p_partkey))[1:3]
        |      AS top_parts
        |  FROM part GROUP BY p_brand)
        |SELECT p_brand,
        |  unnest(range(1, len(top_parts) + 1)) AS rank,
        |  unnest(top_parts) AS p_partkey
        |FROM t""".stripMargin,
    "q96_topk_string" ->
      """WITH t AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS nation_key,
        |    (list(s_name ORDER BY s_acctbal DESC, s_name))[1:3] AS top_names
        |  FROM supplier GROUP BY 1)
        |SELECT nation_key,
        |  unnest(range(1, len(top_names) + 1)) AS rank,
        |  unnest(top_names) AS s_name
        |FROM t""".stripMargin)
}

/** Optimizer-evidence pack: correlated subqueries (Catalyst decorrelates
  * them into joins — SURVEY.md §4 "subquery decorrelation: free"). */
object Extended4 extends graft.QueryPack {

  /** Parts priced above their brand's average — a correlated scalar
    * subquery through the SQL API; Catalyst rewrites it to an aggregate
    * + join, no per-row execution. The average follows the Num.davg
    * convention (decimal SUM cast to double, divided by COUNT) so both
    * engines compute bit-identical thresholds — AVG(DECIMAL) rounds at
    * different scales across engines. The temp view name is per-dir and
    * dropped after analysis (sql() resolves eagerly), leaving no shared
    * session state. */
  def aboveBrandAvg(s: SparkSession, d: String): DataFrame = {
    val view = s"part_v_${math.abs(d.hashCode)}"
    graft.Tables.part(s, d).createOrReplaceTempView(view)
    try s.sql(s"""
      SELECT p_brand, p_partkey, p_retailprice
      FROM $view p
      WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*)
        FROM $view p2 WHERE p2.p_brand = p.p_brand)
    """)
    finally s.catalog.dropTempView(view)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_scalar_subquery" -> aboveBrandAvg)

  val oracle: Map[String, String] = Map(
    "q63_scalar_subquery" ->
      """SELECT p_brand, p_partkey, p_retailprice
        |FROM part p
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / COUNT(*)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin)
}

/** Null-semantics and fuzzy-matching pack. */
object Extended5 extends graft.QueryPack {

  /** Null handling: nullif-derived nullable column → null-counting
    * aggregates + a NULL-SAFE self-join (`<=>` ≡ IS NOT DISTINCT FROM)
    * where the null group matches itself. */
  def nullSemantics(s: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.lineitem(s, d)
      .select(expr("nullif(l_returnflag, 'N')").as("rf"), col("l_linestatus"))
    val g = base.groupBy("rf")
      .agg(count(lit(1)).as("n_rows"), count(col("rf")).as("n_nonnull"))
    val a = g.select(col("rf").as("rf_a"), col("n_rows").as("rows_a"))
    val b = g.select(col("rf").as("rf_b"), col("n_rows").as("rows_b"))
    a.join(b, col("rf_a") <=> col("rf_b"))
      .select(col("rf_a").as("rf"), col("rows_a").as("n_rows"),
        col("rows_b").as("n_rows_b"))
  }

  /** Fuzzy self-match on part names via edit distance (entity-resolution
    * primitive) — EXACT all-pairs semantics at sub-quadratic cost via
    * dedup-then-compare: aggregate rows to DISTINCT names with
    * multiplicities (the real entity universe is the vocabulary, not the
    * row count), pair only the distinct names through a LOSSLESS
    * length-band equi-join (edit ≤ 3 ⇒ |len(a)−len(b)| ≤ 3, so one side
    * explodes its length ±3 and the join key is exact length — every
    * qualifying pair survives, no BroadcastNestedLoopJoin), verify with
    * levenshtein inside blocks, then multiply the multiplicities back
    * (cnt_a×cnt_b row pairs per name pair). Levenshtein cost scales with
    * vocabulary², not rows²; at 100 TB a high-cardinality vocabulary
    * additionally takes a token/phonetic block key on the distinct-name
    * table — same plan shape, smaller blocks. */
  def fuzzyNameMatch(s: SparkSession, d: String): DataFrame = {
    val names = graft.Tables.part(s, d)
      .groupBy("p_name").agg(count(lit(1)).as("cnt"))
    val probe = names.select(col("p_name").as("name_b"),
      col("cnt").as("cnt_b"), length(col("p_name")).as("len_b"))
    val build = names.select(col("p_name").as("name_a"), col("cnt").as("cnt_a"),
        explode(sequence(length(col("p_name")) - 3,
          length(col("p_name")) + 3)).as("len_b"))
    build.join(probe, Seq("len_b"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= 3)
      .groupBy(col("edit_dist"))
      .agg(sum(col("cnt_a") * col("cnt_b")).as("pair_count"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_null_semantics" -> nullSemantics,
    "q65_fuzzy_name_match" -> fuzzyNameMatch)

  val oracle: Map[String, String] = Map(
    "q64_null_semantics" ->
      """WITH base AS (
        |  SELECT nullif(l_returnflag, 'N') AS rf FROM lineitem),
        |g AS (
        |  SELECT rf, COUNT(*) AS n_rows, COUNT(rf) AS n_nonnull
        |  FROM base GROUP BY rf)
        |SELECT a.rf, a.n_rows, b.n_rows AS n_rows_b
        |FROM g a JOIN g b ON a.rf IS NOT DISTINCT FROM b.rf""".stripMargin,
    "q65_fuzzy_name_match" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS cnt FROM part GROUP BY p_name)
        |SELECT levenshtein(a.p_name, b.p_name) AS edit_dist,
        |  CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS pair_count
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |GROUP BY 1""".stripMargin)
}

/** Set-operation pack — INTERSECT / EXCEPT (engine completeness: the
  * reference never needed them, §2.6, but a user of a complete engine
  * expects them). Both plan as joins (left-semi-ish aggregation), not
  * row-at-a-time set containers. */
object SetOps extends graft.QueryPack {

  /** Customers with BOTH fulfilled- and open-status orders. */
  def intersectCustomers(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    f.intersect(p)
  }

  /** Customers with fulfilled orders but NO open orders. */
  def exceptCustomers(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val p = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    f.except(p)
  }

  /** q262: MULTISET set operations — INTERSECT ALL / EXCEPT ALL keep
    * duplicate cardinalities (min / truncated-difference of
    * multiplicities), the semantics q88/q89's distinct variants
    * erase. Operand multisets: per-customer order-priority rows from
    * fulfilled vs open orders — duplicates are the point. Output is a
    * census (the raw multisets are row-scale): per priority, the
    * multiset-intersection and multiset-difference cardinalities. */
  def multisetOps(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    def side(st: String) = o.filter(col("o_orderstatus") === st)
      .select(col("o_custkey"), col("o_orderpriority"))
    val f = side("F"); val p = side("O")
    val inter = f.intersectAll(p).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_intersect_all"))
    val diff = f.exceptAll(p).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_except_all"))
    inter.join(diff, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
      .orderBy(col("o_orderpriority"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_intersect" -> intersectCustomers,
    "q89_except" -> exceptCustomers,
    "q262_multiset_ops" -> multisetOps)

  val oracle: Map[String, String] = Map(
    "q88_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "q89_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "q262_multiset_ops" ->
      """WITH f AS (
        |  SELECT o_custkey, o_orderpriority FROM orders
        |  WHERE o_orderstatus = 'F'),
        |p AS (
        |  SELECT o_custkey, o_orderpriority FROM orders
        |  WHERE o_orderstatus = 'O'),
        |i AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_intersect_all FROM (
        |    SELECT * FROM f INTERSECT ALL SELECT * FROM p)
        |  GROUP BY 1),
        |e AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_except_all FROM (
        |    SELECT * FROM f EXCEPT ALL SELECT * FROM p)
        |  GROUP BY 1)
        |SELECT o_orderpriority,
        |  COALESCE(n_intersect_all, 0) AS n_intersect_all,
        |  COALESCE(n_except_all, 0) AS n_except_all
        |FROM i FULL OUTER JOIN e USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin)
}

/** Robustness pack: the dirty-data dead-letter path (P1) as a hard
  * oracle row. JSON is BUILT deterministically (string concat — both
  * engines produce identical bytes) with every 10th record corrupted;
  * the PERMISSIVE parse must route exactly those to the dead letter and
  * lose nothing else. The oracle is rule-based (it knows which rows are
  * corrupt by construction), so the check pins Spark's actual parse
  * behavior, not a shared parser. */
object Robustness extends graft.QueryPack {

  def deadLetter(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val js = when(k % 10 === 0, lit("{\"bad"))
      .otherwise(concat(lit("{\"id\":"), k, lit(",\"v\":"), k % 100, lit("}")))
    graft.Tables.orders(s, d)
      .select(from_json(js,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
        .as("r"))
      .select(col("r.id").isNull.as("is_corrupt"), col("r.v").as("v"))
      .groupBy("is_corrupt")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q97_dead_letter" -> deadLetter)

  val oracle: Map[String, String] = Map(
    "q97_dead_letter" ->
      """SELECT (o_orderkey % 10 = 0) AS is_corrupt,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 0
        |    THEN o_orderkey % 100 END) AS BIGINT) AS sum_v
        |FROM orders GROUP BY 1""".stripMargin)
}

/** Profiling/statistics pack — the data-profiling primitives an engine
  * user expects (histograms, correlation). Correlation is computed from
  * EXACT integer co-moment sums (floored inputs) with one double
  * formula at the end — `corr()` builtins accumulate doubles cross-row
  * and disagree across engines in the last bits, so they cannot be
  * oracle-checked; this formulation is bit-stable at any parallelism. */
object Profiling extends graft.QueryPack {

  /** Equi-width histogram of order totals: 10 buckets over [0, 500k). */
  def histogram(s: SparkSession, d: String): DataFrame = {
    val w = 50000.0
    graft.Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / w), lit(9L)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Pearson correlation of (floored) price vs quantity per return flag,
    * via exact integer sums: r = (nΣxy − ΣxΣy)/√((nΣxx−Σx²)(nΣyy−Σy²)).
    * The co-moment products overflow INT64 around sf0.1 (n·Σxx ≈ 4e20),
    * so the formula runs in decimal(38,0) (HUGEINT in the oracle) and
    * casts double only at the end. */
  def correlation(s: SparkSession, d: String): DataFrame = {
    val x = floor(col("l_extendedprice"))
    val y = floor(col("l_quantity"))
    def big(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(38,0)")
    graft.Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((big(col("n")) * big(col("sxy")) - big(col("sx")) * big(col("sy")))
          .cast("double") /
          sqrt((big(col("n")) * big(col("sxx")) - big(col("sx")) * big(col("sx")))
            .cast("double") *
            (big(col("n")) * big(col("syy")) - big(col("sy")) * big(col("sy")))
              .cast("double")))
          .as("price_qty_corr"))
  }

  /** q121: HLL++ approximate distinct next to the exact count — the
    * 100 TB cardinality path. `approx_count_distinct` keeps a FIXED-SIZE
    * mergeable sketch per group (map-side partial, one shuffle of
    * sketches, never of values), where the exact path ships every
    * distinct value; at extreme cardinality the exact shuffle IS the
    * bottleneck and the sketch is the only plan that holds. Sketch
    * internals are engine-specific, so there is deliberately NO DuckDB
    * oracle (driver records the rows-only check); instead the query
    * carries the exact value in the next column and ProfilingSketchSpec
    * asserts the relative error stays inside the rsd bound (2% default
    * → assert 5% headroom). */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_uv"),
        approx_count_distinct(col("user_id")).as("approx_uv"))

  /** q122: approximate quantiles (Greenwald–Khanna) next to the exact
    * ones — same posture as q121: a fixed-size mergeable summary per
    * group vs the exact path's full sort. percentile_approx's rank
    * error ≤ 1/accuracy; ProfilingSketchSpec asserts the approximate
    * p50/p90/p99 each sit within the exact neighboring-rank envelope.
    * No oracle by design (summary internals are engine-specific). */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val accuracy = 1000
    graft.Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        expr(s"percentile_approx(o_totalprice, array(0.5, 0.9, 0.99), $accuracy)")
          .as("approx_p"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("exact_p50"),
        expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("exact_p90"),
        expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("exact_p99"))
      .select(col("o_orderstatus"), col("n"),
        col("approx_p")(0).as("approx_p50"),
        col("approx_p")(1).as("approx_p90"),
        col("approx_p")(2).as("approx_p99"),
        col("exact_p50"), col("exact_p90"), col("exact_p99"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_histogram" -> histogram,
    "q104_correlation" -> correlation,
    "q121_approx_distinct" -> approxDistinct,
    "q122_approx_quantiles" -> approxQuantiles)

  val oracle: Map[String, String] = Map(
    "q103_histogram" ->
      """SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9)
        |    AS bucket,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q104_correlation" ->
      """WITH s AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT) *
        |      CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(SUM(CAST(floor(l_quantity) AS BIGINT) *
        |      CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS syy,
        |    CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT) *
        |      CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sxx
        |        - CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * syy
        |        - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS price_qty_corr
        |FROM s""".stripMargin)
}

/** Reshaping pack: unpivot (melt) — the inverse of q54's pivot. */
object Extended6 extends graft.QueryPack {

  /** Wide → long: each order row melts its numeric KPIs into
    * (metric, value) rows. */
  def unpivotOrders(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey_d"))
      .unpivot(
        ids = Array(col("o_orderkey")),
        values = Array(col("o_totalprice"), col("o_custkey_d")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        graft.Num.dsum(col("value")).as("total"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q66_unpivot" -> unpivotOrders)

  val oracle: Map[String, String] = Map(
    "q66_unpivot" ->
      """WITH long AS (
        |  SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'o_custkey_d' AS metric,
        |    CAST(o_custkey AS DOUBLE) AS value
        |  FROM orders)
        |SELECT metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM long GROUP BY metric""".stripMargin)
}
