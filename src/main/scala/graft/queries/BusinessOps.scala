package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Business-analytics operators over the event/order streams:
  *
  *  - q200: RFM segmentation — recency/frequency/monetary quintiles per
  *    customer (NTILE with full deterministic tie-breaks: metric then
  *    custkey; 5 = best by classic RFM convention), rolled up to
  *    segment-level counts and revenue. The windows run over the
  *    CUSTOMER aggregate (dim-scale, the q199 precedent); at extreme
  *    customer counts the same quintile boundaries come from a
  *    counts-of-counts frame (the q161 device, documented trade).
  *  - q201: association rules from within-order co-purchases — directed
  *    rules a→b with integer support/confidence/lift in ppm
  *    (lift = pair_n·N·10⁶ div (n_a·n_b), the cross-multiplied form
  *    that never materializes a fraction), min-support filtered,
  *    top-25 by lift.
  *  - q208: decile lift/gains table — customers scored by balance
  *    (the stand-in propensity score), NTILE(10) deciles, per-decile
  *    revenue share and cumulative gain vs the uniform baseline
  *    (lift_ppm = cum_cents·10·10⁶ div (total·k)). The model-eval
  *    readout every targeting pipeline publishes.
  *  - q196: time-to-convert distribution — hours from a user's first
  *    touch (view/click) to their first high-value purchase, with
  *    exact p50/p90 from a counts-of-counts frame (the q161 device —
  *    never a global sort of users).
  *  - q198: co-purchase part pairs ("frequently bought together") —
  *    the self-join-within-order market-basket primitive; the
  *    per-order line cap (TPC-H ≤ 7) is what bounds the pair
  *    explosion, and the join is co-partitioned on the order key (one
  *    shuffle each side, AQE-broadcastable).
  *  - q199: revenue concentration — the exact Gini coefficient over
  *    per-customer revenue in integer cents,
  *    G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with xᵢ sorted ascending;
  *    rank products in DECIMAL(38,0). Ties don't disturb the sum
  *    (equal x under any tie order contribute identically).
  *
  * Ref: the reference's trade-stats endpoints (PublisherController)
  * chart conversion and GMV concentration; these add the
  * distributional math.
  *
  * Scale (100 TB): q196 reduces the event scan to two per-user MINs
  * (one map-side-combinable aggregate), then works on the bounded
  * delta-hours frame. q198's only corpus-scale stage is the
  * orderkey-partitioned self-join; pair counts are vocabulary-bounded
  * (parts²) with map-side combine. q199 sorts the CUSTOMER aggregate
  * (dim-scale, not fact-scale) once; at extreme customer counts the
  * same statistic is computable from a cents-granularity
  * counts-of-counts frame (documented trade).
  */
object BusinessOps extends graft.QueryPack {

  /** q200: RFM segment census — one row per populated R·100+F·10+M cell. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val os = Tables.orders(s, d)
    val maxd = os.agg(max(col("o_orderdate")).as("maxd"))
    val perCust = os.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          " AS BIGINT)")).as("cents"))
      .crossJoin(broadcast(maxd))
      .withColumn("rec_days",
        expr("(unix_micros(CAST(maxd AS TIMESTAMP))" +
          " - unix_micros(CAST(last_order AS TIMESTAMP)))" +
          " div 86400000000"))
    perCust
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("rec_days").desc, col("o_custkey"))))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq"), col("o_custkey"))))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("cents"), col("o_custkey"))))
      .groupBy(expr("r_score * 100 + f_score * 10 + m_score")
        .as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("segment_cents"))
      .orderBy(col("segment"))
  }

  private val MinSupport = 3L

  /** q201: top-25 directed association rules by integer lift. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // basket form (r16): ONE groupBy(order) pass builds the per-order
    // distinct part set; the pair enumeration is a double explode inside
    // one codegen stage instead of a distinct + self-join — this drops
    // the (ok,pk) distinct exchange and BOTH self-join shuffles (guide
    // §2.4; §3.3 "explode after the join" inverted: here the join WAS
    // the explode). Basket sizes are bounded by parts-per-order, so the
    // per-row quadratic generate cannot skew a task.
    val baskets = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val perPart = baskets.select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = baskets
      .select(explode(col("parts")).as("ante"), col("parts"))
      .select(col("ante"),
        explode(expr("filter(parts, p -> p != ante)")).as("cons"))
      .groupBy(col("ante"), col("cons"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= MinSupport)
    pairs
      .join(perPart.withColumnRenamed("pk", "ante")
        .withColumnRenamed("n_part", "n_ante"), "ante")
      .join(perPart.withColumnRenamed("pk", "cons")
        .withColumnRenamed("n_part", "n_cons"), "cons")
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("pair_n"),
        expr("pair_n * 1000000 div n_ante").as("conf_ppm"),
        // DECIMAL(38,0): pair_n·n_orders·1e6 multiplies two corpus-scale
        // counts and overflows BIGINT once their product passes ~9e12
        // (the q208 r13 lesson; oracle HUGEINT in lockstep)
        expr("CAST(pair_n AS DECIMAL(38,0)) * n_orders * 1000000" +
          " div (n_ante * n_cons)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
        col("ante"), col("cons"))
      .limit(25)
  }

  /** q208: 10-row gains table over balance-scored customers. */
  def decileLift(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("cents"))
    val scored = Tables.customer(s, d)
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("c_acctbal").desc, col("c_custkey"))))
    val tot = scored.agg(sum(col("cents")).as("total_cents"))
    scored.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("decile_cents"))
      .withColumn("cum_cents", sum(col("decile_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      // ppm math in DECIMAL(38,0): cum_cents*1e7 overflows BIGINT once
      // total revenue passes ~9e11 cents — found by the r13 sf0.1 full
      // gate (ANSI ARITHMETIC_OVERFLOW; DuckDB silently widens to
      // HUGEINT, which is why the sf0.01 gate never saw it). `div` on
      // decimals is IntegralDivide → BIGINT, and all operands are
      // positive, so truncation ≡ DuckDB's `//`
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div total_cents")
          .as("cum_gain_ppm"),
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 10 * 1000000" +
          " div (CAST(total_cents AS DECIMAL(38,0)) * decile)")
          .as("lift_ppm"))
      .orderBy(col("decile"))
  }

  /** q239: order-to-ship lag percentiles per order month — exact
    * p50/p90 from per-month lag-day histograms (the q161 device,
    * partitioned by month: the lag domain is bounded by the fulfilment
    * window, so the frames stay tiny at any order volume). */
  def shipLag(s: SparkSession, d: String): DataFrame = {
    val lags = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        expr("year(CAST(o_orderdate AS TIMESTAMP)) * 100" +
          " + month(CAST(o_orderdate AS TIMESTAMP))").as("ym"),
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
          " - unix_micros(CAST(o_orderdate AS TIMESTAMP)))" +
          " div 86400000000").as("lag_d"))
    val n = lags.groupBy(col("ym")).agg(count(lit(1)).as("n"))
    lags.groupBy(col("ym"), col("lag_d")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("ym")).orderBy(col("lag_d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(n), "ym")
      .groupBy(col("ym"))
      .agg(max(col("n")).as("n_lines"),
        min(when(col("cum") * 2 >= col("n"), col("lag_d")))
          .as("p50_days"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lag_d")))
          .as("p90_days"))
      .orderBy(col("ym"))
  }

  /** q240: supplier concentration (Herfindahl–Hirschman index) per part
    * type — HHI = Σ share² over supplier revenue shares, carried as
    * Σ share_ppm² div 10⁶ ∈ [0, 10⁶]. Shares from one co-partitioned
    * lineitem×part join; the HHI sum is per-(type, supplier) —
    * vocabulary-bounded. */
  def supplierHhi(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("cents"))
    val tot = rev.groupBy(col("p_type")).agg(sum(col("cents")).as("t"),
      count_distinct(col("l_suppkey")).as("n_suppliers"))
    rev.join(broadcast(tot), "p_type")
      .withColumn("share_ppm", expr("cents * 1000000 div t"))
      .groupBy(col("p_type"))
      .agg(max(col("n_suppliers")).as("n_suppliers"),
        expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)")
          .as("hhi_ppm"))
      .orderBy(col("p_type"))
  }

  /** q196: one row — conversion-lag distribution in whole hours. */
  def timeToConvert(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type").isin("view", "click"), col("ts")))
          .as("first_touch"),
        min(when(col("event_type") === "purchase" && col("value") > 90,
          col("ts"))).as("first_conv"))
      .filter(col("first_touch").isNotNull && col("first_conv").isNotNull &&
        col("first_conv") >= col("first_touch"))
      .select(expr(
        "(unix_micros(first_conv) - unix_micros(first_touch))" +
          " div 3600000000 AS lag_h"))
    val coc = perUser.groupBy(col("lag_h")).agg(count(lit(1)).as("freq"))
      .withColumn("cum", sum(col("freq")).over(
        Window.orderBy(col("lag_h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    coc.crossJoin(broadcast(
        perUser.agg(count(lit(1)).as("n_converted"))))
      .agg(max(col("n_converted")).as("n_converted"),
        min(when(col("cum") >= expr("((n_converted - 1) * 50) div 100") + 1,
          col("lag_h"))).as("p50_hours"),
        min(when(col("cum") >= expr("((n_converted - 1) * 90) div 100") + 1,
          col("lag_h"))).as("p90_hours"),
        max(col("lag_h")).as("max_hours"))
  }

  /** q198: top-20 part pairs bought within the same order. */
  def copurchasePairs(s: SparkSession, d: String): DataFrame = {
    // basket form (the q201 rewrite, guide §2.4): ONE
    // groupBy(l_orderkey)/collect_set pass builds the per-order
    // distinct part set; the ordered-pair enumeration is a double
    // explode inside one codegen stage — the old (ok,pk) distinct
    // exchange AND both shuffle legs of the ok-keyed self-join are
    // gone. Basket sizes are bounded by parts-per-order, so the
    // per-row quadratic generate cannot skew a task at any scale.
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("part_a"), col("parts"))
      .select(col("part_a"),
        explode(expr("filter(parts, p -> p > part_a)")).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** q199: one row — exact revenue Gini over per-customer cents. */
  def revenueGini(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("cents"))
    rev
      .withColumn("i", row_number().over(
        Window.orderBy(col("cents"), col("o_custkey"))))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(expr("CAST(i AS DECIMAL(38,0)) * cents")).as("ri"))
      .selectExpr("n_customers", "total_cents",
        "CAST((2 * ri - CAST(n_customers + 1 AS DECIMAL(38,0)) * total_cents)" +
          " * 1000000 div (CAST(n_customers AS DECIMAL(38,0)) * total_cents)" +
          " AS BIGINT) AS gini_ppm")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_time_to_convert" -> timeToConvert,
    "q198_copurchase_pairs" -> copurchasePairs,
    "q199_revenue_gini" -> revenueGini,
    "q200_rfm_segments" -> rfmSegments,
    "q201_assoc_rules" -> assocRules,
    "q208_decile_lift" -> decileLift,
    "q239_ship_lag" -> shipLag,
    "q240_supplier_hhi" -> supplierHhi)

  val oracle: Map[String, String] = Map(
    "q239_ship_lag" ->
      """WITH lags AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    (epoch_us(date_trunc('microseconds', l_shipdate))
        |      - epoch_us(date_trunc('microseconds', o_orderdate)))
        |      // 86400000000 AS lag_d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |n AS (SELECT ym, COUNT(*) AS n FROM lags GROUP BY ym),
        |vc AS (
        |  SELECT ym, lag_d, COUNT(*) AS c FROM lags GROUP BY ym, lag_d),
        |cum AS (
        |  SELECT ym, lag_d,
        |    SUM(c) OVER (PARTITION BY ym ORDER BY lag_d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc)
        |SELECT cum.ym, MAX(n) AS n_lines,
        |  MIN(CASE WHEN cum * 2 >= n THEN lag_d END) AS p50_days,
        |  MIN(CASE WHEN cum * 10 >= n * 9 THEN lag_d END) AS p90_days
        |FROM cum JOIN n ON cum.ym = n.ym
        |GROUP BY cum.ym ORDER BY 1""".stripMargin,
    "q240_supplier_hhi" ->
      """WITH rev AS (
        |  SELECT p_type, l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_type, l_suppkey),
        |tot AS (
        |  SELECT p_type, CAST(SUM(cents) AS BIGINT) AS t,
        |    COUNT(DISTINCT l_suppkey) AS n_suppliers
        |  FROM rev GROUP BY p_type)
        |SELECT rev.p_type, MAX(n_suppliers) AS n_suppliers,
        |  CAST(SUM((cents * 1000000 // t) * (cents * 1000000 // t))
        |    // 1000000 AS BIGINT) AS hhi_ppm
        |FROM rev JOIN tot ON rev.p_type = tot.p_type
        |GROUP BY rev.p_type ORDER BY 1""".stripMargin,
    "q200_rfm_segments" ->
      """WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        |pc AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |sc AS (
        |  SELECT o_custkey, freq, cents,
        |    (epoch_us(maxd) - epoch_us(last_order)) // 86400000000
        |      AS rec_days
        |  FROM pc CROSS JOIN maxd),
        |scored AS (
        |  SELECT cents,
        |    ntile(5) OVER (ORDER BY rec_days DESC, o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
        |  FROM sc)
        |SELECT r_score * 100 + f_score * 10 + m_score AS segment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS segment_cents
        |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin,
    "q201_assoc_rules" ->
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
         |pp AS (SELECT pk, COUNT(*) AS n_part FROM li GROUP BY pk),
         |pairs AS (
         |  SELECT x.pk AS ante, y.pk AS cons, COUNT(*) AS pair_n
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk <> y.pk
         |  GROUP BY x.pk, y.pk
         |  HAVING COUNT(*) >= $MinSupport)
         |SELECT ante, cons, pair_n,
         |  pair_n * 1000000 // a.n_part AS conf_ppm,
         |  CAST(CAST(pair_n AS HUGEINT) * n_orders * 1000000
         |    // (a.n_part * c.n_part) AS BIGINT) AS lift_ppm
         |FROM pairs
         |  JOIN pp a ON ante = a.pk
         |  JOIN pp c ON cons = c.pk
         |  CROSS JOIN n
         |ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons
         |LIMIT 25""".stripMargin,
    "q208_decile_lift" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT c_custkey, COALESCE(cents, 0) AS cents,
        |    ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
        |dec AS (
        |  SELECT decile, COUNT(*) AS n_customers,
        |    CAST(SUM(cents) AS BIGINT) AS decile_cents
        |  FROM scored GROUP BY decile),
        |cum AS (
        |  SELECT decile, n_customers, decile_cents,
        |    SUM(decile_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_cents
        |  FROM dec),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents
        |  FROM scored)
        |SELECT decile, n_customers, decile_cents,
        |  CAST(CAST(cum_cents AS HUGEINT) * 1000000 // total_cents
        |    AS BIGINT) AS cum_gain_ppm,
        |  CAST(CAST(cum_cents AS HUGEINT) * 10 * 1000000
        |    // (CAST(total_cents AS HUGEINT) * decile)
        |    AS BIGINT) AS lift_ppm
        |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin,
    "q196_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type IN ('view', 'click') THEN ts END)
        |      AS first_touch,
        |    MIN(CASE WHEN event_type = 'purchase' AND value > 90 THEN ts END)
        |      AS first_conv
        |  FROM ev GROUP BY user_id),
        |lags AS (
        |  SELECT (epoch_us(first_conv) - epoch_us(first_touch))
        |      // 3600000000 AS lag_h
        |  FROM pu
        |  WHERE first_touch IS NOT NULL AND first_conv IS NOT NULL
        |    AND first_conv >= first_touch),
        |coc AS (SELECT lag_h, COUNT(*) AS freq FROM lags GROUP BY lag_h),
        |cum AS (
        |  SELECT lag_h, SUM(freq) OVER (ORDER BY lag_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM coc),
        |n AS (SELECT COUNT(*) AS n_converted FROM lags)
        |SELECT MAX(n_converted) AS n_converted,
        |  MIN(CASE WHEN cum >= ((n_converted - 1) * 50) // 100 + 1
        |    THEN lag_h END) AS p50_hours,
        |  MIN(CASE WHEN cum >= ((n_converted - 1) * 90) // 100 + 1
        |    THEN lag_h END) AS p90_hours,
        |  MAX(lag_h) AS max_hours
        |FROM cum CROSS JOIN n""".stripMargin,
    "q198_copurchase_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT x.pk AS part_a, y.pk AS part_b, COUNT(*) AS n_orders
        |FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |GROUP BY x.pk, y.pk
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q199_revenue_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS i
        |  FROM rev)
        |SELECT COUNT(*) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST((2 * SUM(CAST(i AS HUGEINT) * cents)
        |      - CAST(COUNT(*) + 1 AS HUGEINT) * SUM(cents))
        |    * 1000000
        |    // (CAST(COUNT(*) AS HUGEINT) * SUM(cents)) AS BIGINT)
        |    AS gini_ppm
        |FROM ranked""".stripMargin)
}
