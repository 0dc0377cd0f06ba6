package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-surface completeness pack — features a user of a full SQL engine
  * expects beyond the operator inventory, each exercising a distinct
  * Catalyst capability:
  *
  *  - q216: GROUP BY GROUPING SETS with explicit GROUPING() flags —
  *    completes the q42 ROLLUP / q51 CUBE family with the free-form
  *    set list (Expand-based plan: one scan, one shuffle for all
  *    three groupings).
  *  - q217: CORRELATED scalar subqueries — Catalyst decorrelates the
  *    two per-nation aggregates into joins (RewriteCorrelatedScalarSubquery);
  *    the above-average predicate stays integral by cross-multiplying
  *    cents·count > sum instead of comparing against a fractional AVG
  *    (float averages differ across engines in the last ulp; integers
  *    cannot).
  *  - q218: LATERAL subquery with per-row LIMIT — top-2 orders per
  *    nation through the join chain, the "top-N per outer row"
  *    idiom stated as SQL rather than a window (DecorrelateInnerQuery
  *    turns it into a ranked join).
  *
  * All three run through `spark.sql` over `parquet.`…`` table refs —
  * the pure-SQL entry path (the reference's FlinkSQL jobs are this
  * shape; ref gmall-realtime DwdTradeOrderDetail SQL jobs).
  *
  * Scale: q216 is one Expand + one shuffle; q217's decorrelated
  * aggregates are map-side combinable per nation (dim-scale join
  * back); q218's lateral is nation-dim × ranked orders — Spark plans
  * it as a window-ranked join, never a per-row rescan.
  */
object SqlSurface extends graft.QueryPack {

  private def tbl(d: String, t: String) = s"parquet.`$d/$t.parquet`"

  /** q216: doc census at (lang), (source) and () granularities. */
  def groupingSets(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT grouping(lang) * 2 + grouping(source) AS gid,
         |  lang, source, COUNT(*) AS n_docs,
         |  SUM(n_chars) AS total_chars
         |FROM ${tbl(d, "documents")}
         |GROUP BY lang, source GROUPING SETS ((lang), (source), ())
         |ORDER BY gid, lang, source""".stripMargin)

  /** q217: per-nation census of above-nation-average balances. */
  def correlatedSubquery(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH c AS (
         |  SELECT c_custkey, c_nationkey,
         |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS cents
         |  FROM ${tbl(d, "customer")})
         |SELECT c_nationkey, COUNT(*) AS n_above,
         |  SUM(cents) AS above_cents
         |FROM c
         |WHERE cents * (SELECT COUNT(*) FROM c c2
         |                WHERE c2.c_nationkey = c.c_nationkey)
         |    > (SELECT SUM(c2.cents) FROM c c2
         |        WHERE c2.c_nationkey = c.c_nationkey)
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey""".stripMargin)

  /** q218: top-2 orders per nation via a LATERAL subquery. */
  def lateralTopOrders(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT n.n_name, t.o_orderkey, t.o_totalprice
         |FROM ${tbl(d, "nation")} n,
         |LATERAL (
         |  SELECT o.o_orderkey, o.o_totalprice
         |  FROM ${tbl(d, "orders")} o
         |  JOIN ${tbl(d, "customer")} c ON o.o_custkey = c.c_custkey
         |  WHERE c.c_nationkey = n.n_nationkey
         |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
         |ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey""".stripMargin)

  /** q250: the window-function surface in one query — ranking (ROW_NUMBER
    * / RANK / DENSE_RANK / NTILE), navigation (LAG / LEAD / FIRST_VALUE /
    * LAST_VALUE / NTH_VALUE) and relative position (PERCENT_RANK /
    * CUME_DIST) over each customer's order sequence. The ordering key
    * (day, orderkey) is unique, so every function is deterministic; the
    * relative-position doubles are exact small-integer ratios computed
    * identically by both engines. Restricted to customers with ≥ 2
    * orders so PERCENT_RANK's (n−1) denominator never hits zero.
    * Scale: one shuffle to custkey, per-customer sorts — no global sort. */
  def windowSurface(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH o AS (
         |  SELECT o_custkey AS custkey, o_orderkey AS ok,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS cents,
         |    unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000
         |      AS day
         |  FROM ${tbl(d, "orders")}),
         |w AS (
         |  SELECT custkey, ok, cents,
         |    COUNT(*) OVER (PARTITION BY custkey) AS n_orders,
         |    ROW_NUMBER() OVER win AS rn,
         |    RANK() OVER (PARTITION BY custkey ORDER BY cents DESC)
         |      AS rnk,
         |    DENSE_RANK() OVER (PARTITION BY custkey ORDER BY cents DESC)
         |      AS drnk,
         |    NTILE(4) OVER win AS quartile,
         |    LAG(cents) OVER win AS prev_cents,
         |    LEAD(cents) OVER win AS next_cents,
         |    FIRST_VALUE(cents) OVER win AS first_cents,
         |    LAST_VALUE(cents) OVER (PARTITION BY custkey
         |      ORDER BY day, ok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |      AS last_cents,
         |    NTH_VALUE(cents, 2) OVER (PARTITION BY custkey
         |      ORDER BY day, ok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS second_cents,
         |    PERCENT_RANK() OVER win AS pct_rank,
         |    CUME_DIST() OVER win AS cume
         |  FROM o
         |  WINDOW win AS (PARTITION BY custkey ORDER BY day, ok))
         |SELECT custkey, ok, cents, rn, rnk, drnk, quartile, prev_cents,
         |  next_cents, first_cents, last_cents, second_cents, pct_rank,
         |  cume
         |FROM w WHERE n_orders >= 2
         |ORDER BY custkey, rn""".stripMargin)

  /** q263: higher-order array-function surface — per-customer order
    * amounts collected into a SORTED array (sort_array makes the
    * nondeterministic collect_list order irrelevant), then reduced
    * with HOFs: aggregate (fold), element_at with negative indices,
    * zip_with over shifted slices (max adjacent gap). Customers with
    * ≥ 2 orders so every derived value is defined. Scale: one shuffle
    * to custkey; per-customer arrays are order-count sized. */
  def arraySurface(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH o AS (
         |  SELECT o_custkey AS custkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS cents
         |  FROM ${tbl(d, "orders")}),
         |arrs AS (
         |  SELECT custkey, sort_array(collect_list(cents)) AS arr
         |  FROM o GROUP BY custkey HAVING COUNT(*) >= 2)
         |SELECT custkey, size(arr) AS n_orders,
         |  aggregate(arr, 0L, (acc, x) -> acc + x) AS arr_sum,
         |  element_at(arr, -1) AS arr_max,
         |  element_at(arr, 1) AS arr_min,
         |  element_at(arr, -1) - element_at(arr, -2) AS top2_gap,
         |  array_max(zip_with(slice(arr, 2, size(arr) - 1),
         |    slice(arr, 1, size(arr) - 1), (a, b) -> a - b))
         |    AS max_step
         |FROM arrs ORDER BY custkey""".stripMargin)

  /** q274: DYNAMIC pivot — `pivot("source")` with no value list makes
    * Spark collect the distinct pivot values first (a driver-side
    * distinct on the dim-scale source column — the documented
    * justified-collect class, same as DimRouter's config read; q54 is
    * the static-list variant). Output: one row per lang, one count
    * column per source. The oracle states the materialized schema
    * (src0..src19) — which is exactly what the dynamic collect
    * discovers; a mismatch would fail the schema compare. */
  def dynamicPivot(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.functions.{col, count, lit}
    Tables.documents(s, d)
      .groupBy(col("lang")).pivot("source")
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("lang"))
  }

  /** q314: NULL-PRESERVING explode (explode_outer / posexplode_outer
    * semantics) — the 8-gram frame per doc INCLUDING docs too short
    * to produce any gram (a plain explode silently drops them — the
    * bug class q116's scaladoc warns about, here pinned as a
    * first-class row). Census: docs by gram-count band, with the
    * zero-gram class explicit and non-vacuous. */
  def explodeOuter(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val g = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode_outer(expr(
        "CASE WHEN size(ws) >= 12 THEN sequence(1, size(ws) - 11)" +
          " ELSE CAST(array() AS ARRAY<INT>) END")).as("i"))
    g.groupBy(col("doc_id"))
      .agg(sum(when(col("i").isNotNull, 1L).otherwise(0L)).as("n_grams"))
      .groupBy(expr("CASE WHEN n_grams = 0 THEN 'zero'" +
        " WHEN n_grams < 40 THEN 'short' ELSE 'long' END").as("band"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_grams")).as("min_g"),
        max(col("n_grams")).as("max_g"))
      .orderBy(col("band"))
  }

  /** q315: map-function surface — per-user event-type counts packed
    * into a MAP column (map_from_entries over the aggregated struct
    * list), then consumed with element_at / map_keys / the q263-style
    * HOF aggregate over map_values. Output is scalars only (map
    * iteration order is engine-specific — never emit a raw map to a
    * hash-compared sink; the documented reason this query projects
    * out). */
  def mapSurface(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.functions._
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"),
        col("n")))).as("m"))
      .select(col("user_id"),
        size(col("m")).as("n_types"),
        coalesce(expr("element_at(m, 'click')"), lit(0L))
          .as("n_click"),
        coalesce(expr("element_at(m, 'purchase')"), lit(0L))
          .as("n_purchase"),
        expr("aggregate(map_values(m), 0L, (a, x) -> a + x)")
          .as("n_total"),
        array_join(array_sort(map_keys(col("m"))), ",")
          .as("types_sorted"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q314_explode_outer" -> explodeOuter,
    "q315_map_surface" -> mapSurface,
    "q274_dynamic_pivot" -> dynamicPivot,
    "q216_grouping_sets" -> groupingSets,
    "q217_correlated_subquery" -> correlatedSubquery,
    "q218_lateral_topn" -> lateralTopOrders,
    "q250_window_surface" -> windowSurface,
    "q263_array_surface" -> arraySurface)

  val oracle: Map[String, String] = Map(
    "q314_explode_outer" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT) - 11,
        |      0) AS n_grams
        |  FROM documents)
        |SELECT CASE WHEN n_grams = 0 THEN 'zero'
        |    WHEN n_grams < 40 THEN 'short' ELSE 'long' END AS band,
        |  COUNT(*) AS n_docs,
        |  MIN(n_grams) AS min_g, MAX(n_grams) AS max_g
        |FROM g GROUP BY 1 ORDER BY band""".stripMargin,
    "q315_map_surface" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(COUNT(*) AS INTEGER) AS n_types,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN n END),
        |    0) AS BIGINT) AS n_click,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN n
        |    END), 0) AS BIGINT) AS n_purchase,
        |  CAST(SUM(n) AS BIGINT) AS n_total,
        |  array_to_string(list_sort(list(event_type)), ',')
        |    AS types_sorted
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q274_dynamic_pivot" -> {
      val srcCols = (0 until 20).map(i =>
        s"CAST(SUM(CASE WHEN source = 'src$i' THEN 1 ELSE 0 END)" +
          s" AS BIGINT) AS src$i").mkString(",\n  ")
      s"""SELECT lang,
         |  $srcCols
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q216_grouping_sets" ->
      """SELECT GROUPING(lang) * 2 + GROUPING(source) AS gid,
        |  lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY gid, lang, source""".stripMargin,
    "q217_correlated_subquery" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM customer)
        |SELECT c_nationkey, COUNT(*) AS n_above,
        |  CAST(SUM(cents) AS BIGINT) AS above_cents
        |FROM c
        |WHERE cents * (SELECT COUNT(*) FROM c c2
        |                WHERE c2.c_nationkey = c.c_nationkey)
        |    > (SELECT SUM(c2.cents) FROM c c2
        |        WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q218_lateral_topn" ->
      """SELECT n.n_name, t.o_orderkey, t.o_totalprice
        |FROM nation n,
        |LATERAL (
        |  SELECT o.o_orderkey, o.o_totalprice
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
        |ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "q250_window_surface" ->
      """WITH o AS (
        |  SELECT o_custkey AS custkey, o_orderkey AS ok,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    epoch_us(date_trunc('microseconds', o_orderdate))
        |      // 86400000000 AS day
        |  FROM orders),
        |w AS (
        |  SELECT custkey, ok, cents,
        |    COUNT(*) OVER (PARTITION BY custkey) AS n_orders,
        |    CAST(ROW_NUMBER() OVER win AS BIGINT) AS rn,
        |    CAST(RANK() OVER (PARTITION BY custkey ORDER BY cents DESC)
        |      AS BIGINT) AS rnk,
        |    CAST(DENSE_RANK() OVER (PARTITION BY custkey
        |      ORDER BY cents DESC) AS BIGINT) AS drnk,
        |    CAST(NTILE(4) OVER win AS BIGINT) AS quartile,
        |    LAG(cents) OVER win AS prev_cents,
        |    LEAD(cents) OVER win AS next_cents,
        |    FIRST_VALUE(cents) OVER win AS first_cents,
        |    LAST_VALUE(cents) OVER (PARTITION BY custkey
        |      ORDER BY day, ok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_cents,
        |    NTH_VALUE(cents, 2) OVER (PARTITION BY custkey
        |      ORDER BY day, ok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS second_cents,
        |    PERCENT_RANK() OVER win AS pct_rank,
        |    CUME_DIST() OVER win AS cume
        |  FROM o
        |  WINDOW win AS (PARTITION BY custkey ORDER BY day, ok))
        |SELECT custkey, ok, cents, rn, rnk, drnk, quartile, prev_cents,
        |  next_cents, first_cents, last_cents, second_cents, pct_rank,
        |  cume
        |FROM w WHERE n_orders >= 2
        |ORDER BY custkey, rn""".stripMargin,
    "q263_array_surface" ->
      """WITH o AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |arrs AS (
        |  SELECT custkey, list_sort(list(cents)) AS arr
        |  FROM o GROUP BY custkey HAVING COUNT(*) >= 2)
        |SELECT custkey, CAST(len(arr) AS INTEGER) AS n_orders,
        |  CAST(list_sum(arr) AS BIGINT) AS arr_sum,
        |  arr[-1] AS arr_max,
        |  arr[1] AS arr_min,
        |  arr[-1] - arr[-2] AS top2_gap,
        |  CAST(list_max(list_transform(
        |    list_zip(list_slice(arr, 2, len(arr)),
        |      list_slice(arr, 1, len(arr) - 1)),
        |    x -> x[1] - x[2])) AS BIGINT) AS max_step
        |FROM arrs ORDER BY custkey""".stripMargin)
}
