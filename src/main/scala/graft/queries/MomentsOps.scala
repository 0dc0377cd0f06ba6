package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-moment statistics — the sums-of-squares family computed
  * entirely in DECIMAL(38) so both engines agree digit-for-digit (the
  * q238 discipline; doubles would differ in the last ulp between a
  * parallel and a sequential sum):
  *
  *  - q282: one-way ANOVA moments — per region: n, Σx, Σx² and the
  *    n-scaled within-group sum of squares n_g·Σx² − (Σx)² (exact;
  *    dividing by n_g is the consumer's one float op), plus the grand
  *    row with the total SS. These are THE sufficient statistics of
  *    ANOVA — the engine's job is exactness, the F-ratio's division
  *    is left to the caller (the q276/q121 philosophy).
  *  - q283: r×c χ² independence census (region × order status):
  *    observed counts and the per-cell exact milli term
  *    (n·O − R·C)²·1000 div (n·R·C), DECIMAL(38) throughout
  *    (n·O and R·C reach ~10¹⁸; the square ~10³⁶ — inside 38 digits,
  *    far outside int64).
  *  - q284: covariance moments for (quantity, price, discount) —
  *    per variable pair: n, Σx, Σy, Σxy and the n-scaled covariance
  *    n·Σxy − Σx·Σy (positive ⇔ positive sample covariance).
  *
  * Scale (100 TB): each is ONE map-side-combinable aggregate (decimal
  * sums are associative); outputs are group- or pair-bounded. The
  * DECIMAL(38) ceiling is explicit: n·Σx² stays inside 38 digits up
  * to ~10¹² rows of 10⁸-unit values — past that, split the corpus or
  * widen to 2-limb sums (documented, the q134 rule).
  */
object MomentsOps extends graft.QueryPack {

  private val D = "DECIMAL(38,0)"

  /** q282: per-region ANOVA moments + grand total row.
    *
    * The wide moments (sum_x2 ~ 10¹⁹, ss_xn ~ 10²³) are emitted as
    * CANONICAL DECIMAL STRINGS: both engines compute them exactly in
    * DECIMAL(38)/HUGEINT, but the driver's compare path converts
    * numerics through float64, and distinct integers past 2⁵³ can
    * collapse to DIFFERENT nearest-doubles per engine (the r7 q282/q284
    * hash-mismatch). A string survives any numeric-type coercion — the
    * same device as q283's BIGINT-milli terms, for values that don't
    * fit ANY machine numeric. */
  def anovaMoments(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        expr(s"CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
          s" AS BIGINT) AS $D)").as("x"))
    val per = o.groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(D).as("sum_x"),
        sum(expr(s"CAST(x * x AS $D)")).cast(D).as("sum_x2"))
      .withColumn("ss_xn",
        expr(s"CAST(CAST(n AS $D) * sum_x2 - sum_x * sum_x AS $D)"))
    val grand = per.agg(lit("ALL").as("r_name"),
        sum(col("n")).as("n"),
        sum(col("sum_x")).cast(D).as("sum_x"),
        sum(col("sum_x2")).cast(D).as("sum_x2"))
      .withColumn("ss_xn",
        expr(s"CAST(CAST(n AS $D) * sum_x2 - sum_x * sum_x AS $D)"))
    per.unionByName(grand)
      .select(col("r_name"), col("n"),
        col("sum_x").cast("long").as("sum_x"),
        col("sum_x2").cast("string").as("sum_x2"),
        col("ss_xn").cast("string").as("ss_xn"))
      .orderBy(col("r_name"))
  }

  /** q283: region × order-status χ² cells, exact milli terms. */
  def chi2Independence(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("o_orderstatus"))
    val cells = o.groupBy(col("r_name"), col("o_orderstatus"))
      .agg(count(lit(1)).as("obs"))
    val rows = cells.groupBy(col("r_name"))
      .agg(sum(col("obs")).as("row_n"))
    val cols_ = cells.groupBy(col("o_orderstatus"))
      .agg(sum(col("obs")).as("col_n"))
    val n = cells.agg(sum(col("obs")).as("n"))
    cells.join(broadcast(rows), "r_name")
      .join(broadcast(cols_), "o_orderstatus")
      .crossJoin(broadcast(n))
      .select(col("r_name"), col("o_orderstatus"), col("obs"),
        expr(s"CAST((CAST(n AS $D) * obs - CAST(row_n AS $D) * col_n)" +
          s" * (CAST(n AS $D) * obs - CAST(row_n AS $D) * col_n)" +
          s" * 1000 div (CAST(n AS $D) * row_n * col_n) AS BIGINT)")
          .as("chi2_term_milli"))
      .orderBy(col("r_name"), col("o_orderstatus"))
  }

  private val Vars = Seq(
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price", "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
      " AS BIGINT)"),
    ("disc", "CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)"))

  /** q284: pairwise covariance moments over lineitem variables. */
  def covMatrix(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      Vars.map { case (nm, e) => expr(e).as(nm) }: _*)
    val pairs = for {
      (a, ia) <- Vars.map(_._1).zipWithIndex
      (b, ib) <- Vars.map(_._1).zipWithIndex if ia < ib
    } yield (a, b)
    val frames = pairs.map { case (a, b) =>
      li.agg(lit(s"${a}_$b").as("pair"),
          count(lit(1)).as("n"),
          sum(col(a).cast(D)).cast(D).as("sum_x"),
          sum(col(b).cast(D)).cast(D).as("sum_y"),
          sum(expr(s"CAST($a AS $D) * CAST($b AS $D)")).cast(D)
            .as("sum_xy"))
        .withColumn("cov_xn", expr(
          s"CAST(CAST(n AS $D) * sum_xy - sum_x * sum_y AS $D)"))
    }
    // sum_xy/cov_xn cross 2⁵³ (cov_xn ~ 10¹⁹ at sf0.1) — canonical
    // strings for the driver's float64 compare path (see anovaMoments)
    frames.reduce(_ unionByName _)
      .select(col("pair"), col("n"),
        col("sum_x").cast("long").as("sum_x"),
        col("sum_y").cast("long").as("sum_y"),
        col("sum_xy").cast("string").as("sum_xy"),
        col("cov_xn").cast("string").as("cov_xn"))
      .orderBy(col("pair"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q282_anova_moments" -> anovaMoments,
    "q283_chi2_independence" -> chi2Independence,
    "q284_cov_matrix" -> covMatrix)

  val oracle: Map[String, String] = Map(
    "q282_anova_moments" ->
      s"""WITH o AS (
         |  SELECT r_name,
         |    CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS $D) AS x
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey),
         |per AS (
         |  SELECT r_name, COUNT(*) AS n,
         |    CAST(SUM(x) AS $D) AS sum_x,
         |    CAST(SUM(CAST(x * x AS $D)) AS $D) AS sum_x2
         |  FROM o GROUP BY r_name),
         |allb AS (
         |  SELECT r_name, n, sum_x, sum_x2 FROM per
         |  UNION ALL
         |  SELECT 'ALL', CAST(SUM(n) AS BIGINT),
         |    CAST(SUM(sum_x) AS $D), CAST(SUM(sum_x2) AS $D)
         |  FROM per)
         |SELECT r_name, n, CAST(sum_x AS BIGINT) AS sum_x,
         |  CAST(CAST(sum_x2 AS HUGEINT) AS VARCHAR) AS sum_x2,
         |  CAST(CAST(CAST(n AS $D) * sum_x2 - sum_x * sum_x AS HUGEINT)
         |    AS VARCHAR) AS ss_xn
         |FROM allb ORDER BY r_name""".stripMargin,
    "q283_chi2_independence" ->
      s"""WITH o AS (
         |  SELECT r_name, o_orderstatus
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey),
         |cells AS (
         |  SELECT r_name, o_orderstatus, COUNT(*) AS obs
         |  FROM o GROUP BY 1, 2),
         |rws AS (SELECT r_name, CAST(SUM(obs) AS BIGINT) AS row_n
         |  FROM cells GROUP BY 1),
         |cls AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS col_n
         |  FROM cells GROUP BY 1),
         |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells)
         |SELECT c.r_name, c.o_orderstatus, c.obs,
         |  CAST((CAST(n AS HUGEINT) * obs - CAST(row_n AS HUGEINT) * col_n)
         |    * (CAST(n AS HUGEINT) * obs - CAST(row_n AS HUGEINT) * col_n)
         |    * 1000 // (CAST(n AS HUGEINT) * row_n * col_n) AS BIGINT)
         |    AS chi2_term_milli
         |FROM cells c
         |JOIN rws USING (r_name)
         |JOIN cls USING (o_orderstatus)
         |CROSS JOIN nn
         |ORDER BY c.r_name, c.o_orderstatus""".stripMargin,
    "q284_cov_matrix" -> {
      val selects = (for {
        (a, ia) <- Vars.zipWithIndex
        (b, ib) <- Vars.zipWithIndex if ia < ib
      } yield {
        val (an, ae) = a; val (bn, be) = b
        s"""SELECT '${an}_$bn' AS pair, COUNT(*) AS n,
           |  CAST(SUM(CAST($ae AS $D)) AS $D) AS sum_x,
           |  CAST(SUM(CAST($be AS $D)) AS $D) AS sum_y,
           |  CAST(SUM(CAST($ae AS $D) * CAST($be AS $D)) AS $D)
           |    AS sum_xy
           |FROM lineitem""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |$selects)
         |SELECT pair, n, CAST(sum_x AS BIGINT) AS sum_x,
         |  CAST(sum_y AS BIGINT) AS sum_y,
         |  CAST(CAST(sum_xy AS HUGEINT) AS VARCHAR) AS sum_xy,
         |  CAST(CAST(CAST(n AS $D) * sum_xy - sum_x * sum_y AS HUGEINT)
         |    AS VARCHAR) AS cov_xn
         |FROM m ORDER BY pair""".stripMargin
    })
}
