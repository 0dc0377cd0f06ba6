package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operating-curve queries — the parameter tables one reads BEFORE
  * fixing a pipeline constant (the q229/q255 sweep discipline):
  *
  *  - q295: dedup threshold curve — for Jaccard thresholds {0.005,
  *    0.015, 0.025} (milli, integer cross-multiplication — no float
  *    ratio), the candidate-edge count, docs touched, cluster count
  *    and docs a keep-one-per-cluster pass would remove. Reuses the
  *    verified q31 pair frame and the q159 star closure per
  *    threshold; the oracle re-runs THREE recursive-CTE closures.
  *  - q296: quality-quintile × source matrix — per-doc lexical
  *    diversity (distinct·10⁶ div tokens), pooled exact quintiles by
  *    the counts-of-counts device, doc counts per (source, quintile):
  *    the table that shows WHERE the low-quality mass lives.
  *  - q297: context-packing padding-waste curve — for max_len ∈
  *    {128, 256, 512, 1024}: chunk slots (Σ ceil(tok/L)), padded
  *    tokens, waste ppm. The training-batch design table; ceil is
  *    (t + L − 1) div L, integer in both engines.
  *
  * Scale: q295's per-threshold work is edge-frame-sized (the pair
  * frame is computed once); q296's window runs on the bounded ppm
  * domain; q297 is one scan + a 4-way literal explode.
  */
object CurveOps extends graft.QueryPack {

  // Thresholds sit in the corpus's ACTUAL candidate-Jaccard range
  // (max ≈ 30 milli here — tiny vocabulary ⇒ incidental shingle
  // overlap): {200, 333, 500} milli were verified to yield an
  // all-zero curve at sf0.01 and rejected (the q237 vacuity rule).
  private val ThreshMilli = Seq(5L, 15L, 25L)

  /** q295: clusters/removals as a function of the Jaccard threshold.
    * The three per-threshold star closures are INDEPENDENT iterative
    * loops whose cost is job-latency, not data (each round is a tiny
    * checkpoint + convergence action) — so they run on a 3-thread pool
    * and their rounds interleave on the idle cores (guide §2.6,
    * overlap independent jobs; Spark's scheduler is thread-safe and
    * FIFO back-fills). Results are identical: each thread builds its
    * own frame, the union after the join is deterministic. */
  def dedupCurve(s: SparkSession, d: String): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pairs = TextOps.ngramJaccard(s, d)
      .stable() // reused by all three thresholds
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(ThreshMilli.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
    val frames = ThreshMilli.map { t => Future {
      val edges = pairs.filter(
        col("inter_size") * 1000 >= col("union_size") * t)
      val cc = GraphOps.largeSmallStar(s,
        edges.select(col("doc_a"), col("doc_b")))
      edges.agg(count(lit(1)).as("n_edges")).crossJoin(
          cc.agg(count(lit(1)).as("n_docs"),
            count_distinct(col("cluster_rep")).as("n_clusters")))
        .select(lit(t).as("thresh_milli"), col("n_edges"),
          col("n_docs"), col("n_clusters"),
          (col("n_docs") - col("n_clusters")).as("n_removed"))
    } }
    // finite so a hung closure fails DIAGNOSABLY (a TimeoutException
    // naming the query) instead of blocking the suite forever; generous
    // enough that no legitimate run at any SF approaches it (r16)
    val built = frames.map(Await.result(_, Duration(1, "hour")))
    built.reduce(_ unionAll _).orderBy(col("thresh_milli"))
    } finally pool.shutdown()
  }

  /** q296: source × pooled-diversity-quintile doc counts. */
  def qualityQuintiles(s: SparkSession, d: String): DataFrame = {
    val perDoc = TextOps.words(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("doc_id"), col("source"))
      .agg(expr("(count(DISTINCT word) * 1000000) div count(1)")
        .as("div_ppm"))
    val freq = perDoc.groupBy(col("div_ppm"))
      .agg(count(lit(1)).as("f"))
    // corpus total n = Σf over the BOUNDED div_ppm histogram (full-frame
    // ROWS window in the same window pass as `below`) — the old separate
    // perDoc.agg(count) re-ran the whole words pipeline a third time
    // just to build a 1-row broadcast (guide §1.2/§2.4); same integers
    val hw = Window.orderBy(col("div_ppm"))
    val buckets = freq
      .withColumn("below", coalesce(sum(col("f")).over(hw
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("f")).over(hw
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("div_ppm"),
        expr("(below * 5) div n + 1").as("quintile"))
    perDoc.join(broadcast(buckets), "div_ppm")
      .groupBy(col("source"), col("quintile"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("quintile"))
  }

  private val PackLens = Seq(128L, 256L, 512L, 1024L)

  /** q297: padding waste per candidate context length. */
  def paddingWaste(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(expr("size(split(text, ' '))").cast("long").as("t"))
    val lens = PackLens.map(l => lit(l)).toArray
    toks.select(col("t"), explode(array(lens: _*)).as("max_len"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("total_tokens"),
        sum(expr("(t + max_len - 1) div max_len")).as("slots"))
      .select(col("max_len"), col("n_docs"), col("total_tokens"),
        col("slots"),
        (col("slots") * col("max_len") - col("total_tokens"))
          .as("pad_tokens"),
        expr("((slots * max_len - total_tokens) * 1000000)" +
          " div (slots * max_len)").as("waste_ppm"))
      .orderBy(col("max_len"))
  }

  /** q298: MinHash calibration table — for every doc pair in the
    * capped corpus, the 4-seed signature agreement (0..4 matches)
    * versus the EXACT word-set Jaccard, aggregated per agreement
    * level: pair count and mean/min/max exact Jaccard (milli). The
    * table that tells you what "k of 4 minhashes agree" actually
    * means on your corpus — the empirical counterpart of the
    * E[matches] = 4·J identity. Word-level on BOTH sides (q29's
    * measure); doc_id < 100 keeps the all-pairs frame at the q31 cap.
    * Mean is integer div; the identity is monotone mean-by-level,
    * asserted in the spec. */
  def minhashCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    val dw = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word")).distinct()
      .stable() // pair join + per-doc counts
    val nw = dw.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val inter = dw.as("a").join(dw.as("b"),
        col("a.word") === col("b.word") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val jac = inter
      .join(nw.select(col("doc_id").as("da"), col("nw").as("na")), "da")
      .join(nw.select(col("doc_id").as("db"), col("nw").as("nb")), "db")
      .select(col("da"), col("db"),
        expr("(inter * 1000) div (na + nb - inter)").as("jac_milli"))
    val sigs = TextOps.minhashSignatures(s, d)
      .join(docs.select(col("doc_id")), "doc_id")
    val est = sigs.as("x").join(sigs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        ((col("x.mh1") === col("y.mh1")).cast("long") +
          (col("x.mh2") === col("y.mh2")).cast("long") +
          (col("x.mh3") === col("y.mh3")).cast("long") +
          (col("x.mh4") === col("y.mh4")).cast("long")).as("n_matches"))
    est.join(jac, Seq("da", "db"), "left")
      .select(col("n_matches"),
        coalesce(col("jac_milli"), lit(0L)).as("jac_milli"))
      .groupBy(col("n_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jac_milli) div count(1)").as("mean_jac_milli"),
        min(col("jac_milli")).as("min_jac_milli"),
        max(col("jac_milli")).as("max_jac_milli"))
      .orderBy(col("n_matches"))
  }

  /** q306: top-k stability under deterministic 50% sampling — the
    * part-revenue top-k from the FULL corpus vs from the q49-style
    * salted-hash half sample, overlap and Jaccard per k ∈ {10, 50,
    * 100}: the fidelity table that says whether a cheap sampled scan
    * can drive the leaderboard. Everything deterministic (the salted
    * polynomial inclusion hash — the q195 affine-trap-safe device). */
  def topkStability(s: SparkSession, d: String): DataFrame = {
    graft.functions.GramOps.register(s)
    val li = Tables.lineitem(s, d).select(col("l_partkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)").as("cents"),
      expr("element_at(gram_hashes(concat('smp: ', CAST(l_orderkey" +
        " AS STRING), ':', CAST(l_linenumber AS STRING)), 2), 1)")
        .as("h"))
    val full = li.groupBy(col("l_partkey"))
      .agg(sum(col("cents")).as("rev"))
    val samp = li.filter(col("h") % 2 === 0)
      .groupBy(col("l_partkey"))
      .agg(sum(col("cents")).as("rev"))
    import org.apache.spark.sql.expressions.Window
    def ranked(f: DataFrame) = f.withColumn("rk", row_number().over(
      Window.orderBy(col("rev").desc, col("l_partkey"))))
    val fr = ranked(full).stable()
    val sr = ranked(samp).stable()
    val frames = Seq(10, 50, 100).map { k =>
      val a = fr.filter(col("rk") <= k).select(col("l_partkey"))
      val b = sr.filter(col("rk") <= k).select(col("l_partkey"))
      a.join(b, Seq("l_partkey"), "left_semi")
        .agg(count(lit(1)).as("overlap"))
        .select(lit(k.toLong).as("k"), col("overlap"),
          expr(s"(overlap * 1000) div (2 * $k - overlap)")
            .as("jaccard_milli"))
    }
    frames.reduce(_ unionAll _).orderBy(col("k"))
  }

  /** q307: leaderboard churn — per nation, yearly revenue rank and
    * the total |Δrank| across consecutive years (the volatility of
    * the standings; bounded nation×year frame). */
  def rankChurn(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val yearly = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("rev"))
    val ranked = yearly.withColumn("rk", rank().over(
      Window.partitionBy(col("yr")).orderBy(col("rev").desc)))
    ranked.withColumn("prev_rk", lag(col("rk"), 1).over(
        Window.partitionBy(col("n_name")).orderBy(col("yr"))))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_years"),
        min(col("rk")).as("best_rank"), max(col("rk")).as("worst_rank"),
        sum(when(col("prev_rk").isNotNull,
          abs(col("rk") - col("prev_rk"))).otherwise(0L))
          .as("total_rank_churn"))
      .orderBy(col("n_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q295_dedup_curve" -> dedupCurve,
    "q296_quality_quintiles" -> qualityQuintiles,
    "q297_padding_waste" -> paddingWaste,
    "q298_minhash_calibration" -> minhashCalibration,
    "q306_topk_stability" -> topkStability,
    "q307_rank_churn" -> rankChurn)

  val oracle: Map[String, String] = Map(
    "q306_topk_stability" -> {
      val hs = OracleHash.polySql(
        "'smp: ' || CAST(l_orderkey AS VARCHAR) || ':' ||" +
          " CAST(l_linenumber AS VARCHAR)")
      val branches = Seq(10, 50, 100).map(k =>
        s"""SELECT $k AS k,
           |  (SELECT COUNT(*) FROM
           |    (SELECT l_partkey FROM fr WHERE rk <= $k) a
           |    JOIN (SELECT l_partkey FROM sr WHERE rk <= $k) b
           |    USING (l_partkey)) AS overlap""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH li AS (
         |  SELECT l_partkey,
         |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS cents,
         |    $hs AS h
         |  FROM lineitem),
         |fr AS (
         |  SELECT l_partkey,
         |    ROW_NUMBER() OVER (ORDER BY SUM(cents) DESC, l_partkey)
         |      AS rk
         |  FROM li GROUP BY l_partkey),
         |sr AS (
         |  SELECT l_partkey,
         |    ROW_NUMBER() OVER (ORDER BY SUM(cents) DESC, l_partkey)
         |      AS rk
         |  FROM li WHERE h % 2 = 0 GROUP BY l_partkey),
         |o AS ($branches)
         |SELECT k, CAST(overlap AS BIGINT) AS overlap,
         |  CAST((overlap * 1000) // (2 * k - overlap) AS BIGINT)
         |    AS jaccard_milli
         |FROM o ORDER BY k""".stripMargin
    },
    "q307_rank_churn" ->
      """WITH yearly AS (
        |  SELECT n_name, year(o_orderdate) AS yr,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, yr,
        |    RANK() OVER (PARTITION BY yr ORDER BY rev DESC) AS rk
        |  FROM yearly),
        |l AS (
        |  SELECT n_name, rk,
        |    LAG(rk) OVER (PARTITION BY n_name ORDER BY yr) AS prev_rk
        |  FROM rk)
        |SELECT n_name, COUNT(*) AS n_years,
        |  CAST(MIN(rk) AS BIGINT) AS best_rank,
        |  CAST(MAX(rk) AS BIGINT) AS worst_rank,
        |  CAST(SUM(CASE WHEN prev_rk IS NOT NULL
        |    THEN abs(rk - prev_rk) ELSE 0 END) AS BIGINT)
        |    AS total_rank_churn
        |FROM l GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q298_minhash_calibration" -> {
      def h(k: Int) = OracleHash.polySql(s"'s$k: ' || word")
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE doc_id < 100),
         |dw AS (SELECT DISTINCT doc_id, word FROM w),
         |nw AS (SELECT doc_id, COUNT(*) AS nw FROM dw GROUP BY 1),
         |vh AS MATERIALIZED (
         |  SELECT word,
         |    ${h(1)} AS h1,
         |    ${h(2)} AS h2,
         |    ${h(3)} AS h3,
         |    ${h(4)} AS h4
         |  FROM (SELECT DISTINCT word FROM dw)),
         |mh AS (
         |  SELECT doc_id, MIN(h1) AS m1, MIN(h2) AS m2,
         |    MIN(h3) AS m3, MIN(h4) AS m4
         |  FROM dw JOIN vh USING (word) GROUP BY doc_id),
         |i AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM dw a JOIN dw b
         |    ON a.word = b.word AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT da, db,
         |    (inter * 1000) // (na.nw + nb.nw - inter) AS jac_milli
         |  FROM i
         |  JOIN nw na ON na.doc_id = da
         |  JOIN nw nb ON nb.doc_id = db),
         |est AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db,
         |    CAST((CASE WHEN x.m1 = y.m1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN x.m2 = y.m2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN x.m3 = y.m3 THEN 1 ELSE 0 END)
         |      + (CASE WHEN x.m4 = y.m4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_matches
         |  FROM mh x JOIN mh y ON x.doc_id < y.doc_id),
         |jj AS (
         |  SELECT n_matches,
         |    CAST(COALESCE(jac_milli, 0) AS BIGINT) AS jac_milli
         |  FROM est LEFT JOIN jac USING (da, db))
         |SELECT n_matches, COUNT(*) AS n_pairs,
         |  CAST(SUM(jac_milli) // COUNT(*) AS BIGINT)
         |    AS mean_jac_milli,
         |  MIN(jac_milli) AS min_jac_milli,
         |  MAX(jac_milli) AS max_jac_milli
         |FROM jj GROUP BY n_matches ORDER BY n_matches""".stripMargin
    },
    "q295_dedup_curve" -> {
      def perThresh(t: Long): String =
        s"""e$t AS (
           |  SELECT da AS u, db AS v FROM pe
           |  WHERE inter * 1000 >= un * $t
           |  UNION
           |  SELECT db, da FROM pe WHERE inter * 1000 >= un * $t),
           |n$t AS (SELECT DISTINCT u FROM e$t),
           |r$t(u, v) AS (
           |  SELECT u, v FROM e$t
           |  UNION
           |  SELECT r.u, e.v FROM r$t r JOIN e$t e ON r.v = e.u),
           |l$t AS (
           |  SELECT n.u, LEAST(n.u, MIN(r.v)) AS ent
           |  FROM n$t n JOIN r$t r ON r.u = n.u GROUP BY n.u)""".stripMargin
      val summaries = ThreshMilli.map(t =>
        s"""SELECT $t AS thresh_milli,
           |  (SELECT COUNT(*) FROM pe WHERE inter * 1000 >= un * $t)
           |    AS n_edges,
           |  COUNT(*) AS n_docs,
           |  COUNT(DISTINCT ent) AS n_clusters,
           |  COUNT(*) - COUNT(DISTINCT ent) AS n_removed
           |FROM l$t""".stripMargin).mkString("\nUNION ALL\n")
      s"""${Advanced.pairsCte},
         |cnts AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
         |pj AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |  FROM sh2 a JOIN sh2 b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |pe AS (
         |  SELECT da, db, inter, ca.n + cb.n - inter AS un
         |  FROM pj
         |  JOIN cnts ca ON ca.doc_id = da
         |  JOIN cnts cb ON cb.doc_id = db),
         |${ThreshMilli.map(perThresh).mkString(",\n")}
         |SELECT * FROM ($summaries) ORDER BY thresh_milli""".stripMargin
    },
    "q296_quality_quintiles" ->
      """WITH pd AS (
        |  SELECT d.doc_id, d.source,
        |    (COUNT(DISTINCT word) * 1000000)
        |      // COUNT(*) AS div_ppm
        |  FROM (SELECT doc_id, source,
        |          unnest(string_split(text, ' ')) AS word
        |        FROM documents) d
        |  GROUP BY d.doc_id, d.source),
        |freq AS (SELECT div_ppm, COUNT(*) AS f FROM pd GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM pd),
        |bk AS (
        |  SELECT div_ppm,
        |    (CAST(COALESCE(SUM(f) OVER (ORDER BY div_ppm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) * 5) // n + 1 AS quintile
        |  FROM freq CROSS JOIN tot)
        |SELECT source, quintile, COUNT(*) AS n_docs
        |FROM pd JOIN bk USING (div_ppm)
        |GROUP BY source, quintile
        |ORDER BY source, quintile""".stripMargin,
    "q297_padding_waste" -> {
      val lenList = PackLens.mkString(", ")
      s"""WITH toks AS (
         |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS t
         |  FROM documents),
         |g AS (
         |  SELECT t, UNNEST([$lenList]) AS max_len FROM toks),
         |agg AS (
         |  SELECT max_len, COUNT(*) AS n_docs,
         |    CAST(SUM(t) AS BIGINT) AS total_tokens,
         |    CAST(SUM((t + max_len - 1) // max_len) AS BIGINT) AS slots
         |  FROM g GROUP BY max_len)
         |SELECT max_len, n_docs, total_tokens, slots,
         |  CAST(slots * max_len - total_tokens AS BIGINT) AS pad_tokens,
         |  CAST(((slots * max_len - total_tokens) * 1000000)
         |    // (slots * max_len) AS BIGINT) AS waste_ppm
         |FROM agg ORDER BY max_len""".stripMargin
    })
}
