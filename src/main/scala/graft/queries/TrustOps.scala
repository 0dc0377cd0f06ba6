package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trust & audit pack — the governance questions a data steward asks
  * BEFORE shipping a training corpus or releasing a derived table:
  *
  *  - q342 l-diversity census (Machanavajjhala et al. 2007): how many
  *    distinct sensitive values does each quasi-identifier class hold?
  *    Completes q244's k-anonymity — k protects identity, l protects
  *    the attribute (a k=50 class whose every member shares one
  *    segment still leaks it).
  *  - q343 t-closeness table (Li et al. 2007): per QI class, the total
  *    variation distance between the class's sensitive-attribute
  *    distribution and the corpus-wide one, exact in ppm. States the
  *    absent-category terms explicitly (a class missing a segment
  *    entirely contributes that segment's full global mass — the term
  *    a naive "sum over present values" silently drops).
  *  - q344 Fleiss' κ (Fleiss 1971) over THREE deterministic quality
  *    raters — Gopher rules (q117), CCNet LM tertile (q140), and a
  *    type-token-diversity rule — the multi-rater generalization of
  *    q339's pairwise Cohen's κ, cross-multiplied to exact integers.
  *  - q345 ER blocking-quality metrics (Christen 2012): reduction
  *    ratio and pairs completeness for three blocking schemes against
  *    a name-derived truth key, computed ENTIRELY in counting algebra
  *    (Σ s(s−1)/2 per block) — candidate pairs are never materialized,
  *    which is the whole point of evaluating a blocker at 100 TB.
  *  - q346 Jaccard containment (Broder 1997's asymmetric resemblance):
  *    the sub-duplicate detector — doc A embedded in a larger B has
  *    containment(A,B) ≈ 1 while plain Jaccard stays low, so a
  *    Jaccard-threshold dedup (q31/q110) misses it. Rides the q31
  *    shingle-pair frame.
  *  - q347 QI-uniqueness risk ladder: singleton (population-unique)
  *    rows under growing quasi-identifier sets, one GROUPING SETS
  *    pass — the re-identification risk curve regulators ask for.
  *
  * Portability: every score is an exact integer (ppm/milli) via the
  * q339 cross-multiplication rule; divisions are Spark `div` ≡ DuckDB
  * `//` (the q244 negative-bucket precedent); κ is NULL-guarded when
  * undefined (the q70 rule).
  *
  * Int64 headroom (ADVICE r9): q344's widest product is 9·n² (with a
  * ×10⁶ ppm factor on S ≤ 9n² terms), so exactness holds for
  * n ≲ 3·10⁷ docs per κ scope before int64 wraps (Spark longs wrap
  * silently under non-ANSI; DuckDB would widen). At 100 TB, compute κ
  * per shard/stratum within that bound, or route the n² products
  * through DECIMAL(38,0) as q361/q364 do for their outermost products.
  *
  * Scale (100 TB): q342/q343/q347 are grouped counts on QI columns
  * whose output is domain-bounded (|nations|·|buckets|·|segments|)
  * at any row count — map-side combinable, broadcast joins only
  * against bounded frames. q344 composes three per-doc verdict frames
  * (each one linear scan + hash agg) into a single global aggregate.
  * q345 is three grouped counts (scheme-exploded) — no pair frame
  * exists anywhere in the plan. q346 inherits q31's candidate-pair
  * bound (pairs only where shingles actually collide).
  *
  * Ref: beyond the reference's surface (its ADS layer stops at KPI
  * serving, e.g. gmall-realtime/.../ads/TradeProvinceStats — provenance
  * only); this pack is the training-data-governance extension the
  * builder prompt mandates.
  */
object TrustOps extends graft.QueryPack {

  /** The q244 quasi-identifier projection: (nation, $1000 balance
    * bucket) as the QI, market segment as the sensitive attribute. */
  private def qiFrame(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
        " div 100000").as("bal_bucket"),
      col("c_mktsegment"))

  /** q342 core over any (c_nationkey, bal_bucket, c_mktsegment) frame. */
  private[queries] def lDiversityOf(base: DataFrame): DataFrame =
    base.groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(countDistinct(col("c_mktsegment")).as("l"),
        count(lit(1)).as("n"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n")).as("n_rows"))
      .orderBy(col("l"))

  /** q342: l-diversity census — classes by their distinct-sensitive
    * count l; `n_rows` at l=1 is the population whose segment an
    * attacker learns from QI membership alone. */
  def lDiversity(s: SparkSession, d: String): DataFrame =
    lDiversityOf(qiFrame(s, d))

  /** q343 core. TV(class, corpus) in ppm, exact:
    * 2·n·N·TV = Σ_present |cnt_v·N − g_v·n| + n·(N − Σ_present g_v),
    * the second term being the absent categories' |0·N − g_v·n| mass. */
  private[queries] def tClosenessOf(base: DataFrame): DataFrame = {
    val cell = base
      .groupBy(col("c_nationkey"), col("bal_bucket"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
    val cls = cell.groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(sum(col("cnt")).as("n_rows"))
    val glob = base.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("g"))
    val tot = base.agg(count(lit(1)).as("n_total"))
    cell
      .join(broadcast(glob), Seq("c_mktsegment"))
      .join(broadcast(cls), Seq("c_nationkey", "bal_bucket"))
      .crossJoin(broadcast(tot))
      .groupBy(col("c_nationkey"), col("bal_bucket"))
      .agg(max(col("n_rows")).as("n_rows"), count(lit(1)).as("l"),
        sum(abs(col("cnt") * col("n_total") - col("g") * col("n_rows")))
          .as("tv_present"),
        sum(col("g")).as("g_present"), max(col("n_total")).as("n_total"))
      .select(col("c_nationkey"), col("bal_bucket"), col("n_rows"),
        col("l"),
        expr("(tv_present + n_rows * (n_total - g_present)) * 1000000" +
          " div (2 * n_rows * n_total)").as("tv_ppm"))
      .orderBy(col("c_nationkey"), col("bal_bucket"))
  }

  /** q343: per-QI-class exact total-variation distance to the corpus
    * segment distribution (t-closeness's t, in ppm). */
  def tCloseness(s: SparkSession, d: String): DataFrame =
    tClosenessOf(qiFrame(s, d))

  /** q344 core over a one-column frame of per-item keep-vote counts
    * `v` ∈ {0..3}. For 3 binary raters: per-item rater-pair agreements
    * a_i = v(v−1) + (3−v)(2−v) ∈ {6,2,2,6}; with A = Σa_i, T₁ = Σv,
    * S = T₁² + (3N−T₁)²:  P̄ = A/(6N), P̄e = S/(9N²), and
    * κ = (3AN − 2S) / (2·(9N² − S)) — exact integers throughout. */
  private[queries] def fleissOf(votes: DataFrame): DataFrame =
    votes.agg(count(lit(1)).as("n"), sum(col("v")).as("t1"),
        sum(when(col("v") === 1L || col("v") === 2L, 2L).otherwise(6L))
          .as("a_sum"))
      .withColumn("pbar_ppm", expr("a_sum * 1000000 div (6 * n)"))
      .withColumn("pe_ppm", expr(
        "(t1 * t1 + (3 * n - t1) * (3 * n - t1)) * 1000000 div (9 * n * n)"))
      .withColumn("kappa_milli", expr(
        """CASE WHEN 9 * n * n = t1 * t1 + (3 * n - t1) * (3 * n - t1)
          |  THEN NULL
          |  ELSE (3 * a_sum * n
          |      - 2 * (t1 * t1 + (3 * n - t1) * (3 * n - t1))) * 1000
          |    div (2 * (9 * n * n
          |      - t1 * t1 - (3 * n - t1) * (3 * n - t1)))
          |  END""".stripMargin))

  /** q344: Fleiss' κ across the three deterministic quality raters on
    * the shared per-doc scope (q339's inner-join rule: the LM rater
    * defines the scope — one-word docs have no bigram score). */
  def fleissKappa(s: SparkSession, d: String): DataFrame = {
    val rules = PipelineOps.gopherFlags(s, d).select(col("doc_id"),
      (col("ok_count") && col("ok_word_len") && col("ok_repetition") &&
        col("ok_stopwords")).as("keep_rules"))
    val lm = LmOps.lmPerplexityBuckets(s, d)
      .select(col("doc_id"), (col("bucket") =!= "tail").as("keep_lm"))
    val toks = split(col("text"), " ")
    val dv = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("n_tok"),
        explode(toks).as("word"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tok")).as("n_tok"),
        countDistinct(col("word")).as("n_dis"))
      .select(col("doc_id"), (col("n_dis") * 2 >= col("n_tok")).as("keep_div"))
    fleissOf(rules.join(lm, "doc_id").join(dv, "doc_id")
      .select((when(col("keep_rules"), 1L).otherwise(0L) +
        when(col("keep_lm"), 1L).otherwise(0L) +
        when(col("keep_div"), 1L).otherwise(0L)).as("v")))
  }

  /** q345 core over a frame keyed (c_name, k_prefix16, k_suffix2,
    * k_nation). Truth = same k_prefix16 (the name family q251's ≤2-edit
    * rule resolves on this corpus). All-pairs algebra: a scheme's
    * candidate count is Σ_blk s(s−1)/2 and its true-positive count is
    * Σ_(norm,key) c(c−1)/2 — pure grouped counts, no pair rows. */
  private[queries] def blockingQualityOf(base: DataFrame): DataFrame = {
    val keyed = base.select(col("k_prefix16").as("norm"),
      explode(map(
        lit("A_prefix16"), col("k_prefix16"),
        lit("B_nationkey"), col("k_nation"),
        lit("C_suffix2"), col("k_suffix2"))).as(Seq("scheme", "k")))
    val blocks = keyed.groupBy(col("scheme"), col("k"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_blocks"), max(col("s")).as("max_block"),
        sum(expr("(s * (s - 1)) div 2")).as("cand_pairs"))
    val tpIn = keyed.groupBy(col("scheme"), col("norm"), col("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("scheme"))
      .agg(sum(expr("(c * (c - 1)) div 2")).as("tp_in_block"))
    val truth = base.groupBy(col("k_prefix16"))
      .agg(count(lit(1)).as("t"))
      .agg(sum(expr("(t * (t - 1)) div 2")).as("truth_pairs"))
    val tot = base.agg(count(lit(1)).as("n"))
    blocks.join(tpIn, Seq("scheme"))
      .crossJoin(broadcast(truth)).crossJoin(broadcast(tot))
      .select(col("scheme"), col("n_blocks"), col("max_block"),
        col("cand_pairs"),
        expr("CASE WHEN n < 2 THEN NULL ELSE" +
          " ((n * (n - 1)) div 2 - cand_pairs) * 1000000" +
          " div ((n * (n - 1)) div 2) END").as("rr_ppm"),
        col("truth_pairs"), col("tp_in_block"),
        expr("CASE WHEN truth_pairs = 0 THEN NULL ELSE" +
          " tp_in_block * 1000000 div truth_pairs END").as("pc_ppm"))
      .orderBy(col("scheme"))
  }

  /** q345: blocking-quality report for three schemes over customer
    * names — A the q251 production key (prefix-16: completeness 1 by
    * construction, the reference row), B attribute blocking on nation
    * (real-world shape: big reduction, partial completeness), C the
    * wrong key (last-2-digit suffix: great reduction ratio, ZERO
    * completeness — the cautionary row; truth pairs differ exactly in
    * those digits). */
  def blockingQuality(s: SparkSession, d: String): DataFrame =
    blockingQualityOf(Tables.customer(s, d).select(col("c_name"),
      substring(col("c_name"), 1, 16).as("k_prefix16"),
      substring(col("c_name"), 17, 2).as("k_suffix2"),
      col("c_nationkey").cast("string").as("k_nation")))

  /** q346: asymmetric containment over the q31 shingle-pair frame.
    * containment(A→B) = |A∩B|/|A|; `sub_dup` = one side ≥ 0.9
    * contained while Jaccard < 0.5 (the embedded-document case a
    * symmetric threshold misses); `near_dup` = Jaccard ≥ 0.5. */
  def jaccardContainment(s: SparkSession, d: String): DataFrame =
    TextOps.shinglePairFrame(s, d, Int.MaxValue)
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        col("n_a"), col("n_b"),
        expr("inter_size * 1000000 div n_a").as("cont_a_ppm"),
        expr("inter_size * 1000000 div n_b").as("cont_b_ppm"),
        expr("inter_size * 1000000 div (n_a + n_b - inter_size)")
          .as("jaccard_ppm"))
      .withColumn("pair_class",
        when(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 900000L &&
          col("jaccard_ppm") < 500000L, "sub_dup")
          .when(col("jaccard_ppm") >= 500000L, "near_dup")
          .otherwise("partial_overlap"))

  /** q347: QI-uniqueness risk ladder — population-unique rows under
    * four growing QI sets in ONE Expand pass (the q216 device);
    * `risk_ppm` is the singleton fraction, the standard uniqueness
    * re-identification proxy. */
  def qiUniqueness(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH c AS (
         |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      div 100000 AS bal
         |  FROM parquet.`$d/customer.parquet`),
         |cls AS (
         |  SELECT grouping(seg) * 4 + grouping(nat) * 2 + grouping(bal)
         |      AS gid,
         |    COUNT(*) AS sz
         |  FROM c
         |  GROUP BY GROUPING SETS ((seg), (nat), (seg, nat),
         |    (seg, nat, bal))),
         |tot AS (SELECT COUNT(*) AS n FROM c)
         |SELECT CAST(gid AS BIGINT) AS gid,
         |  CASE gid WHEN 3 THEN 'segment' WHEN 5 THEN 'nation'
         |    WHEN 1 THEN 'segment+nation'
         |    ELSE 'segment+nation+balance' END AS qi,
         |  COUNT(*) AS n_classes, MIN(sz) AS k_min,
         |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_singletons,
         |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) * 1000000
         |    div MAX(n) AS BIGINT) AS risk_ppm
         |FROM cls, tot GROUP BY gid ORDER BY gid""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q342_l_diversity" -> lDiversity,
    "q343_t_closeness" -> tCloseness,
    "q344_fleiss_kappa" -> fleissKappa,
    "q345_blocking_quality" -> blockingQuality,
    "q346_jaccard_containment" -> jaccardContainment,
    "q347_qi_uniqueness" -> qiUniqueness)

  private val balSql =
    "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000"

  val oracle: Map[String, String] = Map(
    "q342_l_diversity" ->
      s"""WITH base AS (
         |  SELECT c_nationkey, $balSql AS bal_bucket, c_mktsegment
         |  FROM customer),
         |cls AS (
         |  SELECT c_nationkey, bal_bucket,
         |    COUNT(DISTINCT c_mktsegment) AS l, COUNT(*) AS n
         |  FROM base GROUP BY 1, 2)
         |SELECT l, COUNT(*) AS n_classes, CAST(SUM(n) AS BIGINT) AS n_rows
         |FROM cls GROUP BY l ORDER BY l""".stripMargin,
    "q343_t_closeness" ->
      s"""WITH base AS (
         |  SELECT c_nationkey, $balSql AS bal_bucket, c_mktsegment
         |  FROM customer),
         |cell AS (
         |  SELECT c_nationkey, bal_bucket, c_mktsegment, COUNT(*) AS cnt
         |  FROM base GROUP BY 1, 2, 3),
         |cls AS (
         |  SELECT c_nationkey, bal_bucket, CAST(SUM(cnt) AS BIGINT)
         |      AS n_rows
         |  FROM cell GROUP BY 1, 2),
         |gseg AS (
         |  SELECT c_mktsegment, COUNT(*) AS g FROM base GROUP BY 1),
         |tot AS (SELECT COUNT(*) AS n_total FROM base),
         |agg AS (
         |  SELECT c_nationkey, bal_bucket,
         |    MAX(n_rows) AS n_rows, COUNT(*) AS l,
         |    SUM(ABS(cnt * n_total - g * n_rows)) AS tv_present,
         |    SUM(g) AS g_present, MAX(n_total) AS n_total
         |  FROM cell JOIN gseg USING (c_mktsegment)
         |    JOIN cls USING (c_nationkey, bal_bucket), tot
         |  GROUP BY 1, 2)
         |SELECT c_nationkey, CAST(bal_bucket AS BIGINT) AS bal_bucket,
         |  n_rows, l,
         |  CAST((tv_present + n_rows * (n_total - g_present)) * 1000000
         |    // (2 * n_rows * n_total) AS BIGINT) AS tv_ppm
         |FROM agg ORDER BY c_nationkey, bal_bucket""".stripMargin,
    "q344_fleiss_kappa" -> {
      s"""${LmOps.lmDocCte},
         |${PipelineOps.gopherFlagCtes},
         |dv AS (
         |  SELECT b.doc_id, (p.n_dis * 2 >= b.n_tok) AS keep_div
         |  FROM base b
         |  JOIN (SELECT doc_id, COUNT(*) AS n_dis FROM pw GROUP BY 1) p
         |    ON b.doc_id = p.doc_id),
         |votes AS (
         |  SELECT (CASE WHEN f.keep_rules THEN 1 ELSE 0 END
         |      + CASE WHEN lm.bucket <> 'tail' THEN 1 ELSE 0 END
         |      + CASE WHEN dv.keep_div THEN 1 ELSE 0 END) AS v
         |  FROM flg f JOIN lm ON f.doc_id = lm.doc_id
         |    JOIN dv ON f.doc_id = dv.doc_id),
         |mm AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS t1,
         |    CAST(SUM(CASE WHEN v IN (1, 2) THEN 2 ELSE 6 END) AS BIGINT)
         |      AS a_sum
         |  FROM votes)
         |SELECT n, t1, a_sum,
         |  CAST(a_sum * 1000000 // (6 * n) AS BIGINT) AS pbar_ppm,
         |  CAST((t1 * t1 + (3 * n - t1) * (3 * n - t1)) * 1000000
         |    // (9 * n * n) AS BIGINT) AS pe_ppm,
         |  CAST(CASE WHEN 9 * n * n = t1 * t1 + (3 * n - t1) * (3 * n - t1)
         |    THEN NULL
         |    ELSE (3 * a_sum * n
         |        - 2 * (t1 * t1 + (3 * n - t1) * (3 * n - t1))) * 1000
         |      // (2 * (9 * n * n
         |        - t1 * t1 - (3 * n - t1) * (3 * n - t1)))
         |    END AS BIGINT) AS kappa_milli
         |FROM mm""".stripMargin
    },
    "q345_blocking_quality" ->
      """WITH base AS (
        |  SELECT c_name, substr(c_name, 1, 16) AS norm,
        |    substr(c_name, 17, 2) AS sfx,
        |    CAST(c_nationkey AS VARCHAR) AS nat
        |  FROM customer),
        |keyed AS (
        |  SELECT 'A_prefix16' AS scheme, norm, norm AS k FROM base
        |  UNION ALL SELECT 'B_nationkey', norm, nat FROM base
        |  UNION ALL SELECT 'C_suffix2', norm, sfx FROM base),
        |blocks AS (
        |  SELECT scheme, COUNT(*) AS n_blocks, MAX(s) AS max_block,
        |    CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS cand_pairs
        |  FROM (SELECT scheme, k, COUNT(*) AS s FROM keyed GROUP BY 1, 2)
        |  GROUP BY scheme),
        |tp AS (
        |  SELECT scheme, CAST(SUM((c * (c - 1)) // 2) AS BIGINT)
        |      AS tp_in_block
        |  FROM (SELECT scheme, norm, k, COUNT(*) AS c FROM keyed
        |        GROUP BY 1, 2, 3)
        |  GROUP BY scheme),
        |tr AS (
        |  SELECT CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS truth_pairs
        |  FROM (SELECT norm, COUNT(*) AS t FROM base GROUP BY 1)),
        |tot AS (SELECT COUNT(*) AS n FROM base)
        |SELECT scheme, n_blocks, max_block, cand_pairs,
        |  CAST(CASE WHEN n < 2 THEN NULL ELSE
        |    ((n * (n - 1)) // 2 - cand_pairs) * 1000000
        |      // ((n * (n - 1)) // 2) END AS BIGINT) AS rr_ppm,
        |  truth_pairs, tp_in_block,
        |  CAST(CASE WHEN truth_pairs = 0 THEN NULL ELSE
        |    tp_in_block * 1000000 // truth_pairs END AS BIGINT) AS pc_ppm
        |FROM blocks JOIN tp USING (scheme), tr, tot
        |ORDER BY scheme""".stripMargin,
    "q346_jaccard_containment" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS word,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    word || ' ' || lead(word, 1) OVER dw || ' '
         |      || lead(word, 2) OVER dw AS g
         |  FROM w WHERE doc_id < 100
         |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
         |sh2 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")}
         |    AS shingle
         |  FROM sh WHERE g IS NOT NULL),
         |counts AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh2 GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)
         |      AS inter_size
         |  FROM sh2 a JOIN sh2 b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |wide AS (
         |  SELECT doc_a, doc_b, inter_size,
         |    ca.n_shingles AS n_a, cb.n_shingles AS n_b
         |  FROM pairs
         |  JOIN counts ca ON ca.doc_id = doc_a
         |  JOIN counts cb ON cb.doc_id = doc_b
         |  WHERE inter_size >= 2),
         |scored AS (
         |  SELECT doc_a, doc_b, inter_size, n_a, n_b,
         |    CAST(inter_size * 1000000 // n_a AS BIGINT) AS cont_a_ppm,
         |    CAST(inter_size * 1000000 // n_b AS BIGINT) AS cont_b_ppm,
         |    CAST(inter_size * 1000000 // (n_a + n_b - inter_size)
         |      AS BIGINT) AS jaccard_ppm
         |  FROM wide)
         |SELECT doc_a, doc_b, inter_size, n_a, n_b,
         |  cont_a_ppm, cont_b_ppm, jaccard_ppm,
         |  CASE WHEN GREATEST(cont_a_ppm, cont_b_ppm) >= 900000
         |      AND jaccard_ppm < 500000 THEN 'sub_dup'
         |    WHEN jaccard_ppm >= 500000 THEN 'near_dup'
         |    ELSE 'partial_overlap' END AS pair_class
         |FROM scored""".stripMargin,
    "q347_qi_uniqueness" ->
      s"""WITH c AS (
         |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         |    $balSql AS bal
         |  FROM customer),
         |cls AS (
         |  SELECT grouping(seg) * 4 + grouping(nat) * 2 + grouping(bal)
         |      AS gid,
         |    COUNT(*) AS sz
         |  FROM c
         |  GROUP BY GROUPING SETS ((seg), (nat), (seg, nat),
         |    (seg, nat, bal))),
         |tot AS (SELECT COUNT(*) AS n FROM c)
         |SELECT CAST(gid AS BIGINT) AS gid,
         |  CASE gid WHEN 3 THEN 'segment' WHEN 5 THEN 'nation'
         |    WHEN 1 THEN 'segment+nation'
         |    ELSE 'segment+nation+balance' END AS qi,
         |  COUNT(*) AS n_classes, MIN(sz) AS k_min,
         |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_singletons,
         |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) * 1000000
         |    // MAX(n) AS BIGINT) AS risk_ppm
         |FROM cls, tot GROUP BY gid ORDER BY gid""".stripMargin)
}
