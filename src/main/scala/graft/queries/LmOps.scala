package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N-gram language-model quality filtering — the CCNet stage (Wenzek
  * et al. 2020, "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data"): train a small LM on a trusted in-language
  * sample, score every document by how well the LM predicts it, and
  * split the corpus into head/middle/tail perplexity tertiles (CCNet
  * keeps head+middle for training and drops the tail).
  *
  *  - q140: bigram LM with add-one smoothing trained on the `lang='en'`
  *    slice (the "Wikipedia" stand-in), scored over every document.
  *  - q143: a learned quality classifier distilled FROM q140's buckets
  *    (weak-label distillation — FineWeb/DCLM train their fasttext
  *    filters from heuristic teachers the same way): logistic
  *    regression over [0,1] surface features + the LM score, trained
  *    as a driver loop of map-side-combinable gradient passes.
  *    CCNet proper scores log-space perplexity; logs are libm-dependent
  *    (the q134 rule: JVM `Math.log` vs DuckDB `std::log` may differ in
  *    the last ulp), so the emitted score is the integer-exact
  *    linear-space surrogate: per-bigram fixed-point probability
  *    `ppm = ((c(v,w)+1) · 10⁶) div (c(v)+V)` and per-doc
  *    `score_ppm = (Σ ppm) div n_bigrams` — the arithmetic mean where
  *    perplexity uses the geometric; tertile MEMBERSHIP (the thing
  *    CCNet acts on) agrees except across pathologically-spread docs,
  *    and LmOpsSpec pins the ordering contract on fixtures.
  *
  * Tertile thresholds are computed from a SCORE HISTOGRAM, never a
  * global row sort: `score_ppm` lives in [0, 10⁶], so
  * `groupBy(score_ppm).count` is a ≤10⁶-row dimension-sized frame at
  * ANY corpus scale — the single-partition cumulative window over it is
  * bounded by the fixed-point resolution, not the data (same posture as
  * q128's bucket-totals window). Docs tied on a threshold score all
  * land in the same bucket — membership is a pure function of the
  * score, unlike ntile's arbitrary tie splits.
  *
  * Scale notes (100 TB): the LM table is vocab²-bounded (LM-scale, not
  * corpus-scale — the q135/BPE argument); the bigram stream joins it on
  * (v, w) and AQE broadcasts the count tables when they fit (the q112
  * tf⋈df posture — an unconditional broadcast hint would be wrong, the
  * vocabulary is unbounded). Everything else is map-side-combinable
  * aggregation; no global sort anywhere (bucketing is by value against
  * two broadcast thresholds).
  *
  * Ref: the reference filters records with per-row quality predicates
  * (gmall-realtime dwd status filters, BaseLogApp.java:60-90's dirty
  * side-output); a learned LM filter is the published scale-path
  * generalization a training-data pipeline runs in that slot.
  */
object LmOps extends graft.QueryPack {

  private val TrainLang = "en"
  private val Fp = 1000000L // fixed-point probability scale (ppm)

  /** (doc_id, lang, v, w) — one row per adjacent word pair, derived
    * from the split array with a per-row transform (no per-doc window
    * shuffle for adjacency). */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      // one-word docs have no bigrams; the guard also keeps the ANSI
      // element_at away from sequence(0, -1)'s descending surprise
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(0, size(ws) - 2),
          |  j -> struct(element_at(ws, j + 1) AS v,
          |              element_at(ws, j + 2) AS w))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.v"), col("bg.w"))

  /** q140: per-doc LM score + head/middle/tail perplexity tertile.
    * Output: (doc_id, lang, n_bigrams, score_ppm, bucket). Docs with
    * fewer than two words have no bigrams and are out of scope (they
    * are what q26/q117's length rules catch). High score = well
    * predicted = "head", matching CCNet's low-perplexity head. */
  def lmPerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    // The corpus-scale bigram stream is deliberately NOT checkpointed
    // (the q141/q132 trade: at 100 TB a localCheckpoint of ≈one row per
    // token is a multi-PB executor-disk write; the duplicate scan is
    // cheaper). It is consumed exactly twice — once reduced to the LM
    // count table, once for scoring — because cnt_v and the vocabulary
    // both DERIVE from cnt_vw: cnt_v = Σ_w cnt_vw, vocab = distinct
    // words appearing in cvw keys. Only the vocab²-bounded cvw table is
    // checkpointed (LM-scale, the q135/BPE argument).
    val bg = bigrams(s, d)
    val cvw = bg.filter(col("lang") === TrainLang)
      .groupBy("v", "w").agg(count(lit(1)).as("cnt_vw"))
      .stable() // LM-scale; feeds cv + vsz + the scoring join
    val cv = cvw.groupBy("v").agg(sum(col("cnt_vw")).as("cnt_v"))
    // vocabulary size = distinct words of the training slice (both
    // positions — the last word of a doc occurs only as `w`)
    val vsz = cvw.select(col("v").as("word"))
      .union(cvw.select(col("w").as("word")))
      .agg(countDistinct(col("word")).as("vsz"))
    val scored = bg
      .join(cvw, Seq("v", "w"), "left")
      .join(cv, Seq("v"), "left")
      .crossJoin(broadcast(vsz))
      .withColumn("ppm", expr(
        s"((coalesce(cnt_vw, 0L) + 1L) * $Fp) div (coalesce(cnt_v, 0L) + vsz)"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"))
      .withColumn("score_ppm", expr("sum_ppm div n_bigrams"))
      .drop("sum_ppm")
      .stable() // feeds the histogram AND the final bucketing
    // tertile thresholds from the bounded score histogram; the corpus
    // total n rides the SAME bounded-histogram window pass as the
    // running sum (full-frame ROWS window) instead of a second
    // aggregate subtree + broadcast + cross join — one exchange and one
    // broadcast-build job fewer per consumer (guide §2.4), same totals
    val hist = scored.groupBy("score_ppm").agg(count(lit(1)).as("c"))
    val hw = Window.orderBy("score_ppm")
    val cum = hist
      .withColumn("cum", sum(col("c")).over(hw
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(hw
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val th = cum
      .agg(
        min(when(col("cum") >= expr("n div 3"), col("score_ppm"))).as("t_lo"),
        min(when(col("cum") >= expr("(2 * n) div 3"), col("score_ppm")))
          .as("t_hi"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("score_ppm") >= col("t_hi"), "head")
          .when(col("score_ppm") >= col("t_lo"), "middle")
          .otherwise("tail"))
      .select("doc_id", "lang", "n_bigrams", "score_ppm", "bucket")
  }

  // ---- q143 learned quality classifier (weak-label distillation) ----

  /** Per-doc surface features + the LM score + the weak label, all in
    * [0, 1]: the feature vector a fasttext-style quality classifier
    * trains on (FineWeb/DCLM distill a filter from heuristic labels
    * exactly this way — the LM tertile is the teacher, the classifier
    * the cheap student). Single-word docs have no LM score and are out
    * of scope (q140's contract). */
  private[queries] def docFeatures(s: SparkSession, d: String): DataFrame = {
    val surf = TextOps.words(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"),
        sum(length(col("word"))).as("n_word_chars"),
        sum(when(col("word").isin("the", "a"), 1L).otherwise(0L))
          .as("n_stop"))
    lmPerplexityBuckets(s, d).select("doc_id", "score_ppm", "bucket")
      .join(surf, Seq("doc_id"))
      .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("bucket"),
        (least(col("n_tokens"), lit(200L)) / 200.0).as("f1"),
        (col("n_distinct") / col("n_tokens")).cast("double").as("f2"),
        (col("n_stop") / col("n_tokens")).cast("double").as("f3"),
        (col("n_word_chars") / col("n_tokens") / 20.0).as("f4"),
        (col("score_ppm") / 1000000.0).as("f5"))
  }

  private val Feats = Seq("f1", "f2", "f3", "f4", "f5")

  /** Logistic regression by ridge-regularized IRLS (Newton steps) as a
    * DRIVER LOOP over Spark aggregates — the kmeansTrain/bpeTrain
    * posture, and the same shape MLlib's GLM solvers reduce to: each
    * iteration is ONE map-side-combinable pass computing the full
    * gradient and 6×6 curvature (27 sums in a single selectExpr), and
    * the 6×6 solve happens on the driver. Newton converges in a
    * handful of passes where first-order descent needs hundreds — at
    * 100 TB the iteration count IS the cost model. Head docs are the
    * positive class, tail the negative; middle is left to the student.
    * The ridge term (λ = 1e-4·n) keeps the system solvable when the
    * classes are perfectly separable (they are here — the label is
    * thresholded f5). Returns bias +: feature weights. */
  private[queries] def qualityLrTrain(feats: DataFrame,
      iters: Int = 8): Array[Double] = Mat.flatPlanned(feats.sparkSession) {
    // AQE off for the whole bounded training loop (Mat.flatPlanned):
    // every action here is a global aggregate over the checkpointed
    // feature frame — single-partition exchange at any scale, nothing
    // for AQE to adapt, one replanning pass + one stage job of latency
    // saved per iteration (guide §5).
    val labeled = feats.filter(col("bucket") =!= "middle")
      .withColumn("y", when(col("bucket") === "head", 1.0).otherwise(0.0))
      .select("y", Feats: _*)
    // standardize (one stats pass): raw ratio features have tiny
    // variance around a large mean, which makes every feature nearly
    // collinear with the bias column — Newton on the raw system stalls
    // (the ridge crushes exactly the small centered direction that
    // separates the classes). Train on MATERIALIZED z columns (small,
    // constant-size codegen per iteration), fold back below.
    // the ridge row count rides the SAME stats pass (one action fewer;
    // the separate f.count() re-read the checkpoint for a number the
    // stats row already knows)
    val st = labeled.selectExpr(Feats.flatMap(c =>
      Seq(s"avg($c)", s"stddev_pop($c)")) :+ "count(1)": _*).head()
    val mu = Array.tabulate(Feats.length)(j => st.getDouble(2 * j))
    val sd = Array.tabulate(Feats.length) { j =>
      val s = st.getDouble(2 * j + 1); if (s < 1e-12) 1.0 else s }
    val f = labeled.selectExpr("y" +: Feats.zipWithIndex.map { case (c, j) =>
      s"(($c - (${mu(j)})) / (${sd(j)})) AS z$j" }: _*)
      .stable() // one corpus pass feeds every iteration
    val xs = "1.0" +: Feats.indices.map(j => s"z$j")
    val k = xs.length
    val ridge = 1e-4 * st.getLong(2 * Feats.length)
    val w = Array.fill(k)(0.0)
    // weights enter as a broadcast 1-row frame, NOT inlined literals:
    // the generated code is then byte-identical across iterations, so
    // Spark's codegen cache compiles the pass once (literal weights
    // re-Janino-compile every iteration — measured ~0.5 s/iter of
    // pure compile on a 5 000-row frame)
    val margin = xs.zipWithIndex.map { case (c, j) => s"w$j * $c" }
      .mkString(" + ")
    val p = s"(1.0 / (1.0 + exp(-($margin))))"
    val sw = s"($p * (1.0 - $p))"
    val gE = xs.map(c => s"sum((y - $p) * $c)")
    val aE = for { i <- 0 until k; j <- i until k }
      yield s"sum($sw * ${xs(i)} * ${xs(j)})"
    val spark = feats.sparkSession
    val wSchema = org.apache.spark.sql.types.StructType(
      Array.tabulate(k)(j => org.apache.spark.sql.types.StructField(
        s"w$j", org.apache.spark.sql.types.DoubleType, nullable = false)))
    var it = 0
    var moved = true
    while (it < iters && moved) {
      // one-row weights frame built generically from the weight array —
      // a Tuple6 literal here would compile but break at runtime the
      // moment Feats changes length
      val wdf = spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row.fromSeq(w.toSeq)), wSchema)
      val row = f.crossJoin(broadcast(wdf)).selectExpr(gE ++ aE: _*).head()
      val g = Array.tabulate(k)(row.getDouble)
      val a = Array.ofDim[Double](k, k)
      var idx = k
      for (i <- 0 until k; j <- i until k) {
        a(i)(j) = row.getDouble(idx); a(j)(i) = a(i)(j); idx += 1
      }
      for (i <- 0 until k) { a(i)(i) += ridge; g(i) -= ridge * w(i) }
      val d = solve(a, g)
      for (j <- 0 until k) w(j) += d(j)
      moved = d.exists(x => math.abs(x) > 1e-9)
      it += 1
    }
    // fold the z-space weights back to raw-feature space so scoreExpr
    // stays a plain sigmoid over f1..f5
    val raw = new Array[Double](k)
    raw(0) = w(0)
    for (j <- 1 until k) {
      raw(j) = w(j) / sd(j - 1)
      raw(0) -= w(j) * mu(j - 1) / sd(j - 1)
    }
    raw
  }

  /** Gaussian elimination with partial pivoting for the k×k Newton
    * system (k = 6 — driver-side, O(k³) is nothing). */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone); val b = b0.clone
    for (c <- 0 until k) {
      val piv = (c until k).maxBy(r => math.abs(a(r)(c)))
      val (ta, tb) = (a(c), b(c)); a(c) = a(piv); a(piv) = ta
      b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until k) {
        val m = a(r)(c) / a(c)(c)
        for (j <- c until k) a(r)(j) -= m * a(c)(j)
        b(r) -= m * b(c)
      }
    }
    val x = new Array[Double](k)
    for (c <- k - 1 to 0 by -1) {
      var s = b(c)
      for (j <- c + 1 until k) s -= a(c)(j) * x(j)
      x(c) = s / a(c)(c)
    }
    x
  }

  private[queries] def scoreExpr(w: Array[Double]): String = {
    val margin = w(0) +: Feats.zipWithIndex.map { case (c, j) =>
      s"(${w(j + 1)}) * $c" } mkString " + "
    s"1.0 / (1.0 + exp(-($margin)))"
  }

  /** q143: train the classifier on its own weak labels, then report
    * per-source keep counts at p ≥ 0.5 — the acting filter stage.
    * Rows-only by design: the learner is not SQL-expressible (the
    * q138/kmeansTrain posture) and the sigmoid is IEEE-transcendental;
    * LmOpsSpec pins behavior on fixtures and the train slice. */
  def qualityClassifierKeep(s: SparkSession, d: String): DataFrame = {
    val feats = docFeatures(s, d).stable() // feeds train + apply
    val w = qualityLrTrain(feats)
    feats.withColumn("p", expr(scoreExpr(w)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("kept_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_lm_perplexity_buckets" -> lmPerplexityBuckets,
    "q143_quality_classifier" -> qualityClassifierKeep)

  /** The q140 per-doc LM chain as a reusable CTE prefix ending in
    * `lm(doc_id, lang, n_bigrams, score_ppm, bucket)` — q339's
    * scorer-agreement oracle composes onto it. */
  private[queries] val lmDocCte: String =
      s"""WITH wd AS (
         |  SELECT doc_id, lang,
         |    unnest(string_split(text, ' ')) AS word,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, lang, v, w FROM (
         |    SELECT doc_id, lang, word AS v,
         |      lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w
         |    FROM wd) WHERE w IS NOT NULL),
         |cvw AS (SELECT v, w, COUNT(*) AS cnt_vw FROM bg
         |        WHERE lang = '$TrainLang' GROUP BY v, w),
         |cv AS (SELECT v, COUNT(*) AS cnt_v FROM bg
         |       WHERE lang = '$TrainLang' GROUP BY v),
         |vs AS (SELECT COUNT(DISTINCT word) AS vsz FROM (
         |    SELECT v AS word FROM bg WHERE lang = '$TrainLang'
         |    UNION ALL
         |    SELECT w FROM bg WHERE lang = '$TrainLang')),
         |sc AS (
         |  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
         |    CAST(SUM(((COALESCE(cnt_vw, 0) + 1) * $Fp)
         |      // (COALESCE(cnt_v, 0) + vsz)) AS BIGINT)
         |      // COUNT(*) AS score_ppm
         |  FROM bg LEFT JOIN cvw USING (v, w) LEFT JOIN cv USING (v), vs
         |  GROUP BY doc_id, lang, vsz),
         |h AS (SELECT score_ppm, COUNT(*) AS c FROM sc GROUP BY 1),
         |cm AS (SELECT score_ppm,
         |         SUM(c) OVER (ORDER BY score_ppm ROWS UNBOUNDED PRECEDING)
         |           AS cum
         |       FROM h),
         |th AS (SELECT
         |    MIN(CASE WHEN cum >= n // 3 THEN score_ppm END) AS t_lo,
         |    MIN(CASE WHEN cum >= (2 * n) // 3 THEN score_ppm END) AS t_hi
         |  FROM cm, (SELECT COUNT(*) AS n FROM sc)),
         |lm AS (
         |  SELECT doc_id, lang, n_bigrams, CAST(score_ppm AS BIGINT)
         |      AS score_ppm,
         |    CASE WHEN score_ppm >= t_hi THEN 'head'
         |         WHEN score_ppm >= t_lo THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM sc, th)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q140_lm_perplexity_buckets" ->
      s"""$lmDocCte
         |SELECT doc_id, lang, n_bigrams, score_ppm, bucket
         |FROM lm""".stripMargin)
}
