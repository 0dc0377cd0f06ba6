package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, IntegerType}

/** Evaluation & selection pack — the "did the pipeline's unsupervised
  * stages actually work, and which rows should training read first"
  * layer on top of the verified dedup/cluster/quality chains:
  *
  *  - q348 k-center coreset (farthest-point traversal, Gonzalez 1985):
  *    the classic 2-approximation for coverage-maximizing data
  *    selection (active learning / dataset distillation seeding). K
  *    greedy rounds; each round broadcasts the single new center and
  *    folds it into a running min-distance column — one linear scan
  *    per round, one 1-row argmax reduce, state localCheckpointed so
  *    the iterative lineage never compounds (the kmeansTrain rule).
  *    Distances are exact integer squared-L2 over the q333
  *    milli-quantized embeddings, so the greedy trace is
  *    deterministic and the DuckDB oracle — the SAME K rounds
  *    unrolled as MATERIALIZED CTEs (the q340 device) — matches
  *    row-for-row including the coverage radii.
  *  - q349 RAKE keyword extraction (Rose et al. 2010): candidate
  *    phrases = maximal stopword-free token runs (segment ids by a
  *    per-doc running stopword count — a doc-partitioned window,
  *    never global); word score = deg/freq in exact milli; phrase
  *    score = Σ member word scores. Top-20 by (score, phrase) — the
  *    corpus-level keyword table a curation report leads with.
  *  - q350 external cluster validity — Adjusted Rand Index (Hubert &
  *    Arabie 1985) + purity of a deterministic nearest-seed
  *    clustering against the labeled `label` column, ENTIRELY in
  *    pair-counting algebra (Σ C(n,2) over the bounded contingency
  *    table, cross-multiplied to exact milli — the q345 counting
  *    discipline applied to clustering evaluation).
  *
  * Scale (100 TB): q348 is K linear scans + K 1-row reduces (the
  * argmax is a TakeOrdered, never a global sort); its driver-side
  * state is K rows. q349's only window is partitioned by doc_id;
  * phrase/word scores are hash aggregates; top-20 is a bounded
  * TakeOrdered. q350's contingency is |clusters|·|labels| rows at any
  * corpus size; the assignment join broadcasts K seed vectors.
  *
  * Int64 headroom (ADVICE r9): q350's widest product is
  * i_pairs·C(n,2) ≈ n⁴/4, so ARI exactness holds for n ≲ 6·10⁴ rows
  * per evaluation scope before int64 wraps (Spark longs wrap silently
  * under non-ANSI). Clustering evaluation is a SAMPLE-scale activity
  * by design — evaluate on a bounded labeled sample, or route the
  * pair products through DECIMAL(38,0) as q361/q364 do.
  *
  * Ref: evaluation/selection extensions beyond the reference surface
  * (training-pipeline mandate), composing the q333 quantization, q340
  * unroll-oracle and q345 counting-algebra devices.
  */
object EvalOps extends graft.QueryPack {

  private val K = 8 // coreset size / seed-cluster count

  /** Milli-quantized embedding vector (the q333 device — exact in both
    * engines because float32→float64 promotion and floor agree). */
  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, v -> " +
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT))").as("q"))

  /** Exact integer squared L2 between a vector column and a broadcast
    * literal center. */
  private def d2To(center: Seq[Long]): Column =
    aggregate(
      zip_with(col("q"), array(center.map(lit): _*),
        (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)

  /** q348 core over any (vec_id, label, q) frame. Returns the K-row
    * greedy trace: (round, vec_id, coverage_d2, label) where
    * coverage_d2 is the selected point's min distance to the prior
    * centers — the corpus coverage radius after round−1 centers. */
  private[queries] def kcenterOf(qv0: DataFrame, k: Int): DataFrame = {
    val s = qv0.sparkSession
    val traceSchema = StructType(Seq(
      StructField("round", LongType, false),
      StructField("vec_id", LongType, false),
      StructField("coverage_d2", LongType, false),
      StructField("label", IntegerType, false)))
    val qv = qv0.stable() // scanned k times below
    // headOption, not (0): an empty embeddings table has no seed — the
    // greedy trace is the empty frame, not an ArrayIndexOutOfBounds
    // from the internal single-row read.
    val seedOpt = qv.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("label"), col("q")).collect().headOption
    if (seedOpt.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], traceSchema)
    val seed = seedOpt.get
    // driver-side single-row argmax per round — the justified
    // driver-side class (k-means centroids precedent): K rows total
    var picks = List((1L, seed.getLong(0), 0L, seed.getInt(1)))
    var center = seed.getSeq[Long](2)
    var state = qv.withColumn("mind", d2To(center)).stable()
    for (r <- 2 to k) {
      val top = state.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("label"), col("q"), col("mind"))
        .collect()(0)
      picks ::= (r.toLong, top.getLong(0), top.getLong(3), top.getInt(1))
      center = top.getSeq[Long](2)
      if (r < k)
        state = state.withColumn("mind",
          least(col("mind"), d2To(center))).stable()
    }
    s.createDataFrame(
      s.sparkContext.parallelize(
        picks.reverse.map(p => Row(p._1, p._2, p._3, p._4)), 1),
      traceSchema).orderBy(col("round"))
  }

  /** q348: K-center greedy coreset of the embedding corpus. */
  def kcenterCoreset(s: SparkSession, d: String): DataFrame =
    kcenterOf(quantized(s, d), K)

  /** q349: RAKE keywords — top-20 candidate phrases by exact-milli
    * deg/freq scores. */
  def rakeKeywords(s: SparkSession, d: String): DataFrame = {
    val w = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("is_stop",
        col("word").isInCollection(PipelineOps.Stopwords))
    // segment id = running stopword count (doc-partitioned window);
    // the phrase is the stopword-free run inside one segment
    val seg = w.withColumn("seg",
        sum(when(col("is_stop"), 1L).otherwise(0L))
          .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("seg"), col("pos"), col("word"))
    val phrases = seg.groupBy(col("doc_id"), col("seg"))
      .agg(expr("array_join(transform(" +
        "array_sort(collect_list(struct(pos, word))), x -> x.word), ' ')")
        .as("phrase"),
        count(lit(1)).as("plen"))
      .stable() // feeds occ twice (word stats + phrase score) + output
    // occ re-derived from the CHECKPOINTED phrases frame: words carry
    // no spaces (they came from splitting text on space), so splitting
    // the phrase recovers exactly the segment's non-stop tokens — the
    // old seg ⋈ phrases join re-ran the whole words+window pipeline
    // for a frame the checkpoint already holds (guide §1.2/§2.4)
    val occ = phrases.select(col("doc_id"), col("seg"), col("plen"),
      explode(split(col("phrase"), " ")).as("word"))
    val wscore = occ.groupBy(col("word"))
      .agg(expr("sum(plen) * 1000 div count(1)").as("wscore_milli"))
    val pscore = occ.join(wscore, Seq("word"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("wscore_milli")).as("score_milli"))
    phrases.join(pscore, Seq("doc_id", "seg"))
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("n_words"), // identical for equal text
        count(lit(1)).as("n_occ"),
        max(col("score_milli")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(20)
  }

  /** q350 core over any (cluster, label) assignment frame: ARI + purity
    * in exact pair-counting integers. */
  private[queries] def ariOf(assign: DataFrame): DataFrame = {
    val cells = assign.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("nij"))
      .stable() // bounded contingency; feeds 4 aggregates
    val iP = cells.agg(
      sum(expr("(nij * (nij - 1)) div 2")).as("i_pairs"),
      sum(col("nij")).as("n"),
      count_distinct(col("cluster")).as("n_clusters"),
      count_distinct(col("label")).as("n_labels"))
    val aP = cells.groupBy(col("cluster")).agg(sum(col("nij")).as("a"))
      .agg(sum(expr("(a * (a - 1)) div 2")).as("a_pairs"))
    val bP = cells.groupBy(col("label")).agg(sum(col("nij")).as("b"))
      .agg(sum(expr("(b * (b - 1)) div 2")).as("b_pairs"))
    val pur = cells.groupBy(col("cluster")).agg(max(col("nij")).as("m"))
      .agg(sum(col("m")).as("pur_sum"))
    iP.crossJoin(broadcast(aP)).crossJoin(broadcast(bP))
      .crossJoin(broadcast(pur))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("i_pairs"), col("a_pairs"), col("b_pairs"),
        expr("""CASE WHEN (a_pairs + b_pairs) * ((n * (n - 1)) div 2)
          |    = 2 * a_pairs * b_pairs THEN NULL
          |  ELSE (i_pairs * ((n * (n - 1)) div 2) - a_pairs * b_pairs)
          |    * 2000
          |    div ((a_pairs + b_pairs) * ((n * (n - 1)) div 2)
          |      - 2 * a_pairs * b_pairs)
          |  END""".stripMargin).as("ari_milli"),
        expr("pur_sum * 1000000 div n").as("purity_ppm"))
  }

  /** q350: nearest-seed clustering (seeds = the K smallest vec_ids —
    * deterministic, no iteration) evaluated against `label`. The
    * argmin rides a packed long (d2·K + seed index — the q316 trap:
    * min-of-struct demotes the hash aggregate). */
  def ariClustering(s: SparkSession, d: String): DataFrame = {
    val qv = quantized(s, d)
    val seeds = qv.orderBy(col("vec_id")).limit(K)
      .select(col("vec_id"), col("q"))
      .withColumn("sidx",
        row_number().over(Window.orderBy(col("vec_id"))) - lit(1))
      .select(col("sidx").cast("long").as("sidx"), col("q").as("sq"))
    // the Window above runs on the K-row bounded seed frame only
    val assign = qv.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("label"),
        (aggregate(zip_with(col("q"), col("sq"),
          (x, c) => (x - c) * (x - c)), lit(0L), (acc, x) => acc + x)
          * lit(K.toLong) + col("sidx")).as("packed"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("packed")).as("mp"))
      .select((col("mp") % K.toLong).as("cluster"), col("label"))
    ariOf(assign)
  }

  /** The decile-bucketing device shared by q351/q362: per input row,
    * (bucket 0..9, score_ppm, keep). Thresholds come from the bounded
    * score histogram (the q140 tertile device widened to 9 cut
    * points); bucket = Σ 1[score ≥ tᵢ] — exact and tie-stable in both
    * engines. The unpartitioned window runs on the histogram, never
    * the corpus (q140 precedent). */
  private[queries] def decileBucketed(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy(col("score_ppm")).agg(count(lit(1)).as("c"))
    // the corpus total n rides the SAME bounded-histogram window pass
    // as the running sum (full-frame ROWS window) instead of a second
    // aggregate subtree + broadcast + cross join — one exchange and
    // one broadcast-build job fewer per consumer (guide §2.4); same n
    val hw = Window.orderBy(col("score_ppm"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(hw
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(hw
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val thCols = (1 to 9).map(i =>
      min(when(col("cum") >= expr(s"($i * n) div 10"), col("score_ppm")))
        .as(s"t$i"))
    val th = cum.agg(thCols.head, thCols.tail: _*)
    val bucketExpr = (1 to 9).map(i =>
      s"(CASE WHEN score_ppm >= t$i THEN 1 ELSE 0 END)").mkString(" + ")
    scored.crossJoin(broadcast(th))
      .withColumn("bucket", expr(s"CAST($bucketExpr AS BIGINT)"))
      .select(col("bucket"), col("score_ppm"), col("keep"))
  }

  /** q362 core: Murphy decomposition of the Brier score over the same
    * decile buckets as q351 — per bucket n, mean confidence, accuracy,
    * the bucket Brier (ppm² units), and the UNDIVIDED reliability /
    * resolution terms n·(conf−acc)² and n·(acc−ȳ)² (the q288 no-root
    * rule: emit cross-multiplied numerators, divide only where the
    * quotient itself is the contract). The bucket = −1 TOTAL row
    * carries the corpus Brier (exact from raw squared sums, not from
    * re-weighted truncated bucket briers), ΣREL, ΣRES and the
    * uncertainty term ȳ(10⁶−ȳ) — REL−RES+UNC ≈ Brier with truncation
    * drift only (both engines share every truncation). */
  private[queries] def brierOf(scored: DataFrame): DataFrame = {
    val err = col("score_ppm") -
      when(col("keep"), 1000000L).otherwise(0L)
    // ONE corpus pass straight to the ≤10-row bucket aggregate; ȳ is a
    // full-frame window over those bucket sums (Σn_keep·10⁶ div Σn —
    // the identical integers the old corpus-wide aggregate computed),
    // so the corpus-size checkpoint that existed only to feed bucket
    // agg + ȳ agg separately is gone, along with ȳ's extra pass and
    // broadcast (guide §1.2/§2.4)
    val perW = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val per = decileBucketed(scored).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("score_ppm")).as("sum_conf"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(err * err).as("sq_sum"))
      .withColumn("ksum", sum(col("n_keep")).over(perW))
      .withColumn("nn", sum(col("n")).over(perW))
      .withColumn("ybar_ppm", expr("ksum * 1000000 div nn"))
      .select(col("bucket"), col("n"),
        expr("sum_conf div n").as("conf_ppm"),
        expr("n_keep * 1000000 div n").as("acc_ppm"),
        col("sq_sum"), col("ybar_ppm"))
      .withColumn("brier_ppm2", expr("sq_sum div n"))
      .withColumn("rel_xn",
        expr("n * (conf_ppm - acc_ppm) * (conf_ppm - acc_ppm)"))
      .withColumn("res_xn",
        expr("n * (acc_ppm - ybar_ppm) * (acc_ppm - ybar_ppm)"))
      .withColumn("unc_ppm2", expr("ybar_ppm * (1000000 - ybar_ppm)"))
      .stable() // ≤10 rows; feeds the output AND the total
    val total = per
      .agg(sum(col("n")).as("tn"), sum(col("conf_ppm") * col("n")).as("sc"),
        sum(col("acc_ppm") * col("n")).as("sa"),
        sum(col("sq_sum")).as("sq"), sum(col("rel_xn")).as("rel"),
        sum(col("res_xn")).as("res"), max(col("unc_ppm2")).as("unc"))
      .select(lit(-1L).as("bucket"), col("tn").as("n"),
        expr("sc div tn").as("conf_ppm"), expr("sa div tn").as("acc_ppm"),
        expr("sq div tn").as("brier_ppm2"), col("rel").as("rel_xn"),
        col("res").as("res_xn"), col("unc").as("unc_ppm2"))
    per.select(col("bucket"), col("n"), col("conf_ppm"), col("acc_ppm"),
        col("brier_ppm2"), col("rel_xn"), col("res_xn"), col("unc_ppm2"))
      .unionAll(total)
      .orderBy(col("bucket"))
  }

  /** q362: Brier decomposition of the q140 LM score against the q117
    * Gopher verdict — the scoring-rule companion of q351's ECE. */
  def brierDecomposition(s: SparkSession, d: String): DataFrame = {
    val rules = PipelineOps.gopherFlags(s, d).select(col("doc_id"),
      (col("ok_count") && col("ok_word_len") && col("ok_repetition") &&
        col("ok_stopwords")).as("keep"))
    val lm = LmOps.lmPerplexityBuckets(s, d)
      .select(col("doc_id"), col("score_ppm"))
    brierOf(lm.join(rules, "doc_id").select(col("score_ppm"), col("keep")))
  }

  /** q351 core over any (score_ppm, keep) frame. Decile thresholds
    * come from the bounded score histogram (the q140 tertile device
    * widened to 9 cut points); bucket = Σ 1[score ≥ tᵢ] — exact and
    * tie-stable in both engines. Emits the 10 reliability rows plus a
    * bucket = −1 TOTAL row whose gap_ppm IS the expected calibration
    * error (Σ n_b·|acc_b − conf_b| div N over the bucket rows). */
  private[queries] def eceOf(scored: DataFrame): DataFrame = {
    val buckets = decileBucketed(scored)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("score_ppm")).as("sum_conf"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("bucket"), col("n"),
        expr("sum_conf div n").as("conf_ppm"),
        expr("n_keep * 1000000 div n").as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_ppm")))
      .stable() // ≤10 rows; feeds the output AND the ECE row
    val total = buckets
      .agg(sum(col("n")).as("n"),
        sum(col("conf_ppm") * col("n")).as("sc"),
        sum(col("acc_ppm") * col("n")).as("sa"),
        sum(col("gap_ppm") * col("n")).as("sg"))
      .select(lit(-1L).as("bucket"), col("n"),
        expr("sc div n").as("conf_ppm"), expr("sa div n").as("acc_ppm"),
        expr("sg div n").as("gap_ppm")) // = ECE in ppm
    buckets.unionAll(total).orderBy(col("bucket"))
  }

  /** q351: expected-calibration-error audit of the q140 LM score
    * (score_ppm as a keep-"confidence" in ppm) against the q117
    * Gopher rule verdict on the shared scope — the reliability
    * diagram a scorer review starts from, exact to the ppm. */
  def eceCalibration(s: SparkSession, d: String): DataFrame = {
    val rules = PipelineOps.gopherFlags(s, d).select(col("doc_id"),
      (col("ok_count") && col("ok_word_len") && col("ok_repetition") &&
        col("ok_stopwords")).as("keep"))
    val lm = LmOps.lmPerplexityBuckets(s, d)
      .select(col("doc_id"), col("score_ppm"))
    eceOf(lm.join(rules, "doc_id").select(col("score_ppm"), col("keep")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q348_kcenter_coreset" -> kcenterCoreset,
    "q349_rake_keywords" -> rakeKeywords,
    "q350_ari_clustering" -> ariClustering,
    "q351_ece_calibration" -> eceCalibration,
    "q362_brier_decomposition" -> brierDecomposition)

  // ---- DuckDB oracle twins ----

  private val quantSql =
    """list_transform(embedding, v ->
      |      CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT))"""
      .stripMargin

  /** d2 between zipped list columns (the duckDot device shape). */
  private def d2Sql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"

  private def kcenterOracle(k: Int): String = {
    // c_r picks the argmax of the running min-distance in m_{r-1};
    // m_r folds the new center in. The LAST round needs no m_k.
    val rounds = (2 to k).map { r =>
      val prev = s"m${r - 1}"
      val pick =
        s"""c$r AS MATERIALIZED (
           |  SELECT vec_id, label, q, mind FROM $prev
           |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      if (r == k) pick
      else pick + ",\n" +
        s"""m$r AS MATERIALIZED (
           |  SELECT v.vec_id, v.label, v.q,
           |    LEAST(v.mind, ${d2Sql("v.q", "c.q")}) AS mind
           |  FROM $prev v, c$r c)""".stripMargin
    }.mkString(",\n")
    val tail = (2 to k).map(r =>
      s"  UNION ALL SELECT $r, vec_id, mind, label FROM c$r")
      .mkString("\n")
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    $quantSql AS q
       |  FROM embeddings),
       |c1 AS MATERIALIZED (
       |  SELECT vec_id, label, q FROM qv ORDER BY vec_id LIMIT 1),
       |m1 AS MATERIALIZED (
       |  SELECT v.vec_id, v.label, v.q,
       |    ${d2Sql("v.q", "c.q")} AS mind
       |  FROM qv v, c1 c),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round, vec_id,
       |  CAST(coverage_d2 AS BIGINT) AS coverage_d2, label
       |FROM (
       |  SELECT 1 AS round, vec_id, 0 AS coverage_d2, label FROM c1
       |$tail
       |)
       |ORDER BY round""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q348_kcenter_coreset" -> kcenterOracle(K),
    "q349_rake_keywords" -> {
      val stopList = PipelineOps.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS word,
         |    unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |ws AS (
         |  SELECT doc_id, pos, word, (word IN ($stopList)) AS is_stop
         |  FROM w),
         |sg AS (
         |  SELECT doc_id, pos, word, is_stop,
         |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS seg
         |  FROM ws),
         |ph AS (
         |  SELECT doc_id, seg,
         |    string_agg(word, ' ' ORDER BY pos) AS phrase,
         |    COUNT(*) AS plen
         |  FROM sg WHERE NOT is_stop GROUP BY 1, 2),
         |occ AS (
         |  SELECT s.doc_id, s.seg, s.word, p.plen
         |  FROM sg s JOIN ph p USING (doc_id, seg)
         |  WHERE NOT s.is_stop),
         |wsc AS (
         |  SELECT word, CAST(SUM(plen) * 1000 // COUNT(*) AS BIGINT)
         |      AS wscore_milli
         |  FROM occ GROUP BY 1),
         |psc AS (
         |  SELECT doc_id, seg, CAST(SUM(wscore_milli) AS BIGINT)
         |      AS score_milli
         |  FROM occ JOIN wsc USING (word) GROUP BY 1, 2)
         |SELECT p.phrase, CAST(MAX(p.plen) AS BIGINT) AS n_words,
         |  COUNT(*) AS n_occ, MAX(s.score_milli) AS score_milli
         |FROM ph p JOIN psc s USING (doc_id, seg)
         |GROUP BY p.phrase
         |ORDER BY score_milli DESC, phrase LIMIT 20""".stripMargin
    },
    "q351_ece_calibration" -> {
      // lmDocCte already defines h/cm/th for its own tertiles — the
      // decile chain uses eh/ecm/dth to avoid CTE-name capture
      val bucketSql = (1 to 9).map(i =>
        s"(CASE WHEN score_ppm >= t$i THEN 1 ELSE 0 END)").mkString(" + ")
      val thSql = (1 to 9).map(i =>
        s"MIN(CASE WHEN cum >= ($i * n) // 10 THEN score_ppm END) AS t$i")
        .mkString(",\n         |    ")
      s"""${LmOps.lmDocCte},
         |${PipelineOps.gopherFlagCtes},
         |scored AS (
         |  SELECT lm.score_ppm, f.keep_rules AS keep
         |  FROM lm JOIN flg f ON lm.doc_id = f.doc_id),
         |eh AS (SELECT score_ppm, COUNT(*) AS c FROM scored GROUP BY 1),
         |ecm AS (
         |  SELECT score_ppm,
         |    SUM(c) OVER (ORDER BY score_ppm ROWS UNBOUNDED PRECEDING)
         |      AS cum
         |  FROM eh),
         |en AS (SELECT COUNT(*) AS n FROM scored),
         |dth AS (
         |  SELECT $thSql
         |  FROM ecm, en),
         |bk AS (
         |  SELECT CAST($bucketSql AS BIGINT) AS bucket, score_ppm, keep
         |  FROM scored, dth),
         |br AS (
         |  SELECT bucket, COUNT(*) AS n,
         |    CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS conf_ppm,
         |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
         |      // COUNT(*) AS BIGINT) AS acc_ppm
         |  FROM bk GROUP BY 1),
         |br2 AS (
         |  SELECT bucket, n, conf_ppm, acc_ppm,
         |    ABS(acc_ppm - conf_ppm) AS gap_ppm
         |  FROM br)
         |SELECT * FROM (
         |  SELECT bucket, n, conf_ppm, acc_ppm,
         |    CAST(gap_ppm AS BIGINT) AS gap_ppm
         |  FROM br2
         |  UNION ALL
         |  SELECT -1, CAST(SUM(n) AS BIGINT),
         |    CAST(SUM(conf_ppm * n) // SUM(n) AS BIGINT),
         |    CAST(SUM(acc_ppm * n) // SUM(n) AS BIGINT),
         |    CAST(SUM(gap_ppm * n) // SUM(n) AS BIGINT)
         |  FROM br2)
         |ORDER BY bucket""".stripMargin
    },
    "q362_brier_decomposition" -> {
      // same decile chain as q351, FRESH CTE names again (qh/qcm/qth —
      // lmDocCte owns h/cm/th, q351 owns eh/ecm/dth)
      val bucketSql = (1 to 9).map(i =>
        s"(CASE WHEN score_ppm >= t$i THEN 1 ELSE 0 END)").mkString(" + ")
      val thSql = (1 to 9).map(i =>
        s"MIN(CASE WHEN cum >= ($i * n) // 10 THEN score_ppm END) AS t$i")
        .mkString(",\n         |    ")
      s"""${LmOps.lmDocCte},
         |${PipelineOps.gopherFlagCtes},
         |scored AS (
         |  SELECT lm.score_ppm, f.keep_rules AS keep
         |  FROM lm JOIN flg f ON lm.doc_id = f.doc_id),
         |qh AS (SELECT score_ppm, COUNT(*) AS c FROM scored GROUP BY 1),
         |qcm AS (
         |  SELECT score_ppm,
         |    SUM(c) OVER (ORDER BY score_ppm ROWS UNBOUNDED PRECEDING)
         |      AS cum
         |  FROM qh),
         |qn AS (SELECT COUNT(*) AS n FROM scored),
         |qth AS (
         |  SELECT $thSql
         |  FROM qcm, qn),
         |qbk AS (
         |  SELECT CAST($bucketSql AS BIGINT) AS bucket, score_ppm, keep
         |  FROM scored, qth),
         |qyb AS (
         |  SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS ybar_ppm
         |  FROM qbk),
         |qpb AS (
         |  SELECT bucket, COUNT(*) AS n,
         |    CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS conf_ppm,
         |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
         |      // COUNT(*) AS BIGINT) AS acc_ppm,
         |    CAST(SUM(
         |      (score_ppm - CASE WHEN keep THEN 1000000 ELSE 0 END)
         |      * (score_ppm - CASE WHEN keep THEN 1000000 ELSE 0 END))
         |      AS BIGINT) AS sq_sum
         |  FROM qbk GROUP BY 1),
         |qpb2 AS (
         |  SELECT bucket, n, conf_ppm, acc_ppm,
         |    CAST(sq_sum // n AS BIGINT) AS brier_ppm2,
         |    CAST(n * (conf_ppm - acc_ppm) * (conf_ppm - acc_ppm)
         |      AS BIGINT) AS rel_xn,
         |    CAST(n * (acc_ppm - ybar_ppm) * (acc_ppm - ybar_ppm)
         |      AS BIGINT) AS res_xn,
         |    CAST(ybar_ppm * (1000000 - ybar_ppm) AS BIGINT) AS unc_ppm2,
         |    sq_sum
         |  FROM qpb CROSS JOIN qyb)
         |SELECT * FROM (
         |  SELECT bucket, n, conf_ppm, acc_ppm, brier_ppm2, rel_xn,
         |    res_xn, unc_ppm2
         |  FROM qpb2
         |  UNION ALL
         |  SELECT -1, CAST(SUM(n) AS BIGINT),
         |    CAST(SUM(conf_ppm * n) // SUM(n) AS BIGINT),
         |    CAST(SUM(acc_ppm * n) // SUM(n) AS BIGINT),
         |    CAST(SUM(sq_sum) // SUM(n) AS BIGINT),
         |    CAST(SUM(rel_xn) AS BIGINT), CAST(SUM(res_xn) AS BIGINT),
         |    CAST(MAX(unc_ppm2) AS BIGINT)
         |  FROM qpb2)
         |ORDER BY bucket""".stripMargin
    },
    "q350_ari_clustering" ->
      s"""WITH qv AS MATERIALIZED (
         |  SELECT vec_id, label,
         |    $quantSql AS q
         |  FROM embeddings),
         |seeds AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sidx, q AS sq
         |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $K)),
         |assign AS (
         |  SELECT CAST(MIN(${d2Sql("q", "sq")} * $K + sidx) % $K AS BIGINT)
         |      AS cluster,
         |    label
         |  FROM qv, seeds GROUP BY vec_id, label),
         |cells AS (
         |  SELECT cluster, label, COUNT(*) AS nij
         |  FROM assign GROUP BY 1, 2),
         |ip AS (
         |  SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS i_pairs,
         |    CAST(SUM(nij) AS BIGINT) AS n,
         |    COUNT(DISTINCT cluster) AS n_clusters,
         |    COUNT(DISTINCT label) AS n_labels
         |  FROM cells),
         |ap AS (
         |  SELECT CAST(SUM((a * (a - 1)) // 2) AS BIGINT) AS a_pairs
         |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS a FROM cells
         |        GROUP BY cluster)),
         |bp AS (
         |  SELECT CAST(SUM((b * (b - 1)) // 2) AS BIGINT) AS b_pairs
         |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS b FROM cells
         |        GROUP BY label)),
         |pur AS (
         |  SELECT CAST(SUM(m) AS BIGINT) AS pur_sum
         |  FROM (SELECT MAX(nij) AS m FROM cells GROUP BY cluster))
         |SELECT n, n_clusters, n_labels, i_pairs, a_pairs, b_pairs,
         |  CAST(CASE WHEN (a_pairs + b_pairs) * ((n * (n - 1)) // 2)
         |      = 2 * a_pairs * b_pairs THEN NULL
         |    ELSE (i_pairs * ((n * (n - 1)) // 2) - a_pairs * b_pairs)
         |      * 2000
         |      // ((a_pairs + b_pairs) * ((n * (n - 1)) // 2)
         |        - 2 * a_pairs * b_pairs)
         |    END AS BIGINT) AS ari_milli,
         |  CAST(pur_sum * 1000000 // n AS BIGINT) AS purity_ppm
         |FROM ip, ap, bp, pur""".stripMargin)
}
