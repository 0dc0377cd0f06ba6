package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Mat.StableOps

/** Full-text retrieval over the corpus — the BM25 ranking function
  * (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
  * BM25 and Beyond"), the lexical side of any retrieval/RAG pipeline
  * and the capability a training-data engine needs to answer "which
  * documents match this query" at corpus scale (the dense side is the
  * ANN family, q33/q34/q38/q39/q98/q131).
  *
  *  - q146: top-20 documents for a fixed conjunctive-ish term query,
  *    scored by a FIXED-POINT BM25 surrogate. Two transcendental-free
  *    substitutions keep the score integer-exact across engines (the
  *    q140/q134 rule — JVM vs libm may differ in the last ulp, integers
  *    never do):
  *      idf: log((N−df+0.5)/(df+0.5)) → idf_ppm = ((2(N−df)+1)·10⁶)
  *        div (2df+1) — the log's argument at ppm scale; log is
  *        monotone, so per-term ordering is preserved (cross-term sums
  *        can reorder vs true BM25 only when per-term idf magnitudes
  *        differ wildly; the spec pins the semantic contracts).
  *      length norm: dl/avgdl → rl = (900·dl·N) div T at milli scale
  *        (T = total tokens), one nested integer div, identical in both
  *        engines by construction.
  *    Per-term contribution (k1 = 1.2, b = 0.75, milli-scaled):
  *      (idf_ppm · tf · 2200) div (tf·1000 + 300 + rl)
  *    Intermediates bound: idf_ppm < 2N·10⁶, ×tf (≤ doc len) ×2200
  *    stays < 2⁶³ through corpus ~10⁹ docs × doc len 10³ — past that,
  *    pre-divide idf_ppm by 10³ (ordering unchanged, resolution 10³).
  *
  * Plan shape (the scale story): ONE linear pass over the exploded
  * words builds the per-doc (dl, tf per query term) profile as a
  * map-side-combinable aggregate — conditional sums, no join against a
  * posting list, no shuffle keyed by word (the |query| is a constant,
  * so tf columns are a fixed-width struct). Corpus stats (N, T, df per
  * term) reduce that doc-level frame to ONE broadcast row. Scoring is
  * a projection; the top-20 is a TakeOrderedAndProject heap — no global
  * sort. Total: one wide-table scan + one doc-level aggregate, both
  * AQE-friendly; at 100 TB the scan dominates and everything else is
  * constant-size.
  *
  * Ref: the reference serves keyword statistics from its keyword table
  * (gmall-publisher-realtime KeywordController/KeywordService — the
  * U1 tokenize family feeds it); ranked retrieval over those same
  * tokens is the published generalization of that endpoint.
  */
object RetrievalOps extends graft.QueryPack {

  /** Fixed query — terms present in the corpus vocabulary. */
  private val QueryTerms = Seq("spark", "join", "window")
  private val TopK = 20

  /** All matching docs with their fixed-point BM25 score — the shared
    * scoring core of q146 (top-k) and q155 (hybrid fusion). */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tfCols = QueryTerms.map(t =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    // materialize the doc-level aggregate once (coalesced — the r10
    // bounded-frame rule): it feeds BOTH the corpus-stats broadcast and
    // the scoring probe, and leaving it as a reused exchange puts the
    // probe stage inside an AQE diamond that never gets a coalesced
    // read — measured 4096 tasks per run under the production profile
    // (PLANS.md §round-10, the one standing >3× cell before this).
    // Mat.stable (localCheckpoint, or a reliable checkpoint under
    // spark.graft.reliableCheckpoint) is EAGER: constructing this frame runs the
    // words+groupBy job immediately, so plan-only consumers (explain/
    // schema tools) pay it too — fine for bench/gate, and it also
    // removes a double evaluation of the words subtree. The coalesce
    // narrows the producing aggregate stage as well (bounded frame:
    // one row per matching doc)
    val perDoc = TextOps.words(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .coalesce(s.sparkContext.defaultParallelism).stable()
    val dfCols = QueryTerms.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val statCols = count(lit(1)).as("n") +: sum(col("dl")).as("tt") +: dfCols
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val contribs = QueryTerms.map { t =>
      expr(s"""CASE WHEN tf_$t > 0 THEN
              |  ((((2 * (n - df_$t) + 1) * 1000000L) div (2 * df_$t + 1))
              |    * tf_$t * 2200L)
              |  div (tf_$t * 1000L + 300L + (900L * dl * n) div tt)
              |ELSE 0L END""".stripMargin)
    }
    val matched = QueryTerms.map(t =>
      when(col(s"tf_$t") > 0, 1L).otherwise(0L)).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score_ppm", contribs.reduce(_ + _))
      .withColumn("matched_terms", matched)
      .filter(col("score_ppm") > 0)
  }

  /** q146: (doc_id, matched_terms, score_ppm) — top-20 by BM25. */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d)
      .orderBy(desc("score_ppm"), asc("doc_id"))
      .limit(TopK)
      .select("doc_id", "matched_terms", "score_ppm")

  /** q148: inverted index with TRUNCATED posting lists — (term, df,
    * tf_total, postings = first 16 doc ids). Terms are word bigrams
    * (vocab²-bounded rows at any corpus size). The truncation is the
    * scale design, not a shortcut: a full posting list for a stopword
    * bigram is corpus-sized, so the list is capped with the native
    * bounded-heap `topk_by` (≤ 16 entries per partial buffer,
    * map-side combined) over per-(term, doc) pre-aggregated rows —
    * never an unbounded collect_set. Real systems store exactly this
    * shape (block-max / impact-ordered prefixes).
    */
  def postingLists(s: SparkSession, d: String): DataFrame = {
    graft.functions.TopKBy.register(s)
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ws) - 2),
          |  j -> concat(element_at(ws, j + 1), ' ',
          |              element_at(ws, j + 2)))""".stripMargin)).as("term"))
    // postings serialized as a CSV STRING, not array<bigint>: the
    // driver's pandas compare lexsorts column values and throws on
    // list objects (r7 q148 driver-red) — and the scalar-only output
    // contract (EntrySpec) now forbids nested columns outright. The
    // canonical on-disk shape for a posting prefix is a packed
    // delta-encoded blob anyway; CSV is its testable analog.
    terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        sort_array(call_function("topk_by",
          -col("doc_id"), col("doc_id"), lit(16))).as("plist"))
      .select(col("term"), col("df"), col("tf_total"),
        expr("array_join(transform(plist, x -> CAST(x AS STRING)), ',')")
          .as("postings"))
  }

  private val ChunkLen = 32
  private val ChunkStride = 24

  /** q149: RAG chunk table — fixed-size token windows WITH OVERLAP
    * (len 32, stride 24), the retrieval-unit materialization every
    * RAG/embedding pipeline runs before encoding (overlap preserves
    * context across boundaries; q48_doc_chunks is the disjoint
    * packing variant). Emits (doc_id, chunk_idx, n_tokens, chunk_md5).
    * Pure per-row transform + bounded explode (≈ one chunk per stride
    * tokens): zero shuffles, embarrassingly parallel at 100 TB.
    */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(ws) - 1) div $ChunkStride),
           |  k -> struct(k AS chunk_idx,
           |    slice(ws, k * $ChunkStride + 1, $ChunkLen) AS chunk))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"),
        size(col("c.chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.chunk"))).as("chunk_md5"))

  private val FuseK = 50 // per-list depth fed into the fusion
  private val RrfC = 60L // the standard RRF damping constant

  /** q155: HYBRID retrieval — reciprocal rank fusion of the lexical
    * (BM25, q146) and dense (cosine vs the query vector, q33) lists,
    * the standard two-tower search composition (Cormack et al. 2009).
    * Doc and vector ids are aligned by contract (doc i ↔ vec_id i).
    * Each side contributes its top-[[FuseK]]; RRF score is the
    * INTEGER `1e6 div (60 + rank)` per list membership — transcendental
    * -free, so the fused ordering is engine-exact. Missing-side ranks
    * surface as 0 (audit-friendly) and contribute nothing.
    *
    * Scale: each side ends in a TakeOrderedAndProject heap (no global
    * sort); the only windows assign ranks within the two ≤ FuseK-row
    * lists (driver-size frames by construction), and the fusion join
    * is FuseK×FuseK-bounded. At 100 TB the two scans dominate —
    * exactly the q146/q33 plans.
    *
    * Output: (doc_id, lex_rank, vec_rank, rrf_ppm) — top-10. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VecOps.register(s)
    val lex = bm25Scores(s, d)
      .orderBy(desc("score_ppm"), asc("doc_id")).limit(FuseK)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(desc("score_ppm"), asc("doc_id"))))
      .select(col("doc_id"), col("lex_rank").cast("long").as("lex_rank"))
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).limit(1)
      .select(col("embedding").as("qemb"))
    val vec = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VecOps.vec_cosine(col("embedding"), col("qemb"))
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(FuseK)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(desc("cos_sim"), asc("vec_id"))))
      .select(col("vec_id").as("doc_id"),
        col("vec_rank").cast("long").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        s"coalesce(1000000L div ($RrfC + lex_rank), 0L)" +
          s" + coalesce(1000000L div ($RrfC + vec_rank), 0L)"))
      .orderBy(desc("rrf_ppm"), asc("doc_id")).limit(10)
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        col("rrf_ppm"))
  }

  /** q175: offline retrieval evaluation — Recall@10 and MRR over a
    * fully derived qrel set, all integer ppm. Queries are docs 0–4,
    * each asking its own first three words; a document is RELEVANT to
    * a query iff it shares ≥2 of the query's three distinct terms
    * (and is not the query doc). The ranking under evaluation is the
    * lexical (matched-terms, matched-tf, doc_id) order — so the whole
    * judgment chain (qrels, ranking, metrics) is engine-exact with no
    * transcendental discount (MRR instead of NDCG by design: 1/rank
    * is rational; per-query value = 10⁶ div firstRelevantRank).
    *
    * Scale: terms fan out to a 15-row broadcast; candidates come from
    * a posting-style equi-join on term (docs sharing ≥1 term), the
    * per-query window ranks only that query's candidates. Output: one
    * row per query. */
  /** Shared qrel machinery of q175/q253: candidate (q, doc) matches
    * with term-overlap stats, and the derived binary relevance set. */
  private def lexicalJudgments(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val qterms = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q"),
        explode(expr("array_distinct(slice(split(text, ' '), 1, 3))"))
          .as("word"))
    val matches = words.select(col("doc_id"), col("word"))
      .join(broadcast(qterms), Seq("word"))
      .filter(col("doc_id") =!= col("q"))
      .groupBy(col("q"), col("doc_id"))
      .agg(countDistinct(col("word")).as("n_terms"),
        count(lit(1)).as("tf"))
    val rel = matches.filter(col("n_terms") >= 2)
      .select(col("q"), col("doc_id"), lit(1L).as("is_rel"))
    (matches, rel)
  }

  def retrievalEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (matches, rel) = lexicalJudgments(s, d)
    val ranked = matches
      .withColumn("rank", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("n_terms").desc, col("tf").desc, col("doc_id"))))
      .join(rel, Seq("q", "doc_id"), "left")
    val nrel = rel.groupBy(col("q")).agg(count(lit(1)).as("n_rel"))
    ranked.groupBy(col("q"))
      .agg(sum(when(col("rank") <= 10 && col("is_rel") === 1L, 1L)
          .otherwise(0L)).as("rel_in_10"),
        min(when(col("is_rel") === 1L, col("rank"))).as("first_rel"))
      .join(broadcast(nrel), Seq("q"))
      .select(col("q"), col("n_rel"),
        expr("(rel_in_10 * 1000000L) div n_rel").as("recall10_ppm"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("mrr_ppm"))
  }

  // NDCG@10 discounts 10⁶/log₂(i+1), i = 1..10, computed ONCE driver-
  // side (the q230/q238 literal device — the log never runs in-engine),
  // plus their prefix sums (ideal DCG for n_rel = 1..10 binary gains).
  private val DiscPpm: Seq[Long] =
    (1 to 10).map(i => (1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
  private val IdcgPpm: Seq[Long] = DiscPpm.scanLeft(0L)(_ + _).tail

  /** q253: NDCG@10 of the lexical ranking against the q175 qrels —
    * binary gains, literal discount table, all-integer ppm. Exact in
    * both engines because the only transcendentals are the ten driver-
    * computed literals. One row per query with ≥1 relevant doc. */
  def ndcgEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (matches, rel) = lexicalJudgments(s, d)
    val ranked = matches
      .withColumn("rank", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("n_terms").desc, col("tf").desc, col("doc_id"))))
      .join(rel, Seq("q", "doc_id"), "left")
    val nrel = rel.groupBy(col("q")).agg(count(lit(1)).as("n_rel"))
    val discArr = array(DiscPpm.map(lit): _*)
    val idcgArr = array(IdcgPpm.map(lit): _*)
    ranked.groupBy(col("q"))
      .agg(sum(when(col("rank") <= 10 && col("is_rel") === 1L,
          element_at(discArr, col("rank").cast("int"))).otherwise(0L))
        .as("dcg_ppm"))
      .join(broadcast(nrel), Seq("q"))
      .withColumn("idcg_ppm",
        element_at(idcgArr, least(col("n_rel"), lit(10L)).cast("int")))
      .select(col("q"), col("n_rel"), col("dcg_ppm"), col("idcg_ppm"),
        expr("(dcg_ppm * 1000000L) div idcg_ppm").as("ndcg10_ppm"))
      .orderBy(col("q"))
  }

  private val NegK = 5

  /** q261: hard-negative mining for retrieval training — the top-K
    * highest-ranked NON-relevant candidates per query (strong lexical
    * match, fails the relevance bar): exactly the negatives a
    * contrastive dual-encoder trains against (Karpukhin et al. 2020,
    * DPR). Reuses the q175 qrel machinery; the anti-join against the
    * relevance set is what makes them "hard". Per-query window ranks
    * only that query's candidates; output is queries × K. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (matches, rel) = lexicalJudgments(s, d)
    matches.join(rel.select(col("q"), col("doc_id")),
        Seq("q", "doc_id"), "left_anti")
      .withColumn("rank", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("n_terms").desc, col("tf").desc, col("doc_id"))))
      .filter(col("rank") <= NegK)
      .select(col("q"), col("rank"), col("doc_id"), col("n_terms"),
        col("tf"))
      .orderBy(col("q"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_retrieval_eval" -> retrievalEval,
    "q253_ndcg" -> ndcgEval,
    "q261_hard_negatives" -> hardNegatives,
    "q146_bm25_topk" -> bm25TopK,
    "q148_posting_lists" -> postingLists,
    "q149_chunking" -> chunkDocs,
    "q155_hybrid_rrf" -> hybridRrf)

  /** Shared oracle CTE prefix of q175/q253 (the qrel machinery). */
  private val qrelCte: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |qt AS (
      |  SELECT doc_id AS q, unnest(list_distinct(
      |    list_slice(string_split(text, ' '), 1, 3))) AS word
      |  FROM documents WHERE doc_id < 5),
      |m AS (
      |  SELECT qt.q, w.doc_id,
      |    COUNT(DISTINCT w.word) AS n_terms, COUNT(*) AS tf
      |  FROM w JOIN qt USING (word)
      |  WHERE w.doc_id <> qt.q
      |  GROUP BY qt.q, w.doc_id),
      |rel AS (SELECT q, doc_id FROM m WHERE n_terms >= 2),
      |rk AS (
      |  SELECT q, doc_id, n_terms, tf,
      |    ROW_NUMBER() OVER (PARTITION BY q
      |      ORDER BY n_terms DESC, tf DESC, doc_id) AS rank
      |  FROM m),
      |nrel AS (SELECT q, COUNT(*) AS n_rel FROM rel GROUP BY q)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q261_hard_negatives" ->
      s"""$qrelCte,
         |neg AS (
         |  SELECT m.q, m.doc_id, m.n_terms, m.tf
         |  FROM m LEFT JOIN rel
         |    ON rel.q = m.q AND rel.doc_id = m.doc_id
         |  WHERE rel.doc_id IS NULL),
         |rkneg AS (
         |  SELECT q, doc_id, n_terms, tf,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q
         |      ORDER BY n_terms DESC, tf DESC, doc_id) AS BIGINT)
         |      AS rank
         |  FROM neg)
         |SELECT q, rank, doc_id, n_terms, tf
         |FROM rkneg WHERE rank <= $NegK
         |ORDER BY q, rank""".stripMargin,
    "q253_ndcg" -> {
      val discList = DiscPpm.mkString("[", ", ", "]")
      val idcgList = IdcgPpm.mkString("[", ", ", "]")
      s"""$qrelCte,
         |agg AS (
         |  SELECT rk.q,
         |    CAST(SUM(CASE WHEN rk.rank <= 10 AND rel.doc_id IS NOT NULL
         |      THEN $discList[rk.rank] ELSE 0 END) AS BIGINT) AS dcg_ppm
         |  FROM rk LEFT JOIN rel
         |    ON rel.q = rk.q AND rel.doc_id = rk.doc_id
         |  GROUP BY rk.q)
         |SELECT a.q, n.n_rel, a.dcg_ppm,
         |  CAST($idcgList[LEAST(n.n_rel, 10)] AS BIGINT) AS idcg_ppm,
         |  CAST((a.dcg_ppm * 1000000)
         |    // $idcgList[LEAST(n.n_rel, 10)] AS BIGINT) AS ndcg10_ppm
         |FROM agg a JOIN nrel n USING (q) ORDER BY a.q""".stripMargin
    },
    "q175_retrieval_eval" ->
      s"""$qrelCte,
        |agg AS (
        |  SELECT rk.q,
        |    SUM(CASE WHEN rk.rank <= 10 AND rel.doc_id IS NOT NULL
        |      THEN 1 ELSE 0 END) AS rel_in_10,
        |    MIN(CASE WHEN rel.doc_id IS NOT NULL THEN rk.rank END)
        |      AS first_rel
        |  FROM rk LEFT JOIN rel ON rel.q = rk.q AND rel.doc_id = rk.doc_id
        |  GROUP BY rk.q)
        |SELECT a.q, n.n_rel,
        |  CAST((a.rel_in_10 * 1000000) // n.n_rel AS BIGINT)
        |    AS recall10_ppm,
        |  CAST(COALESCE(1000000 // a.first_rel, 0) AS BIGINT) AS mrr_ppm
        |FROM agg a JOIN nrel n USING (q)""".stripMargin,
    "q146_bm25_topk" -> {
      val tfSel = QueryTerms.map(t =>
        s"SUM(CASE WHEN word = '$t' THEN 1 ELSE 0 END) AS tf_$t")
        .mkString(", ")
      val dfSel = QueryTerms.map(t =>
        s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
        .mkString(", ")
      val contribs = QueryTerms.map(t =>
        s"""CASE WHEN tf_$t > 0 THEN
           |  ((((2 * (n - df_$t) + 1) * 1000000) // (2 * df_$t + 1))
           |    * tf_$t * 2200)
           |  // (tf_$t * 1000 + 300 + (900 * dl * n) // tt)
           |ELSE 0 END""".stripMargin).mkString(" + ")
      val matched = QueryTerms.map(t =>
        s"CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS dl, $tfSel
         |  FROM w GROUP BY doc_id),
         |st AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tt, $dfSel
         |  FROM pd)
         |SELECT doc_id, CAST($matched AS BIGINT) AS matched_terms,
         |  CAST($contribs AS BIGINT) AS score_ppm
         |FROM pd, st
         |WHERE $contribs > 0
         |ORDER BY score_ppm DESC, doc_id
         |LIMIT $TopK""".stripMargin
    },
    "q148_posting_lists" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |j AS (
        |  SELECT doc_id, ws, unnest(range(1, len(ws))) AS j FROM w),
        |t AS (
        |  SELECT doc_id, ws[j] || ' ' || ws[j + 1] AS term FROM j),
        |pd AS (
        |  SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY term, doc_id)
        |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
        |  array_to_string(list_transform(
        |    list_slice(list(doc_id ORDER BY doc_id), 1, 16),
        |    x -> CAST(x AS VARCHAR)), ',') AS postings
        |FROM pd GROUP BY term""".stripMargin,
    "q155_hybrid_rrf" -> {
      val tfSel = QueryTerms.map(t =>
        s"SUM(CASE WHEN word = '$t' THEN 1 ELSE 0 END) AS tf_$t")
        .mkString(", ")
      val dfSel = QueryTerms.map(t =>
        s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
        .mkString(", ")
      val contribs = QueryTerms.map(t =>
        s"""CASE WHEN tf_$t > 0 THEN
           |  ((((2 * (n - df_$t) + 1) * 1000000) // (2 * df_$t + 1))
           |    * tf_$t * 2200)
           |  // (tf_$t * 1000 + 300 + (900 * dl * n) // tt)
           |ELSE 0 END""".stripMargin).mkString(" + ")
      def dot(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), " +
          "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
      def nsq(a: String) =
        s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
      val cos = s"${dot("embedding", "qemb")} / " +
        s"(sqrt(${nsq("embedding")}) * sqrt(${nsq("qemb")}))"
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |pd AS (
         |  SELECT doc_id, COUNT(*) AS dl, $tfSel
         |  FROM w GROUP BY doc_id),
         |st AS (
         |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tt, $dfSel
         |  FROM pd),
         |lexall AS (
         |  SELECT doc_id, CAST($contribs AS BIGINT) AS score_ppm
         |  FROM pd, st WHERE $contribs > 0),
         |lex AS (
         |  SELECT doc_id, lex_rank FROM (
         |    SELECT doc_id, score_ppm,
         |      ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
         |        AS lex_rank
         |    FROM lexall)
         |  WHERE lex_rank <= $FuseK),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |vecall AS (
         |  SELECT vec_id AS doc_id, $cos AS cos_sim
         |  FROM embeddings, q WHERE vec_id <> 0),
         |vec AS (
         |  SELECT doc_id, vec_rank FROM (
         |    SELECT doc_id, cos_sim,
         |      ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
         |        AS vec_rank
         |    FROM vecall)
         |  WHERE vec_rank <= $FuseK)
         |SELECT doc_id,
         |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
         |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
         |  CAST(COALESCE(1000000 // ($RrfC + lex_rank), 0)
         |    + COALESCE(1000000 // ($RrfC + vec_rank), 0) AS BIGINT)
         |    AS rrf_ppm
         |FROM lex FULL OUTER JOIN vec USING (doc_id)
         |ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin
    },
    "q149_chunking" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (
         |  SELECT doc_id, ws,
         |    unnest(range(0, ((len(ws) - 1) // $ChunkStride) + 1)) AS k
         |  FROM w)
         |SELECT doc_id, k AS chunk_idx,
         |  CAST(len(list_slice(ws, k * $ChunkStride + 1,
         |                      k * $ChunkStride + $ChunkLen)) AS BIGINT)
         |    AS n_tokens,
         |  md5(array_to_string(
         |        list_slice(ws, k * $ChunkStride + 1,
         |                   k * $ChunkStride + $ChunkLen), ' ')) AS chunk_md5
         |FROM c""".stripMargin)
}
