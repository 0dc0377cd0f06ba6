package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Segment-granularity corpus statistics: CCNet-style line dedup, PMI
  * collocations, and tokenizer-vocabulary coverage.
  *
  *  - q156: line-level exact dedup (Wenzek et al. 2020 §3.1 dedupe
  *    lines by hash across shards, keeping ONE copy globally). The
  *    corpus has no newlines, so the "line" is a deterministic
  *    12-word segment — same decision structure, same shuffle shape.
  *  - q157: PMI-ranked bigram collocations in exact integer
  *    fixed-point (the classic collocation-extraction step used for
  *    tokenizer seeding and phrase mining).
  *  - q158: vocabulary coverage / OOV rate per (lang, source) against
  *    the global top-K vocabulary — the pre-tokenization audit every
  *    training run reports.
  *
  * Ref: the reference's keyword UDTF splits and counts segments of
  * page text (KeywordUtil.java:16-45, DwsTrafficSourceKeywordPageView
  * Window.java:41-76); these are the corpus-curation versions of that
  * segment→aggregate shape.
  *
  * Scale (100 TB): every query is explode → hash-shuffle → aggregate.
  * q156's keep-first owner is ONE distinct-by-hash aggregate (state =
  * one (doc,seg) pair per distinct segment, the q16 keep-first
  * decision applied corpus-wide); the rebuild groupBy holds only a
  * doc's own segments. q157's unigram table is vocab-bounded and
  * broadcast to the bigram side; nothing corpus-scale is ever sorted
  * (the final ORDER BY sees ≤ vocab² rows, and the top-50 is a
  * TakeOrdered). q158 joins the token stream against a broadcast
  * K-row vocabulary.
  */
object SegmentOps extends graft.QueryPack {

  private val SegLen = 12
  // packed (doc_id, seg) owner key: supports ≤2²⁰ segments per doc
  // (a 12M-char doc at SegLen=12) and doc_id < 2⁴³
  private val SegCap = 1L << 20

  /** q156: (doc_id, n_segs, n_kept, text_dedup) — drop every segment
    * whose exact content already occurred earlier in the corpus
    * (global (doc_id, seg) order), rebuild the surviving text. */
  def lineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupFrom(Tables.documents(s, d))

  private[queries] def lineDedupFrom(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(w)-1) div $SegLen)," +
          s" i -> array_join(slice(w, i*$SegLen+1, $SegLen), ' '))"))
        .as(Seq("seg", "seg_text")))
    // keep-first owner per distinct segment content: min (doc_id, seg),
    // packed into one long (seg < 2²⁰ ⇒ lexicographic ≡ numeric) so the
    // aggregate stays a hash-aggregable MIN(LONG) — min(struct) would
    // demote the corpus-scale aggregation to SortAggregate (measured:
    // an extra Exchange+Sort over the segment stream)
    val packed = col("doc_id") * SegCap + col("seg")
    val owner = segs
      .groupBy(md5(col("seg_text")).as("h"))
      .agg(min(packed).as("own"))
    val kept = segs.withColumn("h", md5(col("seg_text")))
      .join(owner, Seq("h"))
      .filter(packed === col("own"))
    val perDoc = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(seg, seg_text))), x -> x.seg_text)"), " ")
          .as("text_dedup"))
    perDoc.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** q157: top-50 bigram collocations by exact integer PMI proxy
    * `score_ppm = (c_xy · N · 10⁶) div (c_x · c_y)` (monotone in
    * pointwise mutual information for fixed N; floor'd fixed point so
    * both engines compute the identical BIGINT). Bound: c_xy ≤ N, so
    * the numerator is ≤ N²·10⁶ — exact while N < ~3·10⁶ tokens; at
    * corpus scale compute on per-shard-normalized counts or widen to
    * DECIMAL(38,0) (the q134 fixed-point ceiling note applies). */
  def pmiCollocations(s: SparkSession, d: String): DataFrame =
    pmiFrom(TextOps.words(s, d).select(col("doc_id"), col("pos"), col("word")))

  private[queries] def pmiFrom(w: DataFrame): DataFrame = {
    val uni = w.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    val bg = w.as("a").join(w.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.pos") + 1 === col("b.pos"))
      .groupBy(col("a.word").as("w1"), col("b.word").as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    bg.join(broadcast(uni.select(col("word").as("w1"), col("c").as("c_x"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c_y"))),
        Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("(c_xy * n_tokens * 1000000L) div (c_x * c_y)").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
      .limit(50)
  }

  private val VocabK = 16

  /** q158: per-(lang, source) OOV audit against the global top-K
    * vocabulary (K=16 — deliberately smaller than this corpus's ~31
    * distinct words so the rate is non-degenerate; ties break by
    * (count desc, word asc)). Output: (lang, source, tokens,
    * oov_tokens, oov_ppm). */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val w = TextOps.words(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val counts = w.groupBy(col("word")).agg(count(lit(1)).as("c"))
    // vocab-bounded frame: the global sort sees |vocab| rows, never the
    // token stream
    val vocab = counts
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("word"))))
      .filter(col("rk") <= VocabK)
      .select(col("word"), lit(1L).as("in_vocab"))
    w.join(docs, Seq("doc_id"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_ppm", expr("(oov_tokens * 1000000L) div tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q156_line_dedup" -> lineDedup,
    "q157_pmi_collocations" -> pmiCollocations,
    "q158_oov_rate" -> oovRate)

  val oracle: Map[String, String] = Map(
    "q156_line_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |segi AS (
         |  SELECT doc_id, w,
         |    unnest(range(0, (len(w) + ${SegLen - 1}) // $SegLen)) AS seg
         |  FROM base),
         |segt AS (
         |  SELECT doc_id, seg,
         |    array_to_string(list_slice(w, seg*$SegLen+1, seg*$SegLen+$SegLen),
         |      ' ') AS seg_text
         |  FROM segi),
         |kept AS (
         |  SELECT doc_id, seg, seg_text FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY md5(seg_text) ORDER BY doc_id, seg) AS rn
         |    FROM segt) WHERE rn = 1),
         |nsegs AS (
         |  SELECT doc_id, COUNT(*) AS n_segs FROM segt GROUP BY doc_id),
         |reb AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(seg_text, ' ' ORDER BY seg) AS text_dedup
         |  FROM kept GROUP BY doc_id)
         |SELECT n.doc_id, n.n_segs,
         |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(r.text_dedup, '') AS text_dedup
         |FROM nsegs n LEFT JOIN reb r USING (doc_id)""".stripMargin,
    "q157_pmi_collocations" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS word,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |uni AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
        |n AS (SELECT SUM(c) AS n_tokens FROM uni),
        |bg AS (
        |  SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c_xy
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.pos + 1 = b.pos
        |  GROUP BY a.word, b.word HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c_xy,
        |  CAST((c_xy * n_tokens * 1000000) // (cx.c * cy.c) AS BIGINT)
        |    AS score_ppm
        |FROM bg
        |JOIN uni cx ON cx.word = bg.w1
        |JOIN uni cy ON cy.word = bg.w2
        |CROSS JOIN n
        |ORDER BY score_ppm DESC, w1, w2 LIMIT 50""".stripMargin,
    "q158_oov_rate" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |counts AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
         |vocab AS (
         |  SELECT word FROM (
         |    SELECT word, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rk
         |    FROM counts) WHERE rk <= $VocabK)
         |SELECT d.lang, d.source,
         |  COUNT(*) AS tokens,
         |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_tokens,
         |  CAST((SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS oov_ppm
         |FROM w
         |JOIN documents d USING (doc_id)
         |LEFT JOIN vocab v ON v.word = w.word
         |GROUP BY d.lang, d.source""".stripMargin)
}
