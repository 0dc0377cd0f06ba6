package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus audits for the RAG/tokenizer side of the pipeline:
  *
  *  - q254: chunk-level dedup census — the q149 overlapping RAG chunks
  *    fingerprinted (md5 over the joined token window) and audited per
  *    source: how many chunks, how many distinct, how many appear in
  *    more than one document (cross-doc duplicates are what poison a
  *    retrieval index; FineWeb-style pipelines dedup at this
  *    granularity before embedding).
  *  - q255: tokenizer vocabulary coverage curve — corpus token mass
  *    covered by the top-V most frequent tokens for V ∈ {1k, 2k, 4k,
  *    8k, 16k}: the curve a tokenizer designer reads before fixing a
  *    vocab size (the q135/q138 BPE family's sizing input).
  *
  * Determinism: chunk identity is md5 (byte-stable in both engines);
  * the coverage ranking breaks frequency ties lexicographically, so
  * every prefix sum is engine-exact.
  *
  * Scale (100 TB): q254 is chunk explode → one (source, md5) aggregate
  * → one bounded per-source aggregate. q255's window ranks the
  * DISTINCT-token frame (vocabulary-bounded, the q112/q157 rule) —
  * the corpus-scale explode only feeds a map-side-combinable count.
  */
object CorpusAuditOps extends graft.QueryPack {

  /** q254: per-source chunk dedup census over the q149 chunks. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = RetrievalOps.chunkDocs(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
    val perChunk = chunks.groupBy(col("source"), col("chunk_md5"))
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
    perChunk.groupBy(col("source"))
      .agg(sum(col("n_occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n_occ")) - count(lit(1))).as("dup_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L))
          .as("cross_doc_chunks"))
      .withColumn("dup_ppm",
        expr("(dup_chunks * 1000000) div n_chunks"))
      .orderBy(col("source"))
  }

  private val VocabSizes = Seq(1000L, 2000L, 4000L, 8000L, 16000L)

  /** q255: coverage curve of the top-V token vocabulary. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val freq = TextOps.words(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("f").desc, col("word"))))
    val aggs = VocabSizes.map(v =>
      sum(when(col("rank") <= v, col("f")).otherwise(0L)).as(s"c_$v")) ++
      Seq(sum(col("f")).as("total"), count(lit(1)).as("n_vocab"))
    val wide = freq.agg(aggs.head, aggs.tail: _*)
    val rows = VocabSizes.map(v =>
      wide.select(lit(v).as("vocab_size"),
        least(lit(v), col("n_vocab")).as("tokens_in_vocab"),
        col(s"c_$v").as("covered_tokens"),
        expr(s"(c_$v * 1000000) div total").as("coverage_ppm")))
    rows.reduce(_ unionAll _).orderBy(col("vocab_size"))
  }

  private val GrowthSteps = Seq(10L, 20L, 50L, 100L, 200L, 500L,
    1000L, 2000L, 5000L, 10000L)

  /** q290: vocabulary-growth curves (the Heaps'-law points) —
    * distinct unigram AND bigram vocabulary after the first N docs,
    * for a literal ladder of N. Cumulative-distinct is made one-pass
    * by the FIRST-OCCURRENCE device: vocab(N) = #{grams whose min
    * doc_id < N} — one aggregate to the per-gram min, then ten
    * conditional counts; no iterative scan, no distinct-per-prefix.
    * Both n-gram orders because this corpus's UNIGRAM vocabulary is
    * 31 words (saturates by N≈10 — verified, and why a corpus-hapax
    * census was rejected as vacuous); the bigram curve genuinely
    * grows, which is what makes the ladder informative. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val uni = TextOps.words(s, d)
      .groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(min(col("doc_id")).as("first_doc"))
    def wide(f: DataFrame, pfx: String) = f.agg(
      GrowthSteps.map(n => sum(when(col("first_doc") < n, 1L)
        .otherwise(0L)).as(s"${pfx}_$n")).head,
      GrowthSteps.tail.map(n => sum(when(col("first_doc") < n, 1L)
        .otherwise(0L)).as(s"${pfx}_$n")): _*)
    val w1 = wide(uni, "u"); val w2 = wide(bi, "b")
    val joined = w1.crossJoin(w2)
    GrowthSteps.map(n =>
      joined.select(lit(n).as("n_docs"),
        col(s"u_$n").as("unigram_vocab"),
        col(s"b_$n").as("bigram_vocab")))
      .reduce(_ unionAll _)
      .orderBy(col("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_chunk_dedup" -> chunkDedup,
    "q255_vocab_coverage" -> vocabCoverage,
    "q290_vocab_growth" -> vocabGrowth)

  val oracle: Map[String, String] = Map(
    "q290_vocab_growth" -> {
      def vSel(pfx: String) = GrowthSteps.map(n =>
        s"CAST(SUM(CASE WHEN first_doc < $n THEN 1 ELSE 0 END)" +
          s" AS BIGINT) AS ${pfx}_$n").mkString(",\n    ")
      val branches = GrowthSteps.map(n =>
        s"SELECT $n AS n_docs, u_$n AS unigram_vocab," +
          s" b_$n AS bigram_vocab FROM w1 CROSS JOIN w2")
        .mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |fsu AS (
         |  SELECT word, MIN(doc_id) AS first_doc FROM w GROUP BY word),
         |bg AS (
         |  SELECT doc_id,
         |    t[i] || ' ' || t[i + 1] AS bigram
         |  FROM (
         |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1))
         |      AS i
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t
         |          FROM documents))),
         |fsb AS (
         |  SELECT bigram, MIN(doc_id) AS first_doc FROM bg
         |  GROUP BY bigram),
         |w1 AS (SELECT ${vSel("u")} FROM fsu),
         |w2 AS (SELECT ${vSel("b")} FROM fsb)
         |SELECT * FROM ($branches) ORDER BY n_docs""".stripMargin
    },
    "q254_chunk_dedup" -> {
      // mirror of the q149 chunk construction (len 32, stride 24)
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(ws, k * 24 + 1, k * 24 + 32),
        |      ' ')) AS chunk_md5
        |  FROM ws, LATERAL (SELECT UNNEST(range(0,
        |    (len(ws) - 1) // 24 + 1)) AS k)),
        |j AS (
        |  SELECT d.source, c.chunk_md5, c.doc_id
        |  FROM ch c JOIN documents d USING (doc_id)),
        |pc AS (
        |  SELECT source, chunk_md5, COUNT(*) AS n_occ,
        |    COUNT(DISTINCT doc_id) AS n_docs
        |  FROM j GROUP BY source, chunk_md5)
        |SELECT source, CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(n_occ) - COUNT(*) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS cross_doc_chunks,
        |  CAST((SUM(n_occ) - COUNT(*)) * 1000000 // SUM(n_occ)
        |    AS BIGINT) AS dup_ppm
        |FROM pc GROUP BY source ORDER BY source""".stripMargin
    },
    "q255_vocab_coverage" -> {
      val cSel = VocabSizes.map(v =>
        s"CAST(SUM(CASE WHEN rank <= $v THEN f ELSE 0 END) AS BIGINT)" +
          s" AS c_$v").mkString(",\n    ")
      val branches = VocabSizes.map(v =>
        s"""SELECT $v AS vocab_size,
           |  LEAST($v, n_vocab) AS tokens_in_vocab,
           |  c_$v AS covered_tokens,
           |  CAST(c_$v * 1000000 // total AS BIGINT) AS coverage_ppm
           |FROM wide""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |freq AS (SELECT word, COUNT(*) AS f FROM w GROUP BY word),
         |rk AS (
         |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word) AS rank
         |  FROM freq),
         |wide AS (
         |  SELECT $cSel,
         |    CAST(SUM(f) AS BIGINT) AS total, COUNT(*) AS n_vocab
         |  FROM rk)
         |SELECT * FROM ($branches) ORDER BY vocab_size""".stripMargin
    })
}
