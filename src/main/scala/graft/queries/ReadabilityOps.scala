package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q249: Flesch reading-ease scoring of the documents corpus, entirely
  * in integer milli-units so both engines agree bit-for-bit.
  *
  * Flesch (1948): 206.835 − 1.015·(words/sentences) − 84.6·(syll/words).
  * Here: flesch_milli = 206835 − (1015·words) div sentences
  *                    − (84600·syll) div words, with the standard
  * vowel-group syllable heuristic (runs of [aeiouy] in the lowercased
  * text) and sentence counting by terminal-punctuation runs — both
  * deterministic regexp counts in the RE2 ∩ java.regex dialect (the
  * q147 discipline), so Spark's codegen'd `regexp_count` and DuckDB's
  * `len(regexp_extract_all(...))` compile the same automaton.
  *
  * Output: per (lang, source) — doc count, mean score (milli), and the
  * standard band census (hard < 30, standard 30–70, easy ≥ 70, scaled
  * ×1000). The per-doc frame never leaves the executors; the output is
  * langs × sources.
  *
  * Ref: the reference's keyword/traffic text handling stops at
  * tokenization (KeywordUtil); readability is part of the LLM-corpus
  * quality family (q26/q117) this engine adds — the classic readability
  * score alongside the Gopher rules.
  *
  * Scale (100 TB): one scan, three regexp counts per doc (codegen'd,
  * no UDF), one map-side-combinable aggregation to a bounded frame.
  */
object ReadabilityOps extends graft.QueryPack {

  def readability(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("words",
        greatest(expr("regexp_count(text, '\\\\S+')"), lit(1L)))
      .withColumn("sentences",
        greatest(expr("regexp_count(text, '[.!?]+')"), lit(1L)))
      .withColumn("syll",
        greatest(expr("regexp_count(lower(text), '[aeiouy]+')"), lit(1L)))
      .withColumn("flesch_milli",
        lit(206835L) - expr("(1015 * words) div sentences") -
          expr("(84600 * syll) div words"))
    scored.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(flesch_milli) div count(1)").as("mean_flesch_milli"),
        sum(when(col("flesch_milli") < 30000L, 1L).otherwise(0L))
          .as("n_hard"),
        sum(when(col("flesch_milli") >= 30000L &&
          col("flesch_milli") < 70000L, 1L).otherwise(0L))
          .as("n_standard"),
        sum(when(col("flesch_milli") >= 70000L, 1L).otherwise(0L))
          .as("n_easy"))
      .orderBy(col("lang"), col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q249_readability" -> readability)

  val oracle: Map[String, String] = Map(
    "q249_readability" ->
      """WITH scored AS (
        |  SELECT lang, source,
        |    206835 - (1015 * words) // sentences
        |      - (84600 * syll) // words AS flesch_milli
        |  FROM (
        |    SELECT lang, source,
        |      GREATEST(len(regexp_extract_all(text, '\S+')), 1)
        |        AS words,
        |      GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |        AS sentences,
        |      GREATEST(len(regexp_extract_all(lower(text),
        |        '[aeiouy]+')), 1) AS syll
        |    FROM documents))
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(flesch_milli) // COUNT(*) AS BIGINT)
        |    AS mean_flesch_milli,
        |  CAST(SUM(CASE WHEN flesch_milli < 30000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hard,
        |  CAST(SUM(CASE WHEN flesch_milli >= 30000
        |    AND flesch_milli < 70000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_standard,
        |  CAST(SUM(CASE WHEN flesch_milli >= 70000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_easy
        |FROM scored GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin)
}
