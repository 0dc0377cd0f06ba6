package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection + redaction — the compliance pass every training-data
  * pipeline runs before a corpus ships (mask identifiers and names,
  * keep per-category match counts for the audit trail). The patterns
  * are applied with the built-in codegen'd regexp family — no UDF —
  * so the whole pass is a broadcast dim join plus a projection: one
  * corpus scan, zero corpus-scale shuffles, linear at 100 TB.
  *
  *  - q147: events enriched with the customer name (the crawler's-eye
  *    "document" with embedded PII), then (a) count matches per
  *    category on the raw blob, (b) redact names first and remaining
  *    numeric tokens second (order matters: the name contains digits),
  *    emitting the redacted text's md5. Amounts travel as integer
  *    cents (the repo rule: never format a double into a string —
  *    JVM and DuckDB render doubles differently).
  *    The regexes stay inside the RE2 ∩ java.util.regex common
  *    dialect (char classes + repetition only — no lookaround, no \b)
  *    so both engines compile the identical automaton.
  *
  * vs q50_pii_mask (DataPrep.piiMask): q50 is the single-pattern
  * scrub primitive; q147 is the full compliance pass — multi-category
  * patterns, per-category audit counts on the raw text, ordered
  * redaction (names before bare numbers, since the name contains
  * digits), and the dim-enriched blob a real leak audit scans.
  *
  * Ref: the reference ships user_id/mid unmasked through every layer
  * (e.g. gmall-realtime DwdTrafficUniqueVisitorDetail keyed on mid);
  * pattern-scrubbing before publication is the standard published
  * counterpart (presidio-style), expressed relationally.
  */
object ComplianceOps extends graft.QueryPack {

  private val NamePat = "Customer#[0-9]+"
  private val NumPat  = "[0-9]+"

  /** q147: (event_id, n_name, n_num, red_md5). */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val blob = Tables.events(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"),
        concat(lit("user "), col("user_id"), lit(" ("), col("c_name"),
          lit(") spent "), expr("CAST(round(value * 100) AS BIGINT)"),
          lit(" cents on "), col("event_type"),
          lit(" props "), col("props")).as("blob"))
    blob.select(col("event_id"),
      size(expr(s"regexp_extract_all(blob, '$NamePat', 0)"))
        .cast("long").as("n_name"),
      size(expr(s"regexp_extract_all(blob, '$NumPat', 0)"))
        .cast("long").as("n_num"),
      md5(regexp_replace(
        regexp_replace(col("blob"), NamePat, "[NAME]"),
        NumPat, "[N]")).as("red_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_pii_redact" -> piiRedact)

  val oracle: Map[String, String] = Map(
    "q147_pii_redact" ->
      s"""WITH b AS (
         |  SELECT event_id,
         |    'user ' || user_id || ' (' || c_name || ') spent '
         |      || CAST(round(value * 100) AS BIGINT)
         |      || ' cents on ' || event_type || ' props ' || props AS blob
         |  FROM events JOIN customer ON user_id = c_custkey)
         |SELECT event_id,
         |  CAST(len(regexp_extract_all(blob, '$NamePat')) AS BIGINT)
         |    AS n_name,
         |  CAST(len(regexp_extract_all(blob, '$NumPat')) AS BIGINT)
         |    AS n_num,
         |  md5(regexp_replace(
         |        regexp_replace(blob, '$NamePat', '[NAME]', 'g'),
         |        '$NumPat', '[N]', 'g')) AS red_md5
         |FROM b""".stripMargin)
}
