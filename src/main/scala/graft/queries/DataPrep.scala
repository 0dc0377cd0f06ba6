package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data preparation operators: document chunking, deterministic
  * sampling, and PII-style masking — the remaining pipeline stages a
  * 100 TB corpus run needs between dedup and tokenization.
  *
  * Portability: chunk boundaries are pure integer arithmetic over the
  * token array; sampling keys off md5 hex prefixes (uniform, stable,
  * engine-identical); masking uses regex class `[0-9]+` which Java regex
  * and RE2 treat identically (DuckDB needs the 'g' flag for global
  * replace — Spark replaces all matches by default).
  */
object DataPrep extends graft.QueryPack {

  private val ChunkTokens = 50

  /** Fixed-size token chunking: every document → ⌈n/50⌉ chunks of ≤50
    * tokens. One row per chunk with an integrity hash — the unit of work
    * for downstream tokenization/embedding. Scale: explode is linear,
    * no shuffle until a downstream groupBy. */
  def docChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("ws")) / lit(ChunkTokens.toDouble))
            .cast("int") - 1),
          i => concat_ws(" ",
            slice(col("ws"), i * ChunkTokens + 1, lit(ChunkTokens)))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(split(col("chunk"), " ")).cast("long").as("chunk_tokens"),
        md5(col("chunk")).as("chunk_hash"))

  /** Deterministic ~1/8 sample: md5(doc_id) first hex char ∈ {0,1}.
    * Stable across runs/engines/partitionings — the reproducible-split
    * primitive (train/val splits, A/B corpora). */
  def deterministicSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** PII-style masking: digit runs → '#'. (The corpus has no real PII;
    * the operator shape — global regex scrub inside codegen — is what a
    * real pipeline swaps patterns into: emails, phones, SSNs.) */
  def piiMask(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("masked_props"))

  /** Stratified (balanced) sampling: the N "first" docs per language by
    * a deterministic hash order — the class-balancing primitive for
    * training mixes (cap the dominant language, keep the tail). Hash
    * order, not doc_id order, so the per-language pick is unbiased;
    * row_number over (lang, md5) is engine-portable and reproducible.
    * Scale: one shuffle on lang; with heavy skew (one language = 90 % of
    * the corpus) pre-aggregate per-partition top-N first (same bounded-
    * heap reasoning as TopKBy). */
  def stratifiedSample(s: SparkSession, d: String, perLang: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= perLang)
      .select(col("lang"), col("pick").cast("long").as("pick"), col("doc_id"))
  }

  /** Text normalization: lowercase + whitespace collapse + trim — the
    * canonical pre-dedup cleanup (exact-hash dedup is only as good as
    * its normalization). Pure codegen'd string ops, no shuffle. */
  def normalizeText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm_text"))
      .select(col("doc_id"), md5(col("norm_text")).as("norm_hash"),
        length(col("norm_text")).cast("long").as("norm_len"))

  /** Binary-column feature extraction — the relational half of the
    * multimodal pattern (graft.multimodal): treat content as an opaque
    * BLOB, compute byte-level features (length, content digest, magic
    * prefix) entirely inside codegen. Here text bytes stand in for
    * image/audio payloads; the operator shape (binary column + typed
    * scalar features, no decode on the hot path) is what a real corpus
    * uses to partition, dedup and route media before any codec runs. */
  def binaryFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .select(col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        md5(col("blob")).as("content_md5"),
        hex(substring(col("blob"), 1, 4)).as("magic_hex"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_doc_chunks" -> docChunks,
    "q49_deterministic_sample" -> deterministicSample,
    "q50_pii_mask" -> piiMask,
    "q90_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "q91_normalize_text" -> normalizeText,
    "q94_binary_features" -> binaryFeatures)

  val oracle: Map[String, String] = Map(
    "q48_doc_chunks" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |seq AS (
         |  SELECT doc_id, ws,
         |    unnest(range(0, CAST(ceil(len(ws) / $ChunkTokens.0) AS BIGINT)))
         |      AS chunk_idx
         |  FROM base),
         |chunks AS (
         |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |    array_to_string(list_slice(ws,
         |      CAST(chunk_idx * $ChunkTokens + 1 AS BIGINT),
         |      CAST(chunk_idx * $ChunkTokens + $ChunkTokens AS BIGINT)), ' ')
         |      AS chunk
         |  FROM seq)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS chunk_tokens,
         |  md5(chunk) AS chunk_hash
         |FROM chunks""".stripMargin,
    "q49_deterministic_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')""".stripMargin,
    "q50_pii_mask" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked_props
        |FROM events""".stripMargin,
    "q90_stratified_sample" ->
      """SELECT lang, pick, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pick
        |  FROM documents)
        |WHERE pick <= 20""".stripMargin,
    "q94_binary_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  hex(CAST(substr(text, 1, 4) AS BLOB)) AS magic_hex
        |FROM documents""".stripMargin,
    "q91_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, md5(norm_text) AS norm_hash,
        |  CAST(length(norm_text) AS BIGINT) AS norm_len
        |FROM n""".stripMargin)
}
