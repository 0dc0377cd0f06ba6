package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental crawl dedup — the "new snapshot vs indexed corpus"
  * stage every recurring-crawl pipeline runs: classify each INCOMING
  * document against everything already ingested, without ever
  * re-deduplicating the history. The online single-doc version of the
  * same decision is [[graft.streaming.StreamingLsh]]; this is the
  * batch path for a whole crawl drop.
  *
  *  - q142: verdict per new document — `exact_dup` (content hash
  *    already indexed), else `near_dup` (some LSH band bucket of its
  *    q29 minhash signature already occupied by a prior document),
  *    else `new`. The "new crawl" is the deterministic 20% slice
  *    `doc_id % 5 = 4`; the other 80% plays the indexed corpus.
  *
  * Scale (100 TB history, TB-sized drop): the history is reduced to
  * two DISTINCT key sets — content hashes and occupied band buckets —
  * and the drop probes them with marker equi-joins (hash join on
  * 16-byte keys, AQE-broadcast when a set fits). No pair is ever
  * materialized (a popular bucket contributes ONE row to the distinct
  * set, so hub buckets cannot quadratically explode — the df-cap
  * failure mode of pair-joins doesn't exist here), and the history
  * sets are incrementally maintainable (union new keepers in, no
  * recompute). Precedence exact > near is decided per row after both
  * probes.
  *
  * Ref: the reference dedups its streams per key with ValueState
  * (DwdTrafficUniqueVisitorDetail.java:60-109); this is that decision
  * applied crawl-batch-at-a-time against a persistent index.
  */
object IncrementalOps extends graft.QueryPack {

  private val NewMod = 5 // doc_id % NewMod == NewMod-1 ⇒ incoming crawl

  private def isNew = col("doc_id") % NewMod === NewMod - 1

  /** q142: (doc_id, verdict) for every incoming document. */
  def crawlDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("m"))
    val priorMd5 = hashed.filter(!isNew).select("m").distinct()
      .withColumn("ex", lit(1L))
    val sigs = TextOps.minhashSignatures(s, d)
    val bands = sigs
      .select(col("mh1").as("h1"), col("mh2").as("h2"), col("doc_id"))
      .unionByName(sigs
        .select(col("mh3").as("h1"), col("mh4").as("h2"), col("doc_id")))
    val priorBuckets = bands.filter(!isNew).select("h1", "h2").distinct()
      .withColumn("nr", lit(1L))
    val near = bands.filter(isNew)
      .join(priorBuckets, Seq("h1", "h2"), "left")
      .groupBy("doc_id")
      .agg(max(coalesce(col("nr"), lit(0L))).as("nr"))
    hashed.filter(isNew)
      .join(priorMd5, Seq("m"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex") === 1L, "exact_dup")
          .when(col("nr") === 1L, "near_dup")
          .otherwise("new").as("verdict"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_crawl_dedup" -> crawlDedup)

  val oracle: Map[String, String] = Map(
    // salted hashes evaluate once per DISTINCT word (the q29 oracle's
    // vocab CTE), then the band/bucket probes mirror the Spark joins
    "q142_crawl_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |vh AS MATERIALIZED (
         |  SELECT word,
         |    ${OracleHash.polySql("'s1: ' || word")} AS h1,
         |    ${OracleHash.polySql("'s2: ' || word")} AS h2,
         |    ${OracleHash.polySql("'s3: ' || word")} AS h3,
         |    ${OracleHash.polySql("'s4: ' || word")} AS h4
         |  FROM (SELECT DISTINCT word FROM w)),
         |sigs AS (
         |  SELECT doc_id,
         |    MIN(h1) AS mh1, MIN(h2) AS mh2, MIN(h3) AS mh3, MIN(h4) AS mh4
         |  FROM w JOIN vh USING (word) GROUP BY doc_id),
         |bands AS (
         |  SELECT mh1 AS h1, mh2 AS h2, doc_id FROM sigs
         |  UNION ALL
         |  SELECT mh3 AS h1, mh4 AS h2, doc_id FROM sigs),
         |pb AS (SELECT DISTINCT h1, h2 FROM bands
         |       WHERE doc_id % $NewMod <> ${NewMod - 1}),
         |pm AS (SELECT DISTINCT md5(text) AS m FROM documents
         |       WHERE doc_id % $NewMod <> ${NewMod - 1}),
         |ex AS (SELECT doc_id FROM (
         |    SELECT doc_id, md5(text) AS m FROM documents
         |    WHERE doc_id % $NewMod = ${NewMod - 1}) JOIN pm USING (m)),
         |nr AS (SELECT DISTINCT b.doc_id FROM bands b JOIN pb USING (h1, h2)
         |       WHERE b.doc_id % $NewMod = ${NewMod - 1})
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS verdict
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN nr ON nr.doc_id = d.doc_id
         |WHERE d.doc_id % $NewMod = ${NewMod - 1}""".stripMargin)
}
