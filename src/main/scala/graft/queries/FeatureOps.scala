package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-engineering pack for model prep:
  *
  *  - q224: deterministic k-fold assignment — fold = salted polynomial
  *    hash of the doc id mod 5 (the q115 train/val split generalized to
  *    cross-validation), with per-fold size / token / language-balance
  *    readouts. Any engine computing the same hash places every doc in
  *    the same fold — the property that makes CV results reproducible
  *    across runs AND across systems.
  *  - q225: the hashing trick (feature hashing, Weinberger et al.
  *    2009) — bag-of-words folded into 256 feature buckets by word
  *    hash mod 256; the census reports per-bucket occurrence mass and
  *    the collision load (distinct words per bucket), the number that
  *    decides whether 256 dims suffice.
  *
  * Scale: both are one map-side aggregate over the corpus scan; the
  * fold/bucket domains (5 / 256) bound every later stage. The hash is
  * evaluated once per DISTINCT word in the oracle (the q29 rule).
  */
object FeatureOps extends graft.QueryPack {

  private val Folds = 5L
  private val Buckets = 256L

  /** q224: per-fold census for 5-fold CV. */
  def kfoldAssign(s: SparkSession, d: String): DataFrame = {
    graft.functions.GramOps.register(s)
    Tables.documents(s, d)
      .withColumn("fold",
        expr("element_at(gram_hashes(concat(CAST(doc_id AS STRING)," +
          s" ':fold'), 1), 1) % $Folds"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy(col("fold"))
  }

  /** q225: 256-bucket feature-hash census over the corpus vocabulary. */
  def featureHashing(s: SparkSession, d: String): DataFrame = {
    graft.functions.GramOps.register(s)
    val w = TextOps.words(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .select(expr(s"element_at(gram_hashes(word, 1), 1) % $Buckets")
        .as("feature"), col("word"), col("f"))
    w.groupBy(col("feature"))
      .agg(count(lit(1)).as("n_words"), sum(col("f")).as("occurrences"))
      .orderBy(col("feature"))
  }

  private val EditK = 2

  /** q226: the NATIVE banded Levenshtein ([[graft.functions.EditDist]],
    * Ukkonen cutoff-k DP — O(k·L) per pair instead of O(L²)) driven
    * through a prefix-blocked customer-name self-join and proven exact
    * against DuckDB's FULL levenshtein on every evaluated pair: the
    * saturating contract (exact when ≤ k, else k+1) makes the ≤ k
    * filter indistinguishable from the unbounded function.
    *
    * Scale: distinct names → prefix-16 equi-blocks (the q65 dedup-
    * then-compare rule: vocabulary pairs, not row pairs); the banded
    * DP is what keeps the verify step linear in name length. */
  def editDistPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.EditDistOps.register(s)
    val names = Tables.customer(s, d).select(col("c_name")).distinct()
      .select(col("c_name"), substring(col("c_name"), 1, 16).as("blk"))
    // same salted sub-blocking + CPU-parallelism pin as the ER match
    // (EntityResolutionOps.saltedSides): unpinned, AQE coalesced this
    // CPU-quadratic byte-tiny match to ONE 1.15 s task (Profile, r16)
    val (pa, pb) = EntityResolutionOps.saltedSides(s, names)
    pa.as("a").join(pb.as("b"),
        col("a.blk") === col("b.blk") && col("a.salt") === col("b.salt") &&
          col("a.c_name") < col("b.c_name"))
      .select(expr(s"edit_dist_bounded(a.c_name, b.c_name, $EditK)")
        .as("dist"))
      .filter(col("dist") <= EditK)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("dist"))
  }

  /** q231: leave-one-out target encoding — the leakage-safe categorical
    * encoding: each order's priority is encoded as the mean target of
    * the OTHER orders in its category, loo = (Σ_cat − own) div (n_cat−1)
    * — exact in integer cents, no smoothing constant to disagree on.
    * The device is one category aggregate broadcast back over the fact
    * scan: encoding 100 TB of rows costs one map-side aggregate + one
    * broadcast join, never a self-join.
    */
  def targetEncoding(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority").as("cat"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val cats = o.groupBy(col("cat"))
      .agg(sum(col("cents")).as("cat_sum"), count(lit(1)).as("cat_n"))
    o.join(broadcast(cats), "cat")
      .select(col("o_orderkey"), col("cat"), col("cents"),
        expr("(cat_sum - cents) div (cat_n - 1)").as("loo_mean_cents"))
      .orderBy(col("o_orderkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_kfold_assign" -> kfoldAssign,
    "q225_feature_hashing" -> featureHashing,
    "q226_edit_dist_banded" -> editDistPairs,
    "q231_target_encoding" -> targetEncoding)

  val oracle: Map[String, String] = Map(
    "q231_target_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority AS cat,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |cats AS (
        |  SELECT cat, CAST(SUM(cents) AS BIGINT) AS cat_sum,
        |    COUNT(*) AS cat_n
        |  FROM o GROUP BY cat)
        |SELECT o_orderkey, cat, cents,
        |  (cat_sum - cents) // (cat_n - 1) AS loo_mean_cents
        |FROM o JOIN cats USING (cat)
        |ORDER BY o_orderkey""".stripMargin,
    "q226_edit_dist_banded" ->
      s"""WITH n AS (
         |  SELECT DISTINCT c_name, substr(c_name, 1, 16) AS blk
         |  FROM customer)
         |SELECT CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
         |  COUNT(*) AS pair_count
         |FROM n a JOIN n b
         |  ON a.blk = b.blk AND a.c_name < b.c_name
         |WHERE levenshtein(a.c_name, b.c_name) <= $EditK
         |GROUP BY 1 ORDER BY dist""".stripMargin,
    "q224_kfold_assign" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, source,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    (${OracleHash.polySql(
              "(CAST(doc_id AS VARCHAR) || ':fold')")}) % $Folds AS fold
         |  FROM documents)
         |SELECT fold, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  COUNT(DISTINCT lang) AS n_langs,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM docs GROUP BY fold ORDER BY fold""".stripMargin,
    "q225_feature_hashing" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |freq AS (SELECT word, COUNT(*) AS f FROM w GROUP BY word),
         |vh AS MATERIALIZED (
         |  SELECT word, (${OracleHash.polySql("word")}) % $Buckets
         |      AS feature
         |  FROM (SELECT DISTINCT word FROM freq))
         |SELECT feature, COUNT(*) AS n_words,
         |  CAST(SUM(f) AS BIGINT) AS occurrences
         |FROM freq JOIN vh USING (word)
         |GROUP BY feature ORDER BY feature""".stripMargin)
}
