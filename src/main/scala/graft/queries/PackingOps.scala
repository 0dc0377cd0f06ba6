package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The last pre-tokenization stages of a training-data pipeline: packing
  * curated documents into fixed-capacity training sequences, and mixing
  * sources against per-source token budgets.
  *
  *  - q127: GPT-style sequence packing — concatenate docs in a
  *    deterministic order and cut every `SeqCap` tokens; report per
  *    shard how many sequences the corpus packs into and how many docs
  *    straddle a cut. The shard is the parallel unit: packing is order-
  *    dependent WITHIN a sequence stream but streams are independent,
  *    so a 100 TB corpus packs as thousands of independent shards, each
  *    a partition-local sort — never a global one.
  *  - q128: token-budget source mixing — admit docs per source, in
  *    deterministic salted-hash order, until the source's token budget
  *    is spent (the "sample X tokens of each source" step of corpus
  *    mixing). Implemented with a two-phase prefix sum so the corpus
  *    never global-sorts: per-(source, hash-bucket) token totals (tiny,
  *    map-side combinable) locate the single bucket where the budget
  *    runs out; whole buckets before it admit wholesale, the straddle
  *    bucket alone (1/256 of the source) pays a window sort. Same
  *    result as the naive per-source window cumsum — PackingOpsSpec
  *    proves the equivalence — but the expensive path touches only
  *    budget-boundary rows at any scale.
  *
  * All emitted measures are integer arithmetic (counts, token sums,
  * div/mod sequence indices) — engine-exact at any parallelism.
  */
object PackingOps extends graft.QueryPack {

  private val SeqCap = 512L // tokens per packed training sequence
  private val MixBudget = 600L // token budget per source (binds at sf0.001+)

  private def wsTokens: Column = size(split(col("text"), " ")).cast("long")

  // ---- q127 sequence packing ----

  /** Per-shard packing stats: `n_sequences` = ceil(tokens/SeqCap) of the
    * concatenated shard stream, `boundary_docs` = docs cut by a sequence
    * boundary (they span floor(before/cap) ≠ floor((end−1)/cap)). The
    * pack order inside a shard is (md5 priority, doc_id) — reproducible
    * across runs, engines and repartitionings, like every other
    * hash-ordered device here (q49/q115/q125). 16 shards at test scale;
    * the shard count is the 100 TB knob (one shard ≈ one executor's
    * worth of sequences), and each shard's window sorts only its own
    * partition. */
  def sequencePacking(s: SparkSession, d: String): DataFrame = {
    val pri = md5(concat(col("doc_id").cast("string"), lit(":pack")))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), wsTokens.as("toks"), pri.as("pri"),
        substring(pri, 1, 1).as("shard"))
    // explicit ROWS frame: the default RANGE frame hands every peer
    // group (duplicate (pri, doc_id) rows, e.g. a replicated corpus)
    // the whole peer-group sum — ROWS gives each row its own prefix,
    // which is both the packing semantics and the oracle's stated frame
    val w = Window.partitionBy("shard").orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_end", sum(col("toks")).over(w))
      .withColumn("cum_before", col("cum_end") - col("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("shard_tokens"),
        // `div`, not `/`: Spark's / on longs is IEEE double division
        expr(s"(max(cum_end) + ${SeqCap - 1}L) div ${SeqCap}L")
          .as("n_sequences"),
        sum(when(expr(s"cum_before div ${SeqCap}L") =!=
          expr(s"(cum_end - 1L) div ${SeqCap}L"), 1L).otherwise(0L))
          .as("boundary_docs"))
  }

  // ---- q128 token-budget mix ----

  /** Admission rule shared by both formulations: a doc is admitted iff
    * the token sum of all strictly-prior docs of its source (in
    * (priority, doc_id) order) is < budget — so the doc that crosses
    * the budget line is still admitted and admission never depends on
    * a doc's own length. */
  private def mixPriority = md5(concat(col("doc_id").cast("string"), lit(":mix")))

  /** Naive single-window formulation (one window sort per source — the
    * oracle twin and the spec's equivalence reference; correct anywhere
    * but sorts the whole corpus in |sources| partitions). */
  private[queries] def tokenBudgetMixNaive(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), wsTokens.as("toks"),
        mixPriority.as("pri"))
      .withColumn("cum_before", sum(col("toks")).over(w) - col("toks"))
      .filter(col("cum_before") < MixBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("admitted_docs"),
        sum(col("toks")).as("admitted_tokens"))
  }

  /** Two-phase prefix-sum formulation. Bucket = first hex char of the
    * priority (16 buckets; bucket-major order IS priority order, so
    * per-bucket totals are contiguous prefix segments). Phase 1
    * aggregates (source, bucket) token totals — tiny and map-side
    * combinable. Phase 2 windows over that ~|sources|·16-row frame to
    * find each source's straddle bucket. Wholesale buckets admit with
    * no sort; only straddle-bucket rows (≈ 1/16 of each source here,
    * 1/256+ with a wider bucket key at scale) window-sort, with the
    * bucket's prefix offset added back. */
  def tokenBudgetMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), wsTokens.as("toks"),
        mixPriority.as("pri"), substring(mixPriority, 1, 1).as("bucket"))
      .stable() // feeds the totals agg + both admission branches
    val wb = Window.partitionBy("source").orderBy("bucket")
    val totals = docs.groupBy("source", "bucket")
      .agg(sum(col("toks")).as("btoks"))
      .withColumn("cum_before_b", coalesce(sum(col("btoks"))
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wholesale = docs
      .join(totals.filter(col("cum_before_b") + col("btoks") <= MixBudget)
        .select("source", "bucket"), Seq("source", "bucket"), "left_semi")
    val straddle = totals
      .filter(col("cum_before_b") < MixBudget &&
        col("cum_before_b") + col("btoks") > MixBudget)
      .select(col("source"), col("bucket"), col("cum_before_b"))
    val wd = Window.partitionBy("source", "bucket")
      .orderBy(col("pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fromStraddle = docs
      .join(broadcast(straddle), Seq("source", "bucket"))
      .withColumn("cum_before",
        col("cum_before_b") + sum(col("toks")).over(wd) - col("toks"))
      .filter(col("cum_before") < MixBudget)
      .select(docs.columns.map(col): _*)
    wholesale.unionByName(fromStraddle)
      .groupBy("source")
      .agg(count(lit(1)).as("admitted_docs"),
        sum(col("toks")).as("admitted_tokens"))
  }

  // ---- q215 water-filling source caps ----

  private val FillBudgetPermille = 500L  // target = half the corpus tokens

  /** q215: water-filling source caps — the balanced-mixture primitive:
    * find the uniform per-source cap c with Σ min(tok_i, c) = B (here
    * B = ½ the corpus tokens), exactly, in integers. Sources sorted by
    * token count ascending on the STRATA frame; the unique boundary j
    * (last uncapped source) satisfies tok_j ≤ c_j < tok_{j+1} with
    * c_j = (B − cum_j) div (S − j); the division remainder goes +1 to
    * the first r capped sources in source order (they can absorb it:
    * capped ⇒ tok > c ⇒ tok ≥ c+1), so quotas sum to B BY
    * CONSTRUCTION — the same exactness theorem as q210's Hamilton
    * apportionment, for the capped (not proportional) allocation.
    *
    * Scale: one map-side per-source token aggregate over the corpus;
    * every window after runs on the |sources| strata frame. */
  def waterFill(s: SparkSession, d: String): DataFrame = {
    val strata = Tables.documents(s, d)
      .groupBy(col("source")).agg(sum(wsTokens).as("tok"))
    val tot = strata.agg(sum(col("tok")).as("total"),
      count(lit(1)).as("n_src"))
    val ordered = strata.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"total * $FillBudgetPermille div 1000"))
      .withColumn("j", row_number().over(
        Window.orderBy(col("tok"), col("source"))))
      .withColumn("cum", sum(col("tok")).over(
        Window.orderBy(col("tok"), col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_tok", lag(col("tok"), 1).over(
        Window.orderBy(col("tok"), col("source"))))
    // the boundary: row j is the FIRST CAPPED source (k = j−1 uncapped
    // before it, cum_k = cum − tok). B < total guarantees existence;
    // the k = 0 all-capped case (balanced sources!) is j = 1.
    val cRow = ordered
      .withColumn("cj",
        expr("(budget - (cum - tok)) div (n_src - j + 1)"))
      .filter(col("tok") > col("cj") &&
        (col("j") === 1 || col("prev_tok") <= col("cj")))
      .select((col("j") - 1).as("jb"), col("cj").as("c"),
        (col("cum") - col("tok")).as("cum_j"))
    val withC = ordered.crossJoin(broadcast(cRow))
      .withColumn("r",
        expr("budget - cum_j - c * (n_src - jb)"))
      .withColumn("capped", col("j") > col("jb"))
      .withColumn("bonus_rk", row_number().over(
        Window.orderBy(col("capped").desc, col("source"))))
    withC.select(col("source"), col("tok").as("n_tokens"),
        (when(col("capped"),
          col("c") + when(col("bonus_rk") <= col("r"), 1L).otherwise(0L))
          .otherwise(col("tok"))).as("quota"),
        col("capped"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_sequence_packing" -> sequencePacking,
    "q128_token_budget_mix" -> tokenBudgetMix,
    "q215_water_fill" -> waterFill)

  val oracle: Map[String, String] = Map(
    "q215_water_fill" ->
      s"""WITH strata AS (
         |  SELECT source,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS total,
         |  COUNT(*) AS n_src FROM strata),
         |ord AS (
         |  SELECT source, tok, total, n_src,
         |    total * $FillBudgetPermille // 1000 AS budget,
         |    row_number() OVER (ORDER BY tok, source) AS j,
         |    CAST(SUM(tok) OVER (ORDER BY tok, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    lag(tok) OVER (ORDER BY tok, source) AS prev_tok
         |  FROM strata CROSS JOIN tot),
         |crow AS (
         |  SELECT j - 1 AS jb,
         |    CAST((budget - (cum - tok)) // (n_src - j + 1) AS BIGINT)
         |      AS c,
         |    cum - tok AS cum_j
         |  FROM ord
         |  WHERE tok > (budget - (cum - tok)) // (n_src - j + 1)
         |    AND (j = 1 OR
         |      prev_tok <= (budget - (cum - tok)) // (n_src - j + 1))),
         |wc AS (
         |  SELECT source, tok, j, budget, n_src, jb, c,
         |    budget - cum_j - c * (n_src - jb) AS r,
         |    j > jb AS capped,
         |    row_number() OVER (ORDER BY (j > jb) DESC, source)
         |      AS bonus_rk
         |  FROM ord CROSS JOIN crow)
         |SELECT source, tok AS n_tokens,
         |  CAST(CASE WHEN capped
         |    THEN c + CASE WHEN bonus_rk <= r THEN 1 ELSE 0 END
         |    ELSE tok END AS BIGINT) AS quota,
         |  capped
         |FROM wc ORDER BY source""".stripMargin,
    "q127_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    md5(doc_id || ':pack') AS pri,
         |    substr(md5(doc_id || ':pack'), 1, 1) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT shard, toks,
         |    SUM(toks) OVER (PARTITION BY shard ORDER BY pri, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_end
         |  FROM t)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS shard_tokens,
         |  CAST((MAX(cum_end) + ${SeqCap - 1}) // $SeqCap AS BIGINT)
         |    AS n_sequences,
         |  CAST(SUM(CASE WHEN (cum_end - toks) // $SeqCap
         |    <> (cum_end - 1) // $SeqCap THEN 1 ELSE 0 END) AS BIGINT)
         |    AS boundary_docs
         |FROM c GROUP BY shard""".stripMargin,
    "q128_token_budget_mix" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    md5(doc_id || ':mix') AS pri
         |  FROM documents),
         |c AS (
         |  SELECT source, toks,
         |    SUM(toks) OVER (PARTITION BY source ORDER BY pri, doc_id
         |      ROWS UNBOUNDED PRECEDING) - toks AS cum_before
         |  FROM t)
         |SELECT source, COUNT(*) AS admitted_docs,
         |  CAST(SUM(toks) AS BIGINT) AS admitted_tokens
         |FROM c WHERE cum_before < $MixBudget
         |GROUP BY source""".stripMargin)
}
