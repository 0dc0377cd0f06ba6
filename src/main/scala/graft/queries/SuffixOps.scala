package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed suffix arrays — the EXACT substring-dedup scale path.
  *
  * q133 removes repeated spans at fixed n-gram granularity (the
  * approximation in Lee et al. 2022, "Deduplicating Training Data Makes
  * Language Models Better"); the exact method in that paper is a suffix
  * array over the corpus. This pack builds one distributively:
  *
  *  - [[suffixRanks]] (q136): the lexicographic rank of every suffix of
  *    every (capped) document, by radix-k prefix doubling (k = Radix):
  *    an initial dense rank of the 8-char block at every position,
  *    then ⌈log_k(maxlen/8)⌉ rounds, each ONE distributed sort of
  *    (rank, rank@+L, …, rank@+(k−1)L) tuples, the offset ranks pulled
  *    by ONE lead() window pass per round (positions are contiguous
  *    per doc, so rank@+jL is exactly the lead(j·L) row). No suffix
  *    string is ever materialized: the corpus stays (doc, pos, 8-byte
  *    rank) rows through every round. The oracle materializes the
  *    suffix STRINGS
  *    and window-sorts them (`dense_rank OVER (ORDER BY substr(text,
  *    pos+1))`) — same answer, opposite algorithm, which is what makes
  *    the check meaningful.
  *  - [[longestRepeat]] (q137): per document, the length of the longest
  *    substring that occurs ≥ 2 times in the (capped) corpus with an
  *    occurrence in this document — max LCP between rank-adjacent
  *    suffixes. LCP = one direct `lcp_len` code-point walk per
  *    adjacent pair against the doc-capped BROADCAST texts (the same
  *    frame the old residual comparison read; the walk stops at the
  *    shorter suffix, which is exactly the min(len) clamp equal
  *    truncated ranks used to need).
  *
  * Ranks are dense (0-based contiguous): each round assigns new ranks
  * by globally sorting the DISTINCT rank tuples and zipping indices in
  * sorted-partition order — order-preserving, distributed, never a
  * single-partition window. Equal tuples keep equal ranks, so identical
  * cross-doc suffixes tie exactly like the oracle's dense_rank. The
  * 8-char block rank is order-isomorphic to truncated-substring
  * comparison (substring shortens at doc end; shorter-prefix-first in
  * both engines), which is exactly the level-8 invariant.
  *
  * The doc cap (default 100) bounds the oracle's string
  * materialization, same posture as q31/q105's `doc_id < 100` — the
  * Spark side is capped identically so both engines see one corpus.
  */
object SuffixOps extends graft.QueryPack {

  private val DocCap = 100
  private val RebuildCap = 250 // q145: the full-text rebuild runs wider
  private val MinRep = 20L // span length a dedup pass would act on
  private val Block = 8L // initial rank granularity (chars)
  // Prefix-length multiplier per round. The k-ary trade from the
  // distributed suffix-sorting literature: each round sorts (r, r@+L,
  // …, r@+(k−1)L) tuples, so prefix length grows ×k per round and the
  // round count is ⌈log_k(maxlen/Block)⌉. r15 fixed k=8 (3 rounds at
  // the bench corpora, maxlen 577); r16 derives k from the MEASURED
  // maxlen so the doubling closes in ONE round whenever
  // ⌈maxlen/Block⌉ ≤ RadixCap: each round is a fixed pipeline of
  // shuffles (offset window + re-rank) whose per-stage latency, not
  // bandwidth, dominates (Profile: every stage single-task at sf0.1),
  // so round count is the suite's dominant term (guide §2.2 "fewer,
  // larger" applied to rounds; §1.2 algorithm before per-task work).
  // The price is tuple width (k longs per row through the round's
  // window and sort); RadixCap bounds it — a corpus whose longest doc
  // exceeds Block·RadixCap (≫ the capped bench corpora) degrades
  // gracefully to ⌈log_RadixCap⌉ rounds instead of overflowing row
  // width. Results are radix-invariant: rounds always run until the
  // prefix covers maxlen, and dense re-ranking ties exactly the same
  // suffixes (gate-verified at several radices).
  private val RadixCap = 96L

  private def radixFor(maxLen: Long): Long =
    math.max(2L, math.min((maxLen + Block - 1) / Block, RadixCap))

  private def docsCapped(s: SparkSession, d: String, cap: Int): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < cap && length(col("text")) > 0)

  /** Append a contiguous 0-based index in the DataFrame's CURRENT order
    * (call on a just-sorted frame): a range-shuffled sort leaves
    * partitions globally ordered, so global index = rows in earlier
    * partitions + local row number.
    *
    * Stays entirely in Tungsten/codegen (r15): the old `rdd.zipWithIndex`
    * device deserialized every row to external Rows and re-encoded them
    * through a non-codegen RDD scan — a fixed per-call tax paid ~7 times
    * per suffix query. Here the local row number is recovered from
    * `monotonically_increasing_id` (= partitionId·2³³ + local row) and
    * the per-partition offsets come from one bounded count pass — one
    * row per PARTITION (shuffle-width-bounded, never data-sized), the
    * same driver-side scan zipWithIndex itself ran internally. */
  private def zipOrdered(df: DataFrame, idxCol: String): DataFrame = {
    // snapshot the sorted partitions first: the counts pass runs an
    // extra job over the parent, and downstream consumers materialize
    // the frame again — without the checkpoint each re-runs the sort
    val snapped = df.stable()
    val counts = snapped.groupBy(spark_partition_id().as("_pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offRows = new java.util.ArrayList[Row](counts.length)
    counts.foreach { case (pid, c) => offRows.add(Row(pid, acc)); acc += c }
    val offs = snapped.sparkSession.createDataFrame(offRows, StructType(Seq(
      StructField("_pid", IntegerType, nullable = false),
      StructField("_off", LongType, nullable = false))))
    val cols = snapped.columns.map(col)
    snapped
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrow", monotonically_increasing_id() -
        (spark_partition_id().cast("long") * lit(1L << 33)))
      .join(broadcast(offs), Seq("_pid"))
      .select(cols :+ (col("_off") + col("_lrow")).as(idxCol): _*)
  }

  /** Initial state shared by both doubling paths: the level-Block
    * (doc_id, pos, r) ranks (NOT checkpointed — single-plan consumers
    * re-read the checkpointed `blocks` through one cheap hash join)
    * and the corpus maxLen. */
  private def blockRanks(
      s: SparkSession, d: String, cap: Int): (DataFrame, Long) = {
    val docs = docsCapped(s, d, cap)
    // maxLen measured inside the block checkpoint job (observe, r16) —
    // the separate agg(max).head() action was one extra job per query
    val (blocks, mxRow) = Mat.stableObserved(docs
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, length(text) - 1)")).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        expr(s"substring(text, p + 1, ${Block.toInt})").as("blk")),
      Seq(max(col("pos")).as("mx"))) // read 3×: alphabet, rank join ×2
    val alphabet = zipOrdered(
      blocks.select("blk").distinct().orderBy("blk"), "r")
    val ranks = blocks.join(alphabet, Seq("blk"))
      .select(col("doc_id"), col("pos"), col("r"))
    val maxLen = mxRow.getOrElse(blocks.agg(max(col("pos"))).head()) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0) + 1L
    }
    (ranks, maxLen)
  }

  /** One doubling round's sort tuple: (doc_id, pos, r, rt) where rt =
    * [r@+L, …, r@+(radix−1)L] — lexicographic order of (r, rt) is the
    * order of the length-L·radix truncated suffixes (−1 fills past the
    * doc end: −1 < every dense rank, so shorter sorts first, matching
    * substring comparison in both engines — and array comparison is
    * element-wise exactly like the former one-column-per-offset
    * tuple). r@+kL is the rank of the SAME doc's row at pos+kL, and
    * every position 0..len(doc)−1 is present, so the whole offset
    * vector is O(1) `get()` reads against the doc's pos-ordered rank
    * ARRAY (one groupBy(doc) pass). r15 computed the offsets as
    * radix−1 `lead(k·L)` expressions over one window; at r16's
    * measured radix (72 at the bench corpora) WindowExec gives each
    * offset its own frame that independently re-walks the partition
    * buffer — a measured 1.8 s single task at sf0.1 — while the array
    * form is one generate + project inside a single codegen stage
    * (guide §1.2 per-task work, §4 codegen-friendly expressions). */
  private def roundTuple(ranks: DataFrame, len: Long, radix: Long)
      : (DataFrame, Seq[String]) = {
    val docArr = ranks.groupBy(col("doc_id")).agg(
      transform(array_sort(collect_list(struct(col("pos"), col("r")))),
        x => x("r")).as("_ra"))
    val pairs = docArr
      .select(col("doc_id"), col("_ra"),
        posexplode(col("_ra")).as(Seq("pos", "r")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("r"),
        transform(sequence(lit(1), lit((radix - 1).toInt)),
          k => coalesce(
            get(col("_ra"), (col("pos") + k * lit(len.toInt)).cast("int")),
            lit(-1L))).as("rt"))
    (pairs, Seq("r", "rt"))
  }

  /** Dense re-rank of a round tuple. Equal tuples keep equal ranks, so
    * identical cross-doc truncated suffixes tie exactly like the
    * oracle's dense_rank.
    *
    * Two-level in-place scheme (r16): the previous rank `r` is itself
    * dense and order-dominant in the tuple (r, r1..r(Radix−1)), so
    *
    *   dense(tuple) = (# distinct tuples in groups with smaller r)
    *                + dense_rank(r1.., within this row's r-group) − 1
    *
    * — ONE window pass partitioned by `r` assigns the within-group
    * dense rank AND (max over the group) the group's distinct count;
    * the cross-group offsets are a prefix sum over the per-group counts
    * frame, bucketed by `r div 4096` (r is dense, so buckets are
    * balanced — q128's two-phase device, never a data-sized
    * single-partition window). This replaces the former
    * distinct → global sort → zipOrdered → join-back, which paid TWO
    * extra data-sized exchanges (the distinct agg and the join-back of
    * the full frame by the 8-long tuple) plus two driver jobs per round
    * (zipOrdered's checkpoint + per-partition count pass) for the same
    * dense values (guide §2.4/§1.2). The window's equal-prefix group
    * lands in one partition, but the old join-back hash-partitioned the
    * identical equal-tuple class into one partition too — no posture
    * change; groups shrink ×Radix per round. */
  private def densify(pairs: DataFrame, keys: Seq[String]): DataFrame = {
    val subKeys = keys.tail
    val wGrp = Window.partitionBy(col("r")).orderBy(subKeys.map(col): _*)
    val ranked = pairs.withColumn("_sub",
      dense_rank().over(wGrp).cast("long"))
    // one row per distinct PREVIOUS rank; reuses the window's hash(r)
    // exchange (ReusedExchange within the round's one action)
    val g = ranked.groupBy(col("r")).agg(max(col("_sub")).as("_gcnt"))
      .withColumn("_bkt", expr("r div 4096"))
    val wIn = Window.partitionBy("_bkt").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB = Window.orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bpre = g.groupBy("_bkt").agg(sum(col("_gcnt")).as("_btot"))
      .withColumn("_bpre", coalesce(sum(col("_btot")).over(wB), lit(0L)))
    val offs = g
      .withColumn("_ein", coalesce(sum(col("_gcnt")).over(wIn), lit(0L)))
      .join(broadcast(bpre.select("_bkt", "_bpre")), Seq("_bkt"))
      .select(col("r"), (col("_bpre") + col("_ein")).as("_off"))
    ranked.join(offs, Seq("r"))
      .select(col("doc_id"), col("pos"),
        (col("_off") + col("_sub") - 1L).as("r"))
  }

  /** All levels: (L, dense rank of the length-L truncated prefix of
    * every suffix), L = Block, Block·Radix, … ≥ maxlen. The last
    * level's ranks are the full suffix ranks. INTERMEDIATE levels are
    * localCheckpointed — the loop is iterative and the lineage must
    * not compound (kmeansTrain rule); the FINAL level is left lazy
    * (every caller consumes it exactly once, so an eager
    * materialization there was a whole wasted pass, r15). */
  private[queries] def suffixLevels(
      s: SparkSession, d: String, cap: Int = DocCap): Seq[(Long, DataFrame)] = {
    var (ranks, maxLen) = blockRanks(s, d, cap)
    val radix = radixFor(maxLen)
    val levels = Seq.newBuilder[(Long, DataFrame)]
    var len = Block
    if (len < maxLen) ranks = ranks.stable() // loop input: 2 consumers/round
    levels += ((Block, ranks))
    while (len < maxLen) {
      val (pairs, keys) = roundTuple(ranks, len, radix)
      len *= radix
      val next = densify(pairs, keys)
      ranks = if (len < maxLen) next.stable() else next
      levels += ((len, ranks))
    }
    levels.result()
  }

  /** The suffix ORDER without the final dense re-rank: the last
    * round's tuple is already order-isomorphic to the full suffix
    * comparison (equal tuples ⇔ equal suffixes, −1 padding sorts
    * shorter-suffix-first like both engines), so the span family —
    * which only consumes the ORDER — sorts by the tuple directly and
    * skips the last distinct/sort/zip/join-back entirely (r15).
    * Returns (doc_id, pos, i): i = 0-based suffix order index. */
  private def orderedSuffixes(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    var (ranks, maxLen) = blockRanks(s, d, cap)
    val radix = radixFor(maxLen)
    var len = Block
    if (len >= maxLen) // single-block corpus: the block rank IS the order
      return zipOrdered(
        ranks.orderBy(col("r"), col("doc_id"), col("pos")), "i")
        .select(col("doc_id"), col("pos"), col("i"))
    ranks = ranks.stable()
    while (len * radix < maxLen) {
      val (pairs, keys) = roundTuple(ranks, len, radix)
      len *= radix
      ranks = densify(pairs, keys).stable()
    }
    val (pairs, keys) = roundTuple(ranks, len, radix)
    // project the sort tuple away BEFORE zipOrdered: the checkpoint
    // inside it would otherwise materialize all `radix` key columns per
    // row (a 73-long row at the bench corpora) when only (doc_id, pos)
    // survive — a Project over a Sort preserves the order zipOrdered
    // reads (r16; guide §2.3 "project before the exchange", applied to
    // the checkpoint write)
    zipOrdered(
      pairs.orderBy(keys.map(col) ++ Seq(col("doc_id"), col("pos")): _*)
        .select(col("doc_id"), col("pos")),
      "i")
  }

  /** q136: (doc_id, pos, srank) — 1-based dense lexicographic rank of
    * the suffix starting at pos, identical suffixes sharing a rank. */
  def suffixRanks(s: SparkSession, d: String): DataFrame =
    suffixRanksAt(s, d, DocCap)

  /** Probe entry: same query at a chosen doc cap (the scale knob — the
    * corpus under the suffix sort grows linearly with it). */
  private[graft] def suffixRanksAt(
      s: SparkSession, d: String, cap: Int): DataFrame =
    suffixLevels(s, d, cap).last._2
      .select(col("doc_id"), col("pos"), (col("r") + 1L).as("srank"))

  /** q137: per capped doc, the longest repeated span touching it and
    * how many of its positions start a repeat ≥ MinRep chars (the rows
    * a span-dedup pass like q133 would rewrite). */
  def longestRepeat(s: SparkSession, d: String): DataFrame =
    longestRepeatAt(s, d, DocCap)

  /** Shared core of q137/q139: the suffix order (doc_id, pos, i) and
    * the LCP `l` between rank-adjacent rows i and i+1.
    *
    * The LCP is computed DIRECTLY (r15): one `lcp_len` code-point walk
    * per adjacent pair over the same doc-capped broadcast texts the old
    * ≤7-char residual comparison already read. The former greedy
    * rank-lifting (2 shuffle joins per base-4 digit ≈ 26 joins at the
    * bench caps) priced each pair at O(log maxlen) JOIN PASSES to save
    * per-pair compute; at any cap where the texts broadcast — the
    * standing posture of this pack — the O(lcp) walk is strictly
    * cheaper and is the formulation of the published method (Lee et
    * al. 2022). Equal-suffix clamping is inherent: the walk stops at
    * the shorter suffix's end, which is exactly min(len) — the case
    * the lifting handled with an explicit `least`. */
  private def orderedLcps(
      s: SparkSession, d: String, cap: Int): (DataFrame, DataFrame) = {
    graft.functions.LcpOps.register(s)
    val ordered = orderedSuffixes(s, d, cap).stable()
    // rank-adjacent pairs, keyed by the FIRST row's index
    val pairs = ordered.join(
      ordered.select(col("doc_id").as("bdoc"), col("pos").as("bpos"),
        (col("i") - 1L).as("i")),
      Seq("i"))
      .select(col("i"), col("doc_id").as("adoc"), col("pos").as("apos"),
        col("bdoc"), col("bpos"))
    val texts = docsCapped(s, d, cap).select(col("doc_id"), col("text"))
    val lcps = pairs
      .join(broadcast(texts.select(col("doc_id").as("adoc"),
        col("text").as("atext"))), Seq("adoc"))
      .join(broadcast(texts.select(col("doc_id").as("bdoc"),
        col("text").as("btext"))), Seq("bdoc"))
      .select(col("i"), graft.functions.LcpOps.lcp_len(
        col("atext"), col("apos"), col("btext"), col("bpos")).as("l"))
    // lcps is consumed twice by every caller (lnext + shifted lprev)
    // but is deliberately NOT checkpointed: the duplicate subtrees
    // schedule concurrently inside one job, while an eager checkpoint
    // serializes two jobs — measured 4.2 → 5.9 s at sf0.1 on the
    // lifting form (the q132 localCheckpoint lesson; see PLANS.md),
    // and the subtree is now just the adjacency join + broadcasts.
    (ordered, lcps)
  }

  private[graft] def longestRepeatAt(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    val (ordered, lcps) = orderedLcps(s, d, cap)
    // each row's repeat = max(LCP with rank-predecessor, with successor)
    ordered
      .join(lcps.select(col("i"), col("l").as("lnext")), Seq("i"), "left")
      .join(lcps.select((col("i") + 1L).as("i"), col("l").as("lprev")),
        Seq("i"), "left")
      .withColumn("v", greatest(coalesce(col("lnext"), lit(0L)),
        coalesce(col("lprev"), lit(0L))))
      .groupBy("doc_id")
      .agg(max(col("v")).as("longest_repeat"),
        sum(when(col("v") >= MinRep, 1L).otherwise(0L)).as("n_pos_rep"))
  }

  /** q139: exact keep-first span-dedup REMOVAL — q133's rebuild driven
    * by the suffix array instead of fixed 8-grams (the exact method of
    * Lee et al. 2022). Semantics: group suffixes into maximal
    * rank-adjacent RUNS whose adjacent LCP is ≥ MinRep (within a run,
    * every pair shares a ≥ MinRep-char prefix, because pairwise LCP is
    * the min of the adjacent LCPs between them); in each run the
    * smallest (doc_id, pos) is the kept first occurrence, every other
    * member marks its next MinRep chars for removal; documents are
    * rebuilt from unmarked characters. A ≥ MinRep-long exact duplicate
    * of an earlier doc erases itself entirely.
    *
    * The run id is a two-phase prefix sum over the break flags (q128's
    * device): per-4096-bucket break totals (tiny) window once, and each
    * row adds its bucket-local ROWS-frame cumsum — never a full-corpus
    * single-partition window. */
  def spanDedupExact(s: SparkSession, d: String): DataFrame =
    spanDedupExactAt(s, d, DocCap)

  private[graft] def spanDedupExactAt(
      s: SparkSession, d: String, cap: Int): DataFrame =
    docsCapped(s, d, cap).join(coveredChars(s, d, cap), Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce(col("cov"), expr("CAST(array() AS array<bigint>)")))
      // array_except: hash-set pass, order-preserving (the q133 rule)
      .withColumn("keep", expr(
        "array_except(sequence(1L, CAST(length(text) AS BIGINT)), cov)"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("cov")).cast("long").as("removed_chars"),
        md5(expr(
          "concat_ws('', transform(keep, j -> substring(text, CAST(j AS INT), 1)))"))
          .as("clean_hash"))

  /** q145: the same exact removal emitting q133's OUTPUT CONTRACT — the
    * full rebuilt text per doc, with lang/source carried through — at a
    * 2.5× higher doc cap (250). This is the query that retires q133's
    * fixed-8-gram approximation where exactness matters: identical
    * semantics to q139 (keep-first at suffix-array granularity,
    * MinRep-char spans), but the cleaned corpus itself is the output,
    * hash-matched against DuckDB's opposite-algorithm rebuild. The cap
    * bounds only the ORACLE's suffix-string materialization (~75k chars
    * at 250 — measured trivial); the Spark side never builds a suffix
    * string and ScaleProbe'd sub-linear to cap 1000. */
  def spanDedupRebuild(s: SparkSession, d: String): DataFrame =
    spanDedupRebuildAt(s, d, RebuildCap)

  private[graft] def spanDedupRebuildAt(
      s: SparkSession, d: String, cap: Int): DataFrame =
    docsCapped(s, d, cap) // documents retain lang/source through the cap
      .join(coveredChars(s, d, cap), Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce(col("cov"), expr("CAST(array() AS array<bigint>)")))
      .withColumn("keep", expr(
        "array_except(sequence(1L, CAST(length(text) AS BIGINT)), cov)"))
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("cov")).cast("long").as("removed_chars"),
        expr(
          "concat_ws('', transform(keep, j -> substring(text, CAST(j AS INT), 1)))")
          .as("clean_text"))

  /** Shared run construction of q139/q145/q152: suffixes grouped into
    * maximal rank-adjacent RUNS whose adjacent LCP is ≥ MinRep (within
    * a run every pair shares a ≥ MinRep-char prefix, because pairwise
    * LCP is the min of the adjacent LCPs between them). Run ids via
    * the two-phase prefix sum over break flags (q128's device — never
    * a full-corpus single-partition window). Returns (run, doc_id,
    * pos); size-1 "runs" (no ≥ MinRep neighbor) are included and
    * filtered by consumers where relevant. */
  private def repeatRuns(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (ordered, lcps) = orderedLcps(s, d, cap)
    // break before row i ⇔ it does not extend the previous row's run
    val rows = ordered
      .join(lcps.select((col("i") + 1L).as("i"), col("l").as("lprev")),
        Seq("i"), "left")
      .withColumn("brk",
        when(coalesce(col("lprev"), lit(-1L)) < MinRep, 1L).otherwise(0L))
      .withColumn("bkt", expr("i div 4096"))
    val wIn = Window.partitionBy("bkt").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = rows.withColumn("run_in", sum(col("brk")).over(wIn))
      .stable() // feeds the bucket totals AND the run join
    val wB = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bpre = local.groupBy("bkt").agg(sum(col("brk")).as("btot"))
      .withColumn("bpre", coalesce(sum(col("btot")).over(wB), lit(0L)))
    local.join(broadcast(bpre.select("bkt", "bpre")), Seq("bkt"))
      .withColumn("run", col("bpre") + col("run_in"))
      .select(col("run"), col("doc_id"), col("pos"))
  }

  /** Shared core of q139/q145: per doc, the set of 1-based char
    * positions covered by a non-first member of a ≥ MinRep repeat run. */
  private def coveredChars(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    val runs = repeatRuns(s, d, cap)
    val runMin = runs.groupBy("run")
      .agg(min(struct(col("doc_id"), col("pos"))).as("rm"))
    runs.join(runMin, Seq("run"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("rm"))
      .select(col("doc_id"),
        explode(sequence(col("pos") + 1L, col("pos") + lit(MinRep))).as("p"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("cov"))
  }

  /** q152: suffix-EXACT benchmark contamination — the exact-span
    * upgrade of q116's n-gram decontamination (the published method:
    * Lee et al. 2022 §4 applies the same suffix machinery across a
    * train/eval boundary). Benchmark set = docs with doc_id % 10 = 0
    * (a deterministic stand-in for an eval suite); a corpus position
    * is contaminated iff it starts a ≥ MinRep-char span that also
    * appears verbatim in some benchmark doc.
    *
    * Correctness argument (why RUNS and not adjacent pairs): if
    * LCP(corpus suffix a, bench suffix b) ≥ MinRep then every
    * rank-adjacent LCP between them is ≥ MinRep, so a and b are in
    * the SAME run — membership of a bench suffix in the run is
    * exactly "shares a ≥ MinRep span with the benchmark". Filtering
    * adjacent cross-set pairs instead would MISS docs whose
    * rank-neighbors are same-set (pinned in SuffixOpsSpec).
    *
    * Output per contaminated corpus doc: (doc_id, n_contam_pos,
    * n_runs). */
  def contaminationSpan(s: SparkSession, d: String): DataFrame =
    contaminationSpanAt(s, d, DocCap)

  private[graft] def contaminationSpanAt(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    val runs = repeatRuns(s, d, cap)
    val flagged = runs.groupBy("run")
      .agg(max(when(col("doc_id") % 10 === 0, 1L).otherwise(0L))
        .as("has_bench"))
    runs.join(flagged.filter(col("has_bench") === 1L), Seq("run"))
      .filter(col("doc_id") % 10 =!= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contam_pos"),
        countDistinct(col("run")).as("n_runs"))
  }

  /** q280: contamination-method AGREEMENT audit — the word-8-gram
    * verdict (q116's method, re-stated under q152's benchmark
    * definition and doc cap so both methods see the same universe)
    * versus the suffix-exact ≥ MinRep-char span verdict (q152),
    * cross-tabulated over every non-benchmark doc in the capped
    * corpus: (gram_flag, span_flag) → doc count + the smallest
    * example doc. The off-diagonal cells are the finding: span-only
    * docs are what the n-gram approximation MISSES (spans not aligned
    * to word boundaries / shorter than 8 words but ≥ 20 chars);
    * gram-only docs are 8-word overlaps shorter than 20 chars. Both
    * inputs are independently oracle-verified; the compare re-runs
    * both constructions in both engines. */
  def contaminationCompare(s: SparkSession, d: String): DataFrame =
    contaminationCompareAt(s, d, DocCap)

  private[graft] def contaminationCompareAt(
      s: SparkSession, d: String, cap: Int): DataFrame = {
    graft.functions.GramOps.register(s)
    val docs = Tables.documents(s, d).filter(col("doc_id") < cap)
    val g = docs.select(col("doc_id"),
      explode(graft.functions.GramOps.gram_hashes(col("text"), 8))
        .as("gram"))
    val benchG = g.filter(col("doc_id") % 10 === 0)
      .select("gram").distinct()
    val gramDocs = g.filter(col("doc_id") % 10 =!= 0)
      .join(benchG, Seq("gram"), "left_semi")
      .select("doc_id").distinct().withColumn("gf", lit(1L))
    val spanDocs = contaminationSpanAt(s, d, cap)
      .select(col("doc_id")).withColumn("sf", lit(1L))
    docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
      .join(gramDocs, Seq("doc_id"), "left")
      .join(spanDocs, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("gf"), lit(0L)).as("gram_flag"),
        coalesce(col("sf"), lit(0L)).as("span_flag"))
      .groupBy(col("gram_flag"), col("span_flag"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("gram_flag"), col("span_flag"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_suffix_ranks" -> suffixRanks,
    "q137_longest_repeat" -> longestRepeat,
    "q139_span_dedup_exact" -> spanDedupExact,
    "q145_span_dedup_rebuild" -> spanDedupRebuild,
    "q152_contamination_span" -> contaminationSpan,
    "q280_contamination_compare" -> contaminationCompare)

  private val posCte =
    s"""WITH p AS (
       |  SELECT doc_id, text, unnest(range(0, len(text))) AS pos
       |  FROM documents WHERE doc_id < $DocCap)""".stripMargin

  /** Shared span-contamination oracle chain (q152 + q280): suffixes →
    * rank-adjacent LCPs → ≥ MinRep runs → per-run bench flag. */
  private val spanChainCte = s"""$posCte,
    |s AS (SELECT doc_id, pos, substr(text, pos + 1) AS suf FROM p),
    |o AS (SELECT doc_id, pos, suf,
    |        lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nsuf
    |      FROM s),
    |lp AS (SELECT doc_id, pos, suf,
    |         LEAST(len(suf), len(nsuf)) AS ml,
    |         list_position(list_transform(
    |           range(1, LEAST(len(suf), len(nsuf)) + 1),
    |           j -> substr(suf, j, 1) = substr(nsuf, j, 1)), false) AS fp
    |       FROM o WHERE nsuf IS NOT NULL),
    |ln AS (SELECT doc_id, pos, suf,
    |         CAST(COALESCE(NULLIF(fp, 0) - 1, ml) AS BIGINT) AS lnext
    |       FROM lp
    |       UNION ALL
    |       SELECT doc_id, pos, suf, 0 FROM o WHERE nsuf IS NULL),
    |r0 AS (SELECT doc_id, pos, suf,
    |         CASE WHEN COALESCE(lag(lnext)
    |             OVER (ORDER BY suf, doc_id, pos), -1) < $MinRep
    |           THEN 1 ELSE 0 END AS brk
    |       FROM ln),
    |r1 AS (SELECT doc_id, pos,
    |         SUM(brk) OVER (ORDER BY suf, doc_id, pos
    |           ROWS UNBOUNDED PRECEDING) AS run
    |       FROM r0),
    |fl AS (SELECT run,
    |         MAX(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
    |           AS has_bench
    |       FROM r1 GROUP BY run)""".stripMargin

  val oracle: Map[String, String] = Map(
    // The oracle takes the opposite algorithm on purpose: materialize
    // every suffix string and window-sort. Feasible only because of the
    // doc cap; the Spark side never builds a suffix string at all.
    "q136_suffix_ranks" -> s"""$posCte
      |SELECT doc_id, pos,
      |  CAST(dense_rank() OVER (ORDER BY substr(text, pos + 1)) AS BIGINT)
      |    AS srank
      |FROM p""".stripMargin,
    "q137_longest_repeat" -> s"""$posCte,
      |s AS (SELECT doc_id, pos, substr(text, pos + 1) AS suf FROM p),
      |o AS (SELECT doc_id, pos, suf,
      |        lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nsuf
      |      FROM s),
      |lp AS (SELECT doc_id, pos, suf,
      |         LEAST(len(suf), len(nsuf)) AS ml,
      |         list_position(list_transform(
      |           range(1, LEAST(len(suf), len(nsuf)) + 1),
      |           j -> substr(suf, j, 1) = substr(nsuf, j, 1)), false) AS fp
      |       FROM o WHERE nsuf IS NOT NULL),
      |-- list_position yields 0 (not NULL) for "never false" here, so a
      |-- full-length match is NULLIF(fp,0) → ml
      |ln AS (SELECT doc_id, pos, suf,
      |         CAST(COALESCE(NULLIF(fp, 0) - 1, ml) AS BIGINT) AS lnext
      |       FROM lp
      |       UNION ALL
      |       SELECT doc_id, pos, suf, 0 FROM o WHERE nsuf IS NULL),
      |v AS (SELECT doc_id,
      |        GREATEST(lnext,
      |          COALESCE(lag(lnext) OVER (ORDER BY suf, doc_id, pos), 0))
      |          AS v
      |      FROM ln)
      |SELECT doc_id, CAST(MAX(v) AS BIGINT) AS longest_repeat,
      |  CAST(SUM(CASE WHEN v >= $MinRep THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_pos_rep
      |FROM v GROUP BY doc_id""".stripMargin,
    "q139_span_dedup_exact" -> spanRemovalOracle(DocCap,
      "md5(COALESCE(r2.ct, '')) AS clean_hash", ""),
    "q145_span_dedup_rebuild" -> spanRemovalOracle(RebuildCap,
      "COALESCE(r2.ct, '') AS clean_text", "d.lang, d.source, "),
    "q152_contamination_span" -> s"""$spanChainCte
      |SELECT doc_id, COUNT(*) AS n_contam_pos,
      |  CAST(COUNT(DISTINCT r1.run) AS BIGINT) AS n_runs
      |FROM r1 JOIN fl ON r1.run = fl.run
      |WHERE has_bench = 1 AND doc_id % 10 <> 0
      |GROUP BY doc_id""".stripMargin,
    "q280_contamination_compare" -> s"""$spanChainCte,
      |sd AS (
      |  SELECT DISTINCT doc_id FROM r1 JOIN fl ON r1.run = fl.run
      |  WHERE has_bench = 1 AND doc_id % 10 <> 0),
      |grams AS (
      |  SELECT doc_id, ${OracleHash.polySql("g")} AS gram
      |  FROM (
      |    SELECT doc_id, array_to_string(t[i:i + 7], ' ') AS g
      |    FROM (
      |      SELECT doc_id, t, unnest(generate_series(1, len(t) - 7))
      |        AS i
      |      FROM (SELECT doc_id, string_split(text, ' ') AS t
      |            FROM documents WHERE doc_id < $DocCap)))),
      |bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
      |gd AS (
      |  SELECT DISTINCT doc_id FROM grams
      |  WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bg)),
      |u AS (
      |  SELECT doc_id FROM documents
      |  WHERE doc_id < $DocCap AND doc_id % 10 <> 0),
      |flags AS (
      |  SELECT u.doc_id,
      |    CASE WHEN gd.doc_id IS NOT NULL THEN 1 ELSE 0 END
      |      AS gram_flag,
      |    CASE WHEN sd.doc_id IS NOT NULL THEN 1 ELSE 0 END
      |      AS span_flag
      |  FROM u LEFT JOIN gd ON u.doc_id = gd.doc_id
      |  LEFT JOIN sd ON u.doc_id = sd.doc_id)
      |SELECT CAST(gram_flag AS BIGINT) AS gram_flag,
      |  CAST(span_flag AS BIGINT) AS span_flag,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
      |FROM flags GROUP BY gram_flag, span_flag
      |ORDER BY gram_flag, span_flag""".stripMargin)

  /** q139/q145 oracle body — opposite algorithm by design: materialize
    * every suffix string of the capped corpus, window-sort, run the
    * identical run/keep-first/rebuild logic in pure SQL. `finalCol`
    * chooses hash-vs-text output; `extraCols` carries lang/source. */
  private def spanRemovalOracle(
      cap: Int, finalCol: String, extraCols: String): String =
    s"""WITH p AS (
      |  SELECT doc_id, text, unnest(range(0, len(text))) AS pos
      |  FROM documents WHERE doc_id < $cap),
      |s AS (SELECT doc_id, pos, substr(text, pos + 1) AS suf FROM p),
      |o AS (SELECT doc_id, pos, suf,
      |        lead(suf) OVER (ORDER BY suf, doc_id, pos) AS nsuf
      |      FROM s),
      |lp AS (SELECT doc_id, pos, suf,
      |         LEAST(len(suf), len(nsuf)) AS ml,
      |         list_position(list_transform(
      |           range(1, LEAST(len(suf), len(nsuf)) + 1),
      |           j -> substr(suf, j, 1) = substr(nsuf, j, 1)), false) AS fp
      |       FROM o WHERE nsuf IS NOT NULL),
      |ln AS (SELECT doc_id, pos, suf,
      |         CAST(COALESCE(NULLIF(fp, 0) - 1, ml) AS BIGINT) AS lnext
      |       FROM lp
      |       UNION ALL
      |       SELECT doc_id, pos, suf, 0 FROM o WHERE nsuf IS NULL),
      |b AS (SELECT doc_id, pos, suf,
      |        CASE WHEN COALESCE(
      |              lag(lnext) OVER (ORDER BY suf, doc_id, pos), -1)
      |            < $MinRep THEN 1 ELSE 0 END AS brk
      |      FROM ln),
      |r AS (SELECT doc_id, pos,
      |        SUM(brk)
      |          OVER (ORDER BY suf, doc_id, pos ROWS UNBOUNDED PRECEDING)
      |          AS run
      |      FROM b),
      |dups AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, ROW_NUMBER()
      |      OVER (PARTITION BY run ORDER BY doc_id, pos) AS rr
      |    FROM r) WHERE rr > 1),
      |cov AS (SELECT DISTINCT doc_id,
      |          unnest(generate_series(pos + 1, pos + $MinRep)) AS jc
      |        FROM dups),
      |chars AS (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS j
      |          FROM documents WHERE doc_id < $cap AND len(text) > 0),
      |kept AS (SELECT c.doc_id, c.j, substr(c.text, c.j, 1) AS ch
      |         FROM chars c LEFT JOIN cov v
      |           ON v.doc_id = c.doc_id AND v.jc = c.j
      |         WHERE v.jc IS NULL),
      |reb AS (SELECT doc_id,
      |          COALESCE(array_to_string(list(ch ORDER BY j), ''), '')
      |            AS ct
      |        FROM kept GROUP BY doc_id),
      |ncov AS (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY 1)
      |SELECT d.doc_id, ${extraCols}CAST(len(d.text) AS BIGINT) AS n_chars,
      |  CAST(COALESCE(n.removed, 0) AS BIGINT) AS removed_chars,
      |  $finalCol
      |FROM documents d
      |LEFT JOIN reb r2 ON r2.doc_id = d.doc_id
      |LEFT JOIN ncov n ON n.doc_id = d.doc_id
      |WHERE d.doc_id < $cap AND len(d.text) > 0""".stripMargin
}
