package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Mat.StableOps

/** Advanced composite operators: connected-components dedup clustering
  * (the decision step after candidate generation) and a sequential
  * conversion funnel.
  */
object Advanced extends graft.QueryPack {

  /** Edge-count cutoff below which components are solved with union-find
    * on the driver: after LSH/shingle candidate generation the dup graph
    * is a vanishing fraction of the corpus, and a bounded collect beats
    * O(diameter) distributed rounds — the same small-side reasoning as a
    * broadcast join. Above the cutoff, the distributed loop runs. */
  private val DriverEdgeCutoff = 100000

  /** Near-dup clustering: q31's candidate pairs → connected components →
    * one representative (min doc_id) per cluster. Spark side is iterative
    * min-label propagation over the edge list — the standard distributed
    * connected-components loop (one shuffle on doc_id per round,
    * localCheckpoint between rounds to cut lineage). The oracle is a
    * recursive CTE computing the same minimum reachable id — proving the
    * loop equivalent to transitive closure. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d, Int.MaxValue)

  /** Capped variant — the 100 TB configuration: candidate pairs come from
    * the df-capped [[TextOps.ngramJaccard]] (stop-shingle filter bounds
    * the per-shingle bucket, so the candidate join stays sub-quadratic on
    * a boilerplate-heavy crawl; ScaleProbe's skew mode measures the
    * uncapped variant going quadratic). Cluster semantics are unchanged —
    * only the candidate edge set is (deliberately) thinner. */
  def dedupClusters(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val pairs = TextOps.ngramJaccard(s, d, dfCap).select(col("doc_a"), col("doc_b"))
    componentsFromPairs(s, pairs)
  }

  /** Connected components over an undirected candidate-pair edge list →
    * (doc_id, cluster_rep, is_kept) with the min-id representative.
    * Shared by the shingle-verified chain (q57) and the MinHash-LSH
    * chain (q110). */
  private[queries] def componentsFromPairs(s: SparkSession, pairs: DataFrame)
      : DataFrame = {
    // symmetrize via explode, NOT union(pairs, pairs.swap): a union
    // evaluates the (expensive) candidate-generation subtree once per
    // leg; the explode emits both directions from a single pass
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
      .distinct()
      // candidate-edge frames are bucket-bounded by construction (df
      // caps upstream); caching them at the raw shuffle width makes the
      // count + every cached read schedule shuffle.partitions tasks
      // (4096 under the production profile — measured r10). Coalescing
      // to the core count first never increases width; it does narrow
      // the producing distinct stage to core count too, which the
      // bucket-bounded precondition makes safe — above the cutoff the
      // large-star rounds re-shuffle at full width anyway.
      .coalesce(pairs.sparkSession.sparkContext.defaultParallelism)
      .cache()
    val edgeCount = edges.count()
    if (edgeCount <= DriverEdgeCutoff) {
      import s.implicits._
      val es = edges.as[(Long, Long)].collect()
      edges.unpersist()
      val rep = UnionFind.representatives(es)
      val rows = es.map(_._1).distinct.map(n => (n, rep(n))).toSeq
      return rows.toDF("doc_id", "cluster_rep")
        .select(col("doc_id"), col("cluster_rep"),
          (col("doc_id") === col("cluster_rep")).as("is_kept"))
    }
    val nodes = edges.select(col("doc_a").as("doc_id")).distinct()
    // checkpoint (Mat.stable: localCheckpoint, or a reliable
    // checkpoint under spark.graft.reliableCheckpoint — executor-loss
    // survivable) each round: iterative DataFrame loops otherwise
    // grow the logical plan exponentially (each iteration embeds the
    // previous plan twice) — lineage truncation is what makes the loop
    // O(iterations), and on a cluster it also bounds recovery cost.
    var labels = nodes.withColumn("label", col("doc_id")).stable()
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val neighborMin = edges
        .join(labels, edges("doc_b") === labels("doc_id"))
        .groupBy(edges("doc_a").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      // change flag computed IN the update projection, and the
      // convergence witness observed INSIDE the checkpoint job
      // (Mat.stableObserved) — ONE action per iteration instead of the
      // checkpoint + a separate isEmpty scan (r16, guide §1.2)
      val (updated, obs) = Mat.stableObserved(
        labels.alias("l")
          .join(neighborMin.alias("n"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("l.label"),
              coalesce(col("n.nbr_label"), col("l.label"))).as("label"),
            (coalesce(col("n.nbr_label"), col("l.label")) < col("l.label"))
              .as("changed")),
        Seq(count(when(col("changed"), lit(1))).as("n_changed")))
      converged = obs.map(_.getLong(0) == 0L)
        .getOrElse(updated.filter(col("changed")).isEmpty)
      labels = updated.drop("changed")
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $iter rounds — component " +
          "diameter exceeds the cap; raise the cap or switch to " +
          "path-doubling propagation")
    labels.select(col("doc_id"), col("label").as("cluster_rep"),
      (col("doc_id") === col("label")).as("is_kept"))
  }

  /** Full-corpus MinHash-LSH dedup chain — the 100 TB flagship shape.
    * Two-level candidate generation keeps every stage LINEAR in the size
    * of an LSH bucket (a naive within-bucket self-join is quadratic, and
    * a crawl's boilerplate families make mega-buckets a certainty — the
    * sf0.1 corpus itself has a 3 160-doc bucket ⇒ 6.5 M all-pairs):
    *
    *  1. **Signature families.** Docs sharing the FULL 4-minhash
    *     signature collapse into a family (groupBy sig → min doc_id rep,
    *     join back — an aggregate + join, no windowed sort, so a
    *     billion-doc family never lands in one task). Each member emits
    *     ONE star edge (rep, doc): O(n) edges where all-pairs is O(n²).
    *  2. **Band join over representatives only.** The q30 banding (2
    *     bands of 2 minhashes) runs on the (much smaller) rep set —
    *     sf0.1: 302 reps for 5 000 docs, the hot bucket drops from
    *     3 160 docs to 9 reps.
    *
    * Every candidate edge (both levels) is then verified by exact
    * token-set Jaccard — inter·100 ≥ union·jaccThresholdPct in pure
    * integer arithmetic — and [[componentsFromPairs]] picks min-id
    * cluster representatives. Connectivity is the transitive closure of
    * VERIFIED star+rep edges (documented approximation: two docs whose
    * family reps fail pairwise verification are not linked even if the
    * docs themselves would pass; with ≥90 % Jaccard families this is the
    * standard production trade — see the dedup pipelines in Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better").
    * q57 remains the shingle-verified all-pairs variant on its bounded
    * id range. Measured sf0.1: 2 m 06 s (all-pairs) → linear chain, and
    * the verify join shrinks 6.5 M → ~7 k pairs. */
  def minhashDedupClusters(s: SparkSession, d: String,
      jaccThresholdPct: Int = 90): DataFrame = {
    // Mat.stable materializations (localCheckpoint by default; the
    // reliable-checkpoint escape hatch under executor churn): sigs/
    // withRep/tokens each feed 2-3 consumers —
    // without materialization the signature and token subtrees
    // re-evaluate once per consumer
    val sigs = TextOps.minhashSignatures(s, d).stable()
    val sigCols = Seq("mh1", "mh2", "mh3", "mh4")
    val fams = sigs.groupBy(sigCols.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
    val withRep = sigs.join(fams, sigCols).stable()
    val famEdges = withRep.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val reps = withRep.filter(col("doc_id") === col("rep"))
    // band key = the minhash pair itself (two longs); hashing the pair
    // into one column buys nothing over a two-column equi-join
    val banded = reps.select(col("doc_id"),
        col("mh1").as("h1"), col("mh2").as("h2"))
      .unionByName(reps.select(col("doc_id"),
        col("mh3").as("h1"), col("mh4").as("h2")))
    val repPairs = banded.as("a").join(banded.as("b"),
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // famEdges already satisfy doc_a < doc_b (rep is the family min)
    val cands = famEdges.unionByName(repPairs).distinct()
    // token identity for the verify joins = the unsalted polynomial
    // word hash — 8-byte longs through the distinct and both legs of
    // the intersection join instead of word strings
    val tokens = TextOps.words(s, d)
      .select(col("doc_id"), TextOps.wordHash.as("word"))
      .distinct().stable()
    val counts = tokens.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val inter = cands
      .join(tokens.select(col("doc_id").as("doc_a"), col("word")), Seq("doc_a"))
      .join(tokens.select(col("doc_id").as("doc_b"), col("word")),
        Seq("doc_b", "word"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_size"))
    val verified = inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_words").as("n_a")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_words").as("n_b")),
        Seq("doc_b"))
      .filter(col("inter_size") * 100 >=
        (col("n_a") + col("n_b") - col("inter_size")) * jaccThresholdPct)
      .select(col("doc_a"), col("doc_b"))
    componentsFromPairs(s, verified)
  }

  /** q151: near-dup cluster representative selection by QUALITY — the
    * step FineWeb-style pipelines run right after clustering: within
    * each verified near-dup cluster keep the highest-quality member,
    * not the arbitrary min-id one (q110's `is_kept` is the min-id
    * convention; this is the quality-aware upgrade). Quality here is
    * integer lexical diversity (distinct tokens per token, ppm — the
    * engine-exact fragment of q26's quality family); ties break to the
    * smaller doc_id via a packed struct max.
    *
    * Scale: the per-doc quality table is one map-side-combinable
    * aggregate over the corpus; the argmax-per-cluster is
    * `max(struct(q, −doc_id))` — a bounded-state aggregate, never a
    * per-cluster sort or window. Output rows = number of clusters.
    *
    * Output: (cluster_rep, cluster_size, kept_doc, best_q_ppm). */
  def clusterRepresentatives(s: SparkSession, d: String): DataFrame = {
    val clusters = minhashDedupClusters(s, d)
    val qual = TextOps.words(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"))
      .select(col("doc_id"),
        expr("(n_distinct * 1000000L) div n_tokens").as("q_ppm"))
    clusters.join(qual, Seq("doc_id"))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("q_ppm").as("q"), (-col("doc_id")).as("nd")))
          .as("best"))
      .select(col("cluster_rep"), col("cluster_size"),
        (-col("best.nd")).as("kept_doc"), col("best.q").as("best_q_ppm"))
  }

  /** q338: dedup keep-POLICY comparison on the verified q110 clusters —
    * naive min-id keep vs SOURCE-BALANCED keep (retain the member from
    * the least-represented source; ties to the smaller doc_id). Naive
    * keep-first silently biases a deduped corpus against small sources
    * whenever duplicate families span sources — this is the census a
    * curator reads before choosing the policy. Pick is a packed-long
    * argmin per cluster (src_n < 2²⁰, doc_id < 2⁴⁰ — hash-aggregable
    * MIN, the q156 rule). On this corpus the policies coincide at the
    * small SFs (families rarely span sources there) — the divergence
    * case is pinned in AdvancedPolicySpec's fixture, the q151
    * convention. */
  def sourceBalancedDedup(s: SparkSession, d: String): DataFrame = {
    val clusters = minhashDedupClusters(s, d)
    val srcOf = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
    val srcSize = srcOf.groupBy("source").agg(count(lit(1)).as("src_n"))
    val m = clusters.join(srcOf, "doc_id")
      .join(broadcast(srcSize), "source")
    val pick = m.select(col("cluster_rep"),
        (col("src_n") * lit(1099511627776L) + col("doc_id")).as("pk"))
      .groupBy("cluster_rep").agg(min(col("pk")).as("pk"))
      .select(col("cluster_rep"),
        expr("pk % 1099511627776L").as("bal_doc"))
    val balancedBySrc = pick
      .join(srcOf, pick("bal_doc") === srcOf("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("kept_balanced"))
    val naiveBySrc = clusters.filter(col("is_kept"))
      .join(srcOf, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("kept_naive"))
    m.groupBy("source").agg(count(lit(1)).as("n_clustered"))
      .join(naiveBySrc, Seq("source"), "left")
      .join(balancedBySrc, Seq("source"), "left")
      .select(col("source"), col("n_clustered"),
        coalesce(col("kept_naive"), lit(0L)).as("kept_naive"),
        coalesce(col("kept_balanced"), lit(0L)).as("kept_balanced"))
      .orderBy(col("source"))
  }

  /** q211: dedup yield curve — what keep-one-per-cluster dedup would
    * remove, broken down by cluster size: the readout a pipeline
    * publishes to justify (or skip) near-dedup on a source. Composes
    * onto the ORACLE-VERIFIED q110 clusters; token counts are the
    * engine-exact whitespace census (q27's device). Singleton docs
    * never enter the pair graph, so rows here cover only real clusters
    * (size ≥ 2) — exactly the removable mass.
    *
    * Scale: adds one map-side token count and two bounded aggregates
    * (per-cluster, then per-size — output rows = distinct sizes) on
    * top of the q110 chain; nothing new touches the corpus. */
  def clusterYield(s: SparkSession, d: String): DataFrame = {
    val clusters = minhashDedupClusters(s, d)
    val toks = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    clusters.join(toks, "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("sz"), sum(col("n_tokens")).as("tok"),
        sum(when(col("is_kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tok"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz") - 1).as("docs_removed"),
        sum(col("tok") - col("kept_tok")).as("tokens_removed"))
      .orderBy(col("cluster_size"))
  }

  /** Conversion funnel: users whose first purchase follows their first
    * click within 1 h — pure integer-µs sequencing, grouped by date of
    * the click. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d).withColumn("tsu", unix_micros(col("ts")))
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("tsu")).as("click_tsu"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("p_tsu"))
    firstClick
      .join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("click_tsu"))
      .agg(
        max(when(col("p_tsu") >= col("click_tsu") &&
          col("p_tsu") <= col("click_tsu") + 3600L * 1000000L, 1L)
          .otherwise(0L)).as("converted"))
      .groupBy(to_date(timestamp_micros(col("click_tsu"))).as("click_date"))
      .agg(count(lit(1)).as("clickers"),
        sum(col("converted")).as("converted_1h"))
  }

  /** q58 recomputed THROUGH the streaming CEP operator
    * (graft.streaming.Sessionize.funnel) run in batch mode: events map to
    * (key, ms-timestamp, step), the N-step state machine emits one
    * outcome per clicker, and outcomes aggregate to the q58 shape. The
    * oracle is the independent SQL formulation at the same ms precision —
    * hard evidence the operator's first-match semantics equals the
    * declarative funnel (for 2 steps they provably coincide). */
  def funnelOperator(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast("string").as("key"),
        expr("unix_micros(ts) div 1000").as("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("step"))
      .as[graft.streaming.FunnelEvent]
    graft.streaming.Sessionize.funnel(ev, 2, Seq(3600000L)).toDF()
      .groupBy(to_date(timestamp_millis(col("anchorTs"))).as("click_date"))
      .agg(count(lit(1)).as("clickers"),
        sum(when(col("completed"), 1L).otherwise(0L)).as("converted_1h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_dedup_clusters" -> ((s, d) => dedupClusters(s, d)),
    // Same chain with the finite stop-shingle cap (cap 3 — the q105
    // configuration, chosen so the filter actually drops shingles on
    // this corpus): oracle-checks candidates→clusters CAPPED end to end.
    "q107_dedup_clusters_dfcap" -> ((s, d) => dedupClusters(s, d, 3)),
    "q110_minhash_dedup" -> ((s, d) => minhashDedupClusters(s, d)),
    "q151_cluster_representatives" -> clusterRepresentatives,
    "q338_source_balanced_dedup" -> sourceBalancedDedup,
    "q211_cluster_yield" -> clusterYield,
    "q58_funnel" -> funnel,
    "q82_funnel_operator" -> funnelOperator)

  // ngramJaccard candidate pairs, re-stated for the recursive oracle
  // (shingle identity = the GramHashes polynomial, same as the operator)
  private[queries] val pairsCte =
    s"""WITH RECURSIVE w AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS word,
      |    unnest(range(0, len(string_split(text, ' ')))) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w WHERE doc_id < 100
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2)""".stripMargin

  /** Capped twin of [[pairsCte]]: the identical pair derivation with the
    * stop-shingle df filter (mirrors TextOps.dropHotTokens — q105's
    * oracle pattern) inserted before the self-join. */
  private[queries] def pairsCteCapped(cap: Int): String =
    s"""WITH RECURSIVE w AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS word,
      |    unnest(range(0, len(string_split(text, ' ')))) AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER dw || ' ' || lead(word, 2) OVER dw
      |      AS g
      |  FROM w WHERE doc_id < 100
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |sh1 AS (SELECT DISTINCT doc_id, ${OracleHash.polySql("g")} AS shingle
      |  FROM sh WHERE g IS NOT NULL),
      |hot AS (SELECT shingle FROM sh1 GROUP BY shingle HAVING COUNT(*) > $cap),
      |sh2 AS (SELECT * FROM sh1 WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2)""".stripMargin

  /** MinHash-LSH chain pair derivation (q110 oracle): signature-family
    * star edges ∪ band-bucket pairs over family representatives → exact
    * token-set-Jaccard verify, mirroring [[minhashDedupClusters]] with
    * threshold 90. */
  /** Every CTE a recursive query references repeatedly is MATERIALIZED,
    * and the polynomial hashes are evaluated once per DISTINCT word
    * (31-word vocab), never per occurrence — per-occurrence polySql
    * inside a WITH RECURSIVE made this oracle re-evaluate ~1.4M lambda
    * hashes per closure iteration (hours at sf0.1; 263 s even at
    * sf0.01). */
  private[queries] val minhashPairsCte: String =
    s"""WITH RECURSIVE w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |vh AS MATERIALIZED (
      |  SELECT word, ${OracleHash.polySql("word")} AS wh,
      |    ${OracleHash.polySql("'s1: ' || word")} AS h1,
      |    ${OracleHash.polySql("'s2: ' || word")} AS h2,
      |    ${OracleHash.polySql("'s3: ' || word")} AS h3,
      |    ${OracleHash.polySql("'s4: ' || word")} AS h4
      |  FROM (SELECT DISTINCT word FROM w)),
      |tok AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, v.wh AS word FROM w JOIN vh v USING (word)),
      |sigs AS MATERIALIZED (
      |  SELECT doc_id,
      |    MIN(h1) AS mh1, MIN(h2) AS mh2, MIN(h3) AS mh3, MIN(h4) AS mh4
      |  FROM w JOIN vh USING (word) GROUP BY doc_id),
      |fams AS (
      |  SELECT mh1, mh2, mh3, mh4, MIN(doc_id) AS rep
      |  FROM sigs GROUP BY mh1, mh2, mh3, mh4),
      |sr AS MATERIALIZED (
      |  SELECT s.doc_id, f.rep, s.mh1, s.mh2, s.mh3, s.mh4
      |  FROM sigs s JOIN fams f USING (mh1, mh2, mh3, mh4)),
      |fam_edges AS (
      |  SELECT rep AS doc_a, doc_id AS doc_b FROM sr WHERE doc_id <> rep),
      |bands AS (
      |  SELECT doc_id, mh1 AS h1, mh2 AS h2 FROM sr WHERE doc_id = rep
      |  UNION ALL
      |  SELECT doc_id, mh3 AS h1, mh4 AS h2 FROM sr WHERE doc_id = rep),
      |rep_pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
      |cand AS (
      |  SELECT DISTINCT doc_a, doc_b FROM (
      |    SELECT * FROM fam_edges UNION ALL SELECT * FROM rep_pairs)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN tok ta ON ta.doc_id = c.doc_a
      |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.word = ta.word
      |  GROUP BY c.doc_a, c.doc_b),
      |pairs AS MATERIALIZED (
      |  SELECT i.doc_a, i.doc_b FROM inter i
      |  JOIN cnt ca ON ca.doc_id = i.doc_a
      |  JOIN cnt cb ON cb.doc_id = i.doc_b
      |  WHERE i.i * 100 >= (ca.n + cb.n - i.i) * 90)""".stripMargin

  /** Shared connected-components CTE block (edges → reach) used by both
    * the q57 and q61 oracles — one copy, one semantics. */
  private[queries] val ccCte: String =
    """edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q57_dedup_clusters" -> s"""$pairsCte,
      |$ccCte
      |SELECT n.doc_id,
      |  LEAST(n.doc_id, MIN(r.v)) AS cluster_rep,
      |  n.doc_id = LEAST(n.doc_id, MIN(r.v)) AS is_kept
      |FROM nodes n JOIN reach r ON r.u = n.doc_id
      |GROUP BY n.doc_id""".stripMargin,
    "q110_minhash_dedup" -> s"""$minhashPairsCte,
      |$ccCte
      |SELECT n.doc_id,
      |  LEAST(n.doc_id, MIN(r.v)) AS cluster_rep,
      |  n.doc_id = LEAST(n.doc_id, MIN(r.v)) AS is_kept
      |FROM nodes n JOIN reach r ON r.u = n.doc_id
      |GROUP BY n.doc_id""".stripMargin,
    "q151_cluster_representatives" -> s"""$minhashPairsCte,
      |$ccCte,
      |clus AS (
      |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id
      |  GROUP BY n.doc_id),
      |qual AS (
      |  SELECT doc_id,
      |    CAST((COUNT(DISTINCT word) * 1000000) // COUNT(*) AS BIGINT)
      |      AS q_ppm
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  GROUP BY doc_id),
      |rk AS (
      |  SELECT cluster_rep, doc_id, q_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_rep
      |      ORDER BY q_ppm DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_rep) AS csz
      |  FROM clus JOIN qual USING (doc_id))
      |SELECT cluster_rep, CAST(csz AS BIGINT) AS cluster_size,
      |  doc_id AS kept_doc, q_ppm AS best_q_ppm
      |FROM rk WHERE rn = 1""".stripMargin,
    "q338_source_balanced_dedup" -> s"""$minhashPairsCte,
      |$ccCte,
      |clus AS (
      |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id
      |  GROUP BY n.doc_id),
      |srcs AS (SELECT doc_id, source FROM documents),
      |ssz AS (SELECT source, COUNT(*) AS src_n FROM documents
      |  GROUP BY 1),
      |m AS (
      |  SELECT c.doc_id, c.cluster_rep, s.source, z.src_n
      |  FROM clus c JOIN srcs s USING (doc_id)
      |  JOIN ssz z USING (source)),
      |pick AS (
      |  SELECT cluster_rep,
      |    MIN(src_n * 1099511627776 + doc_id) % 1099511627776 AS bal_doc
      |  FROM m GROUP BY 1),
      |nv AS (
      |  SELECT s.source, COUNT(*) AS kept_naive
      |  FROM clus c JOIN srcs s USING (doc_id)
      |  WHERE c.doc_id = c.cluster_rep GROUP BY 1),
      |bl AS (
      |  SELECT s.source, COUNT(*) AS kept_balanced
      |  FROM pick p JOIN srcs s ON p.bal_doc = s.doc_id GROUP BY 1),
      |ic AS (SELECT source, COUNT(*) AS n_clustered FROM m GROUP BY 1)
      |SELECT ic.source, n_clustered,
      |  CAST(COALESCE(kept_naive, 0) AS BIGINT) AS kept_naive,
      |  CAST(COALESCE(kept_balanced, 0) AS BIGINT) AS kept_balanced
      |FROM ic LEFT JOIN nv USING (source) LEFT JOIN bl USING (source)
      |ORDER BY ic.source""".stripMargin,
    "q211_cluster_yield" -> s"""$minhashPairsCte,
      |$ccCte,
      |clus AS (
      |  SELECT n.doc_id,
      |    LEAST(n.doc_id, MIN(r.v)) AS cluster_rep,
      |    n.doc_id = LEAST(n.doc_id, MIN(r.v)) AS is_kept
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id
      |  GROUP BY n.doc_id),
      |toks AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |bc AS (
      |  SELECT cluster_rep, COUNT(*) AS sz,
      |    CAST(SUM(n_tokens) AS BIGINT) AS tok,
      |    CAST(SUM(CASE WHEN is_kept THEN n_tokens ELSE 0 END)
      |      AS BIGINT) AS kept_tok
      |  FROM clus JOIN toks USING (doc_id) GROUP BY cluster_rep)
      |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(SUM(sz - 1) AS BIGINT) AS docs_removed,
      |  CAST(SUM(tok - kept_tok) AS BIGINT) AS tokens_removed
      |FROM bc GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "q107_dedup_clusters_dfcap" -> s"""${pairsCteCapped(3)},
      |$ccCte
      |SELECT n.doc_id,
      |  LEAST(n.doc_id, MIN(r.v)) AS cluster_rep,
      |  n.doc_id = LEAST(n.doc_id, MIN(r.v)) AS is_kept
      |FROM nodes n JOIN reach r ON r.u = n.doc_id
      |GROUP BY n.doc_id""".stripMargin,
    "q58_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu FROM events),
        |fc AS (SELECT user_id, MIN(tsu) AS click_tsu FROM ev
        |  WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id, tsu AS p_tsu FROM ev WHERE event_type = 'purchase'),
        |per_user AS (
        |  SELECT fc.user_id, fc.click_tsu,
        |    MAX(CASE WHEN p.p_tsu >= fc.click_tsu
        |      AND p.p_tsu <= fc.click_tsu + CAST(3600000000 AS BIGINT)
        |      THEN 1 ELSE 0 END) AS converted
        |  FROM fc LEFT JOIN p ON fc.user_id = p.user_id
        |  GROUP BY fc.user_id, fc.click_tsu)
        |SELECT CAST(make_timestamp(click_tsu) AS DATE) AS click_date,
        |  COUNT(*) AS clickers,
        |  CAST(SUM(converted) AS BIGINT) AS converted_1h
        |FROM per_user GROUP BY 1""".stripMargin,
    "q82_funnel_operator" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) // 1000 AS tsm
        |  FROM events),
        |fc AS (SELECT user_id, MIN(tsm) AS c FROM ev
        |  WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id, tsm AS p_tsm FROM ev
        |  WHERE event_type = 'purchase'),
        |per_user AS (
        |  SELECT fc.user_id, fc.c,
        |    MAX(CASE WHEN p.p_tsm >= fc.c
        |      AND p.p_tsm <= fc.c + 3600000 THEN 1 ELSE 0 END) AS converted
        |  FROM fc LEFT JOIN p ON fc.user_id = p.user_id
        |  GROUP BY fc.user_id, fc.c)
        |SELECT CAST(make_timestamp(c * 1000) AS DATE) AS click_date,
        |  COUNT(*) AS clickers,
        |  CAST(SUM(converted) AS BIGINT) AS converted_1h
        |FROM per_user GROUP BY 1""".stripMargin)
}

/** Corpus materialization: applying the dedup decision and accounting
  * the surviving token budget — the last two steps of a cleaning run. */
object CorpusOps extends graft.QueryPack {

  /** Cleaned corpus: drop every near-dup cluster member except its
    * representative (LEFT ANTI against the is_kept=false set), then
    * summarize per language. The anti-join is the "apply" step of the
    * whole dedup chain (candidates → clusters → removal). */
  def cleanCorpus(s: SparkSession, d: String): DataFrame =
    cleanCorpus(s, d, Int.MaxValue)

  /** Capped variant: the whole candidates→clusters→removal chain run in
    * its 100 TB configuration (finite stop-shingle df cap). */
  def cleanCorpus(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val drops = Advanced.dedupClusters(s, d, dfCap)
      .filter(!col("is_kept"))
      .select(col("doc_id"))
    graft.Tables.documents(s, d)
      .join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_chars")).as("chars_kept"))
  }

  /** Token-budget accounting per (lang, source): whitespace tokens and
    * the BPE-proxy estimate — what a training-data run reports before
    * tokenization. */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"),
        sum(ceil(length(regexp_replace(col("text"), " ", "")).cast("double") / 4)
          .cast("long")).as("bpe_est_tokens"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_clean_corpus" -> ((s, d) => cleanCorpus(s, d)),
    "q108_clean_corpus_dfcap" -> ((s, d) => cleanCorpus(s, d, 3)),
    "q62_token_budget" -> tokenBudget)

  val oracle: Map[String, String] = Map(
    "q61_clean_corpus" -> s"""${Advanced.pairsCte},
      |${Advanced.ccCte},
      |reps AS (
      |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id GROUP BY n.doc_id),
      |drops AS (SELECT doc_id FROM reps WHERE doc_id <> cluster_rep)
      |SELECT lang, COUNT(*) AS docs_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY lang""".stripMargin,
    "q108_clean_corpus_dfcap" -> s"""${Advanced.pairsCteCapped(3)},
      |${Advanced.ccCte},
      |reps AS (
      |  SELECT n.doc_id, LEAST(n.doc_id, MIN(r.v)) AS cluster_rep
      |  FROM nodes n JOIN reach r ON r.u = n.doc_id GROUP BY n.doc_id),
      |drops AS (SELECT doc_id FROM reps WHERE doc_id <> cluster_rep)
      |SELECT lang, COUNT(*) AS docs_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY lang""".stripMargin,
    "q62_token_budget" ->
      """SELECT lang, source, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(CAST(ceil(CAST(len(replace(text, ' ', '')) AS DOUBLE) / 4)
        |    AS BIGINT)) AS BIGINT) AS bpe_est_tokens
        |FROM documents GROUP BY lang, source""".stripMargin)
}
