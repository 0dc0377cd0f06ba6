package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-at-scale pack — the three graph devices the 100 TB posture
  * still wanted beyond GraphOps (CC / PageRank / BFS / k-core /
  * assortativity / naive triangles):
  *
  *  - q357 degree-ordered triangle census: q174's scaladoc defers "the
  *    production upgrade for skewed graphs is degree-ordering the
  *    orientation" — this IS that upgrade, oracle-pinned to q174's
  *    exact output. Each undirected edge is oriented from its
  *    lower-(degree, id) endpoint to its higher one, wedges are built
  *    only at each triangle's MINIMUM-rank vertex, and the closing
  *    edge is probed in the same oriented set. On a skewed graph the
  *    naive formulation fans out O(d_max²) wedges at a hot node; the
  *    ordered one is bounded by O(m^1.5) total with per-node fan-out
  *    O(√m) (Schank-Wagner / Suri-Vassilvitskii MapReduce form). The
  *    oracle is byte-identical to q174's, so the hash match PROVES
  *    ordered ≡ naive on this graph while the plan exercises the
  *    scale-safe shape.
  *  - q358 modularity audit: Newman modularity terms of the near-dup
  *    candidate graph against a cheap structural partition (the
  *    n_chars div 100 length band). Emitted per community as exact
  *    cross-multiplied integers (the q339 rule): q_num = 4m·e_c −
  *    d_c², q_term_ppm = q_num·10⁶ div 4m² — negative terms exercise
  *    the Spark div ≡ DuckDB // truncation-toward-zero pin (NOTES
  *    r9). The curation question it answers: do near-dup candidates
  *    respect length bands (high modularity ⇒ banding is a safe
  *    blocking key for the dedup join)?
  *  - q359 weighted SSSP: Bellman-Ford over the q340 co-purchase
  *    graph (support ≥ 2, weight = 1000 div support, i.e. inverse
  *    association strength) from the minimum part id. The relaxation
  *    dist_{r+1} = min(dist_r, min_{(u,v)} dist_r(u)+w) is monotone
  *    and idempotent at its fixpoint, so the q340 budget device
  *    applies unconditionally: Spark early-stops on stability, the
  *    oracle unrolls exactly [[SsspRounds]] MATERIALIZED rounds, and
  *    both agree wherever convergence lands. Fixpoint witness is the
  *    (count, sum) pair — distances only decrease and nodes only get
  *    added, so an unchanged (count, sum) IS set equality. Every row
  *    carries rounds_used/converged (the q340 contract).
  *
  * Scale (100 TB): q357 is two self-joins on the oriented edge list
  * with O(√m)-bounded fan-out — the shape that survives power-law
  * degree skew; q358 is two broadcast-band joins + one hash aggregate
  * per side with a 1-row m frame; q359 shuffles only the
  * frontier×edges join per round with localCheckpoint truncating the
  * iterative lineage (the q176/q259 discipline). The driver sees one
  * scalar (the source id) and one 2-scalar stability probe per round.
  *
  * Ref: the reference has no graph operators — this pack is part of
  * the LLM-pipeline extension surface (near-dup cluster hygiene and
  * co-purchase structure), same provenance as q57/q340
  * (gmall-realtime DwdTrafficUniqueVisitorDetail.java:60-109 keyed
  * dedup is the stream ancestor of the candidate-pair graph).
  */
object GraphScaleOps extends graft.QueryPack {

  /** q357 core over an undirected, normalized (a<b, distinct) pair
    * list: per-node degree, triangle count via the degree-ordered
    * orientation, integer clustering coefficient. Output contract
    * identical to q174. */
  private[graft] def triangleCensusOf(pairs: DataFrame): DataFrame = {
    val p = pairs.stable() // deg + orientation reuse it
    val deg = p
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .stable() // orientation (×2) + the final join
    val withDeg = p
      .join(deg.select(col("doc_id").as("doc_a"), col("degree").as("da")),
        "doc_a")
      .join(deg.select(col("doc_id").as("doc_b"), col("degree").as("db")),
        "doc_b")
    // strict total order (degree, id): every edge gets exactly one
    // orientation, low rank → high rank
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val oriented = withDeg.select(
        when(fwd, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(fwd, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("deg_dst"))
      .stable() // consumed by o1, o2 and the closing probe o3
    // wedge at the rank-min vertex, endpoints in rank order; the
    // closing edge {dst1, dst2}, if present, is oriented dst1 → dst2
    val tris = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.deg_dst") < col("o2.deg_dst") ||
            (col("o1.deg_dst") === col("o2.deg_dst") &&
              col("o1.dst") < col("o2.dst"))))
      .join(oriented.as("o3"),
        col("o3.src") === col("o1.dst") && col("o3.dst") === col("o2.dst"))
      .select(explode(array(col("o1.src"), col("o1.dst"), col("o2.dst")))
        .as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("triangles"))
    deg.join(tris, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_ppm",
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000L) div (degree * (degree - 1))"))
          .otherwise(0L))
  }

  /** q357: the degree-ordered census of the q57/q174 candidate graph. */
  def trianglesOrdered(s: SparkSession, d: String): DataFrame =
    triangleCensusOf(
      TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b")))

  /** q358 core: Newman modularity terms of `pairs` against a node
    * partition `bands` (doc_id, band). Nodes are graph nodes only
    * (degree ≥ 1); bands with no graph node emit nothing. */
  private[queries] def modularityOf(pairs: DataFrame, bands: DataFrame)
      : DataFrame = {
    val p = pairs.stable() // m + intra + deg read it
    val deg = p
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val mm = p.agg(count(lit(1)).as("m_edges"))
    val intra = p
      .join(bands.select(col("doc_id").as("doc_a"), col("band")), "doc_a")
      .join(bands.select(col("doc_id").as("doc_b"),
        col("band").as("band_b")), "doc_b")
      .filter(col("band") === col("band_b"))
      .groupBy(col("band")).agg(count(lit(1)).as("intra_edges"))
    deg.join(bands, "doc_id")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("deg_sum"))
      .join(intra, Seq("band"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(mm))
      .select(col("band"), col("n_nodes"), col("intra_edges"),
        col("deg_sum"), col("m_edges"),
        expr("4 * m_edges * intra_edges - deg_sum * deg_sum").as("q_num"),
        expr("(4 * m_edges * intra_edges - deg_sum * deg_sum) * 1000000" +
          " div (4 * m_edges * m_edges)").as("q_term_ppm"))
      .orderBy(col("band"))
  }

  /** q358: candidate-graph modularity against the length-band
    * partition. */
  def modularityBands(s: SparkSession, d: String): DataFrame =
    modularityOf(
      TextOps.ngramJaccard(s, d).select(col("doc_a"), col("doc_b")),
      Tables.documents(s, d)
        .select(col("doc_id"), expr("n_chars div 100").as("band")))

  private[queries] val SsspRounds = 10

  /** q359 core: Bellman-Ford from `src` over a DIRECTED weighted edge
    * list (u, v, w) — callers pass both orientations for undirected
    * graphs. Early-stops on the (count, sum) fixpoint witness within
    * [[SsspRounds]]; rows carry rounds_used/converged (q340 contract). */
  private[graft] def ssspOf(edges: DataFrame, src: Long): DataFrame = {
    val e = edges.stable()
    var dist = e.sparkSession.range(1)
      .select(lit(src).as("part_id"), lit(0L).as("dist"))
      .stable()
    var cnt = 1L
    var sm = 0L
    var converged = false
    var round = 0
    while (!converged && round < SsspRounds) {
      val relax = dist.join(e, dist("part_id") === e("u"))
        .select(col("v").as("part_id"), (col("dist") + col("w")).as("dist"))
      // (count, sum) fixpoint witness measured inside the round's
      // checkpoint job (observe, r16) — the separate agg action was one
      // extra job of scheduling latency per Bellman-Ford round
      val (next, stRow) = Mat.stableObserved(
        dist.unionAll(relax)
          .groupBy(col("part_id")).agg(min(col("dist")).as("dist")),
        Seq(count(lit(1)).as("c"), sum(col("dist")).as("s")))
      val st = stRow.getOrElse(
        next.agg(count(lit(1)), sum(col("dist"))).first())
      val (nc, ns) = (st.getLong(0), st.getLong(1))
      // distances only decrease and nodes are only added, so an
      // unchanged (count, sum) pair is exactly set equality
      converged = nc == cnt && ns == sm
      dist = next; cnt = nc; sm = ns; round += 1
    }
    dist
      .withColumn("rounds_used", lit(round.toLong))
      .withColumn("converged", lit(if (converged) 1L else 0L))
      .orderBy(col("part_id"))
  }

  /** q359: SSSP over the co-purchase graph (q340's edge derivation),
    * weight = 1000 div support, source = the maximum-degree node
    * (ties to the smallest id) — deterministic, and lands in the
    * giant component so the frontier actually expands (the min-id
    * source sat in a 2-node component at sf0.1). */
  def ssspWeighted(s: SparkSession, d: String): DataFrame = {
    val lp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val und = lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("u"), col("v"), expr("1000 div c").as("w"))
    val edges = und.select(explode(array(
        struct(col("u"), col("v"), col("w")),
        struct(col("v").as("u"), col("u").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
      .stable()
    // headOption, not first(): a degenerate corpus (no co-purchase pair
    // with support >= 2) leaves the edge set empty — return the empty
    // result with the operator's schema instead of throwing
    // NoSuchElementException from an internal single-row read.
    edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("u")).limit(1)
      .collect().headOption match {
      case Some(r) => ssspOf(edges, r.getLong(0))
      case None => s.range(0).select(col("id").as("part_id"),
        col("id").as("dist"), col("id").as("rounds_used"),
        col("id").as("converged"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q357_triangles_ordered" -> trianglesOrdered,
    "q358_modularity_bands" -> modularityBands,
    "q359_sssp_weighted" -> ssspWeighted)

  /** The Bellman-Ford recurrence unrolled to [[SsspRounds]]
    * MATERIALIZED rounds; rounds_used/converged derived from the
    * (count, sum) witness exactly as the operator computes them. */
  private def ssspOracleSql: String = {
    val rounds = (1 to SsspRounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT part_id, MIN(dist) AS dist FROM (
         |    SELECT part_id, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.v, p.dist + e.w FROM d${k - 1} p
         |    JOIN edges e ON e.u = p.part_id)
         |  GROUP BY part_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |ew AS MATERIALIZED (
       |  SELECT x.pk AS u, y.pk AS v, 1000 // COUNT(*) AS w
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY x.pk, y.pk HAVING COUNT(*) >= 2),
       |edges AS MATERIALIZED (
       |  SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew),
       |src AS (
       |  SELECT u AS sid FROM edges GROUP BY u
       |  ORDER BY COUNT(*) DESC, u LIMIT 1),
       |d0 AS MATERIALIZED (SELECT sid AS part_id, 0 AS dist FROM src),
       |$rounds,
       |cnt AS MATERIALIZED (
       |  ${(0 to SsspRounds).map(k =>
            s"SELECT $k AS k, COUNT(*) AS c, " +
              s"CAST(SUM(dist) AS BIGINT) AS sd FROM d$k")
            .mkString("\n       |  UNION ALL ")}),
       |meta AS (
       |  SELECT CAST(COALESCE(MIN(a.k), $SsspRounds) AS BIGINT)
       |      AS rounds_used,
       |    CAST(CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS BIGINT)
       |      AS converged
       |  FROM cnt a JOIN cnt b
       |    ON b.k = a.k - 1 AND b.c = a.c AND b.sd = a.sd)
       |SELECT part_id, CAST(dist AS BIGINT) AS dist, rounds_used,
       |  converged
       |FROM d$SsspRounds CROSS JOIN meta ORDER BY part_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // byte-identical to q174's oracle: the hash match proves the
    // degree-ordered orientation computes exactly the naive census
    "q357_triangles_ordered" -> GraphOps.oracle("q174_graph_stats"),
    "q358_modularity_bands" -> s"""${Advanced.pairsCte},
      |deg AS (
      |  SELECT doc_id, COUNT(*) AS degree FROM (
      |    SELECT doc_a AS doc_id FROM pairs
      |    UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
      |band AS (SELECT doc_id, n_chars // 100 AS band FROM documents),
      |mm AS (SELECT COUNT(*) AS m FROM pairs),
      |intra AS (
      |  SELECT ba.band, COUNT(*) AS intra_edges
      |  FROM pairs p
      |  JOIN band ba ON ba.doc_id = p.doc_a
      |  JOIN band bb ON bb.doc_id = p.doc_b
      |  WHERE ba.band = bb.band GROUP BY ba.band),
      |ds AS (
      |  SELECT b.band, COUNT(*) AS n_nodes,
      |    CAST(SUM(d.degree) AS BIGINT) AS deg_sum
      |  FROM deg d JOIN band b USING (doc_id) GROUP BY b.band)
      |SELECT ds.band, ds.n_nodes,
      |  CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
      |  ds.deg_sum, CAST(mm.m AS BIGINT) AS m_edges,
      |  CAST(4 * mm.m * COALESCE(i.intra_edges, 0)
      |    - ds.deg_sum * ds.deg_sum AS BIGINT) AS q_num,
      |  CAST((4 * mm.m * COALESCE(i.intra_edges, 0)
      |    - ds.deg_sum * ds.deg_sum) * 1000000
      |    // (4 * mm.m * mm.m) AS BIGINT) AS q_term_ppm
      |FROM ds LEFT JOIN intra i USING (band) CROSS JOIN mm
      |ORDER BY ds.band""".stripMargin,
    "q359_sssp_weighted" -> ssspOracleSql)
}
