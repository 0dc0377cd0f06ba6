package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q260: multi-iteration k-means (full Lloyd loop) in exact integer
  * fixed-point — the training loop that completes the clustering
  * family (q93 one step / q172 one PQ refinement / q38-q39 serving).
  *
  * Everything is engine-exact by construction:
  *  - vectors quantize to milli units (floor(x·1000), the q93
  *    convention) ONCE; all distances are integer squared-L2 sums
  *    (≤ 64·(2000)² ≈ 2.6e8 — far inside int64);
  *  - assignment ties break to the smallest cell id via the PACKED
  *    argmin `min(dist·16 + cell)` — one long, hash-aggregable (the
  *    session-3 min(struct) → SortAggregate trap, avoided);
  *  - centroid update is `sum(q) div count` per (cell, dim) —
  *    truncating integer division, identical in both engines
  *    including negative sums (the verified div ≡ // rule);
  *  - init = the quantized vectors of vec_ids 0..7 (deterministic);
  *    cells that empty simply drop out of the next centroid frame in
  *    BOTH formulations.
  *
  * The oracle unrolls the identical recurrence as chained CTEs
  * (assign₁ → update₁ → assign₂ → update₂ → assign₃), the q176
  * PageRank device: the hash match proves the distributed loop
  * step-equivalent to the sequential statement of Lloyd's algorithm.
  *
  * Scale (100 TB): the exploded (vec, dim, q) frame is corpus×dims —
  * it stays distributed; per iteration one broadcast of the K×dims
  * centroid frame, one map-side-combinable distance aggregation, one
  * (cell, dim) update aggregate. The driver holds nothing but the
  * loop counter (3 fixed iterations — part of the operator contract,
  * like q176's 10).
  *
  * Ref: Lloyd 1982; the reference has no trainer — its dims are
  * static (DimApp) — so this is part of the ANN toolbox this engine
  * adds (SURVEY §LLM: IVF training).
  */
object KmeansOps extends graft.QueryPack {

  private val K = 8
  private val Iters = 3

  def kmeansIters(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("q"))
      .stable() // consumed 1 + 2·Iters times; explode once
    var cent = ex.filter(col("vec_id") < K)
      .select(col("vec_id").as("cell"), col("dim"), col("q").as("cval"))
      .stable()
    var assign: DataFrame = null
    for (i <- 1 to Iters) {
      val dist = ex.join(broadcast(cent), "dim")
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum((col("q") - col("cval")) * (col("q") - col("cval")))
          .as("dist"))
      assign = dist
        .groupBy(col("vec_id"))
        .agg(min(col("dist") * 16 + col("cell")).as("packed"))
        .select(col("vec_id"), (col("packed") % 16).as("cell"),
          expr("packed div 16").as("dist"))
        .stable()
      if (i < Iters)
        cent = assign.join(ex, "vec_id")
          .groupBy(col("cell"), col("dim"))
          .agg(expr("sum(q) div count(1)").as("cval"))
          .stable()
    }
    assign.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"),
        sum(col("dist")).as("inertia"))
      .orderBy(col("cell"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q260_kmeans_iters" -> kmeansIters)

  val oracle: Map[String, String] = Map(
    "q260_kmeans_iters" -> {
      def assignCte(i: Int): String =
        s"""d$i AS (
           |  SELECT e.vec_id, c.cell,
           |    CAST(SUM((e.q - c.cval) * (e.q - c.cval)) AS BIGINT)
           |      AS dist
           |  FROM ex e JOIN c${i - 1} c USING (dim)
           |  GROUP BY 1, 2),
           |a$i AS (
           |  SELECT vec_id, cell, dist FROM (
           |    SELECT vec_id, cell, dist,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id
           |        ORDER BY dist, cell) AS rn
           |    FROM d$i) WHERE rn = 1)""".stripMargin
      def updateCte(i: Int): String =
        s"""c$i AS (
           |  SELECT a.cell, e.dim,
           |    CAST(CAST(SUM(e.q) AS BIGINT) // COUNT(*) AS BIGINT)
           |      AS cval
           |  FROM a$i a JOIN ex e USING (vec_id)
           |  GROUP BY 1, 2)""".stripMargin
      val chain = (1 to Iters).map { i =>
        if (i < Iters) assignCte(i) + ",\n" + updateCte(i)
        else assignCte(i)
      }.mkString(",\n")
      s"""WITH ex AS (
         |  SELECT vec_id,
         |    unnest(range(0, len(embedding))) AS dim,
         |    unnest(list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
         |      AS q
         |  FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cell, dim, q AS cval FROM ex
         |  WHERE vec_id < $K),
         |$chain
         |SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id,
         |  CAST(SUM(dist) AS BIGINT) AS inertia
         |FROM a$Iters GROUP BY cell ORDER BY cell""".stripMargin
    })
}
