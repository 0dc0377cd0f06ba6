package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the missing piece of the ANN toolbox
  * next to LSH (q34), IVF flat/trained/multi-probe (q38/q39/q98/q93)
  * and scalar quantization (q129/q131):
  *
  *  - q170: PQ ENCODE — the 64-dim vector split into M=4 subspaces of
  *    16 dims; each subvector mapped to the nearest of K=16 codewords;
  *    a vector compresses to 4 code bytes (64× smaller than fp32).
  *  - q171: ADC SEARCH — asymmetric distance computation: the query
  *    precomputes a 4×16 distance table against the codebook; a
  *    database vector's approximate distance is 4 table lookups + a
  *    sum. Output: approx top-10 with true distances and exact-top-10
  *    membership (the recall readout).
  *
  * Engine-exactness: all distances are computed in the milli-quantized
  * integer space (`floor(x·1000)` per dimension — the proven q93/q129
  * device), so every compare and sum is BIGINT in both engines. The
  * codebook is data-sampled (the subvectors of vec_id 1..16) rather
  * than k-means-trained — deterministic and engine-identical; the
  * trained-codebook upgrade is exactly q93's integer k-means step
  * applied per subspace. Argmin carries a PACKED dist·K+code long so
  * the aggregate stays hash-aggregable (the q156 lesson).
  *
  * Scale (100 TB): encode is a projection + a broadcast join against
  * a 64-row codebook and one hash aggregate on (vec_id, sub) — no
  * all-pairs anything. ADC joins the 4-row-per-vector code table
  * against a broadcast 64-entry distance table and sums: the scan is
  * code-bytes wide, not vector-wide — which is the entire point of PQ
  * at scale (RAM-resident codes, one cache line per vector).
  *
  * Ref: serving-side nearest-neighbor lookups in the reference are
  * Phoenix point queries (DimUtil.java:26-60); PQ is how the same
  * lookup survives when the "table" is a billion embeddings.
  */
object PqOps extends graft.QueryPack {

  private val M = 4      // subspaces
  private val Sub = 16   // dims per subspace
  private val K = 16     // codewords per subspace (vec_id 1..K sampled)

  /** (vec_id, sub, qv): milli-quantized subvectors, M rows per vector. */
  private def subvectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${M - 1}), s -> struct(s AS sub, " +
          s"transform(slice(embedding, s*$Sub + 1, $Sub), " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv))"))
        .as("e"))
      .select(col("vec_id"), col("e.sub").cast("long").as("sub"),
        col("e.qv").as("qv"))

  /** Codebook: (sub, cw, cbv) — K codewords per subspace, sampled from
    * vec_id 1..K. 64 rows total; always broadcast. */
  private def codebook(s: SparkSession, d: String): DataFrame =
    subvectors(s, d)
      .filter(col("vec_id").between(1, K))
      .select(col("sub"), (col("vec_id") - 1).as("cw"), col("qv").as("cbv"))

  private def l2(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "0L, (acc, v) -> acc + v)")

  /** Packed argmin over the K candidate codewords of one (vec, sub):
    * dist·K + cw — dist is ≤ Sub·(milli-diff)², far inside long range,
    * and packing keeps the aggregate a hash-aggregable MIN(LONG). */
  private def encodeCore(s: SparkSession, d: String): DataFrame =
    subvectors(s, d)
      .join(broadcast(codebook(s, d)), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        (l2("qv", "cbv") * K + col("cw")).as("packed"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("packed")).as("p"))
      .select(col("vec_id"), col("sub"),
        (col("p") % K).as("code"), expr(s"p div $K").as("qerr"))

  /** q170: (vec_id, sub, code, qerr) — the PQ code table. */
  def pqEncode(s: SparkSession, d: String): DataFrame = encodeCore(s, d)

  /** q171: ADC top-10 for query vec_id=0 → (vec_id, approx_l2,
    * true_l2, in_exact_topk). */
  def pqAdcSearch(s: SparkSession, d: String): DataFrame = {
    val qsub = subvectors(s, d).filter(col("vec_id") === 0)
      .select(col("sub"), col("qv").as("qsv"))
    // the 4×16 ADC table — built from two broadcast-sized frames
    val adc = qsub.join(codebook(s, d), Seq("sub"))
      .select(col("sub"), col("cw").as("code"), l2("qsv", "cbv").as("qdist"))
    val approx = encodeCore(s, d)
      .filter(col("vec_id") =!= 0)
      .join(broadcast(adc), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qdist")).as("approx_l2"))
    // exact distances in the same quantized space (for the readout)
    val qfull = Tables.embeddings(s, d).filter(col("vec_id") === 0).limit(1)
      .select(expr("transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qvec"))
    val exact = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qfull))
      .select(col("vec_id"),
        l2("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) " +
          "AS BIGINT))", "qvec").as("true_l2"))
    val exactTop = exact.orderBy(col("true_l2"), col("vec_id")).limit(10)
      .select(col("vec_id"), lit(1L).as("hit"))
    approx.join(exact, Seq("vec_id"))
      .join(broadcast(exactTop), Seq("vec_id"), "left")
      .select(col("vec_id"), col("approx_l2"), col("true_l2"),
        (coalesce(col("hit"), lit(0L)) === 1L).as("in_exact_topk"))
      .orderBy(col("approx_l2"), col("vec_id"))
      .limit(10)
  }

  /** q172: one exact Lloyd refinement of the sampled codebook, per
    * subspace — the "trained PQ" step (the q93 integer-k-means
    * convention: new centroid dim = sum div n, so the refined
    * codebook is BIGINT and engine-identical; codewords that lose
    * all members drop out, mirrored in both engines). Output per
    * subspace: total quantization error before and after, and the
    * improvement flag — Lloyd's monotonicity, stated as data. */
  def pqTrain(s: SparkSession, d: String): DataFrame = {
    val sv = subvectors(s, d)
    val enc0 = encodeCore(s, d)
    val cents = sv.join(enc0.select("vec_id", "sub", "code"),
        Seq("vec_id", "sub"))
      .select(col("sub"), col("code"),
        posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg(expr("sum(q) div count(1)").as("c"))
    val cb2 = cents.groupBy(col("sub"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
        "x -> x.c)").as("cbv"))
      .select(col("sub"), col("code").as("cw"), col("cbv"))
    val enc1 = sv.join(broadcast(cb2), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        (l2("qv", "cbv") * K + col("cw")).as("packed"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("packed")).as("p"))
      .select(col("sub"), expr(s"p div $K").as("qerr1"))
    enc0.groupBy(col("sub")).agg(sum(col("qerr")).as("qerr_seed"))
      .join(enc1.groupBy(col("sub")).agg(sum(col("qerr1")).as("qerr_trained")),
        Seq("sub"))
      .select(col("sub"), col("qerr_seed"), col("qerr_trained"),
        (col("qerr_trained") <= col("qerr_seed")).as("improved"))
  }

  /** q177: nearest-centroid classification over the labeled
    * embeddings (Rocchio) — per-label integer centroids (sum div n
    * per dim, the q172 device), every vector assigned to its nearest
    * centroid, confusion matrix out. The train/eval loop of a cheap
    * supervised probe, engine-exact end to end.
    *
    * Scale: centroid table = labels×dims (broadcast); classification
    * is a projection against it plus one packed argmin; confusion is
    * a labels²-bounded aggregate. */
  def nearestCentroid(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
    val cents = q
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "qd")))
      .groupBy(col("label"), col("dim"))
      .agg(expr("sum(qd) div count(1)").as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
        "x -> x.c)").as("cv"))
      .select(col("label").as("clabel"), col("cv"))
    // packed argmin: dist·16 + clabel (10 labels < 16)
    q.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"),
        (l2("qv", "cv") * 16 + col("clabel")).as("packed"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("packed")).as("p"))
      .select(col("label"), (col("p") % 16).as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** q207: signed cosine² between label centroids in ppm — the
    * class-separation readout of an embedding space (are the label
    * clusters angularly distinct?). Centroids stay UNNORMALIZED
    * component sums (cosine is scale-invariant, so dividing by counts
    * would only add a rounding step); cos² carried as the exact
    * rational dot²·10⁶ div (‖a‖²·‖b‖²) with the sign of the dot —
    * sqrt never happens, everything stays integral (component sums ≤
    * 10⁶·n_vecs, so dot² ≤ ~10²⁷ ≪ the DECIMAL(38)/HUGEINT range).
    *
    * Scale: one posexplode scan → per-(label, j) sums (map-side
    * combinable, labels×dims rows out); everything after runs on the
    * labels×dims frame — the label-pair join is K²·dims at worst. */
  def centroidSim(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(expr("transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")))
      .select(col("label"), (col("pos") + 1).as("j"), col("col").as("m"))
    val cen = q.groupBy(col("label"), col("j")).agg(sum(col("m")).as("cs"))
    val norms = cen.groupBy(col("label"))
      .agg(sum(expr("CAST(cs AS DECIMAL(38,0)) * cs")).as("nn"))
    val dots = cen.as("a").join(cen.as("b"),
        col("a.j") === col("b.j") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(expr("CAST(a.cs AS DECIMAL(38,0)) * b.cs")).as("dot"))
    dots
      .join(norms.select(col("label").as("label_a"), col("nn").as("na")),
        "label_a")
      .join(norms.select(col("label").as("label_b"), col("nn").as("nb")),
        "label_b")
      .select(col("label_a"), col("label_b"),
        expr("CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)" +
          " * dot * dot * 1000000 div (na * nb) AS BIGINT)")
          .as("cos2_signed_ppm"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_pq_encode" -> pqEncode,
    "q171_pq_adc" -> pqAdcSearch,
    "q172_pq_train" -> pqTrain,
    "q177_nearest_centroid" -> nearestCentroid,
    "q207_centroid_sim" -> centroidSim)

  private val subCte =
    s"""sv AS (
       |  SELECT vec_id, s AS sub,
       |    list_transform(embedding[s*$Sub + 1 : s*$Sub + $Sub],
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM (SELECT vec_id, embedding, unnest(range(0, $M)) AS s
       |        FROM embeddings)),
       |cb AS (
       |  SELECT sub, vec_id - 1 AS cw, qv AS cbv FROM sv
       |  WHERE vec_id BETWEEN 1 AND $K)""".stripMargin

  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Sub + 1}), " +
      s"j -> ($a[j] - $b[j]) * ($a[j] - $b[j])))"

  private val encodeCte =
    s"""enc AS (
       |  SELECT vec_id, sub, cw AS code, dist AS qerr FROM (
       |    SELECT sv.vec_id, sv.sub, cb.cw,
       |      ${l2Sql("sv.qv", "cb.cbv")} AS dist,
       |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
       |        ORDER BY ${l2Sql("sv.qv", "cb.cbv")}, cb.cw) AS rn
       |    FROM sv JOIN cb USING (sub))
       |  WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q207_centroid_sim" ->
      s"""WITH qv AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |jd AS (SELECT unnest(range(1, ${M * Sub + 1})) AS j),
         |cen AS (
         |  SELECT label, j, CAST(SUM(qv[j]) AS BIGINT) AS cs
         |  FROM qv CROSS JOIN jd GROUP BY label, j),
         |norms AS (
         |  SELECT label, SUM(CAST(cs AS HUGEINT) * cs) AS nn
         |  FROM cen GROUP BY label),
         |dots AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |    SUM(CAST(a.cs AS HUGEINT) * b.cs) AS dot
         |  FROM cen a JOIN cen b ON a.j = b.j AND a.label < b.label
         |  GROUP BY 1, 2)
         |SELECT label_a, label_b,
         |  CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) * dot * dot
         |    * 1000000 // (na.nn * nb.nn) AS BIGINT) AS cos2_signed_ppm
         |FROM dots JOIN norms na ON label_a = na.label
         |  JOIN norms nb ON label_b = nb.label
         |ORDER BY label_a, label_b""".stripMargin,
    "q177_nearest_centroid" ->
      s"""WITH qv AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |jd AS (SELECT unnest(range(1, ${M * Sub + 1})) AS j),
         |cent AS (
         |  SELECT label, j, CAST(SUM(qv[j]) // COUNT(*) AS BIGINT) AS c
         |  FROM qv CROSS JOIN jd GROUP BY label, j),
         |cv AS (
         |  SELECT label AS clabel, list(c ORDER BY j) AS cv
         |  FROM cent GROUP BY label),
         |dist AS (
         |  SELECT q.vec_id, q.label, cv.clabel,
         |    list_sum(list_transform(range(1, ${M * Sub + 1}),
         |      j -> (q.qv[j] - cv.cv[j]) * (q.qv[j] - cv.cv[j]))) AS dd
         |  FROM qv q CROSS JOIN cv),
         |pick AS (
         |  SELECT vec_id, label, clabel AS pred FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dd, clabel) AS rn FROM dist) WHERE rn = 1)
         |SELECT label, pred, COUNT(*) AS n_vecs
         |FROM pick GROUP BY label, pred""".stripMargin,
    "q172_pq_train" ->
      s"""WITH $subCte,
         |$encodeCte,
         |js AS (SELECT unnest(range(1, ${Sub + 1})) AS j),
         |cents AS (
         |  SELECT sub, code, j,
         |    CAST(SUM(qv[j]) // COUNT(*) AS BIGINT) AS c
         |  FROM sv JOIN enc USING (vec_id, sub) CROSS JOIN js
         |  GROUP BY sub, code, j),
         |cb2 AS (
         |  SELECT sub, code AS cw, list(c ORDER BY j) AS cbv
         |  FROM cents GROUP BY sub, code),
         |enc1 AS (
         |  SELECT vec_id, sub, dist AS qerr1 FROM (
         |    SELECT sv.vec_id, sv.sub, cb2.cw,
         |      ${l2Sql("sv.qv", "cb2.cbv")} AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
         |        ORDER BY ${l2Sql("sv.qv", "cb2.cbv")}, cb2.cw) AS rn
         |    FROM sv JOIN cb2 USING (sub))
         |  WHERE rn = 1),
         |a AS (SELECT sub, CAST(SUM(qerr) AS BIGINT) AS qerr_seed
         |      FROM enc GROUP BY sub),
         |b AS (SELECT sub, CAST(SUM(qerr1) AS BIGINT) AS qerr_trained
         |      FROM enc1 GROUP BY sub)
         |SELECT a.sub, a.qerr_seed, b.qerr_trained,
         |  b.qerr_trained <= a.qerr_seed AS improved
         |FROM a JOIN b USING (sub)""".stripMargin,
    "q170_pq_encode" ->
      s"""WITH $subCte,
         |$encodeCte
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub,
         |  CAST(code AS BIGINT) AS code, CAST(qerr AS BIGINT) AS qerr
         |FROM enc""".stripMargin,
    "q171_pq_adc" ->
      s"""WITH $subCte,
         |$encodeCte,
         |adc AS (
         |  SELECT cb.sub, cb.cw AS code,
         |    ${l2Sql("q.qv", "cb.cbv")} AS qdist
         |  FROM (SELECT sub, qv FROM sv WHERE vec_id = 0) q
         |  JOIN cb USING (sub)),
         |approx AS (
         |  SELECT e.vec_id, CAST(SUM(a.qdist) AS BIGINT) AS approx_l2
         |  FROM enc e JOIN adc a ON a.sub = e.sub AND a.code = e.code
         |  WHERE e.vec_id <> 0 GROUP BY e.vec_id),
         |fullq AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qvec
         |  FROM embeddings WHERE vec_id = 0),
         |ex AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(1, ${M * Sub + 1}),
         |      j -> (fv[j] - qvec[j]) * (fv[j] - qvec[j]))) AS true_l2
         |  FROM (SELECT vec_id, list_transform(embedding,
         |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS fv
         |        FROM embeddings WHERE vec_id <> 0)
         |  CROSS JOIN fullq),
         |ext AS (
         |  SELECT vec_id FROM ex ORDER BY true_l2, vec_id LIMIT 10)
         |SELECT a.vec_id, a.approx_l2, CAST(e.true_l2 AS BIGINT) AS true_l2,
         |  (t.vec_id IS NOT NULL) AS in_exact_topk
         |FROM approx a
         |JOIN ex e ON e.vec_id = a.vec_id
         |LEFT JOIN ext t ON t.vec_id = a.vec_id
         |ORDER BY a.approx_l2, a.vec_id LIMIT 10""".stripMargin)
}
