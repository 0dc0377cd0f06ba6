package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-maintenance / data-layout operators — the ops tooling a
  * 100 TB corpus store runs between queries:
  *
  *  - q160: snapshot diff (added / removed / changed / unchanged
  *    between two corpus versions) — the audit step of every
  *    incremental ingestion (Delta/Iceberg snapshot compare shape).
  *  - q161: join-key skew profile — per-key count distribution
  *    (exact discrete percentiles, heavy key, skew ratio), the
  *    diagnostic that decides when q123's salting / AQE skew join is
  *    warranted.
  *  - q162: Z-order layout audit — interleaved-bit clustering of two
  *    dimensions into range buckets, with per-bucket min/max envelopes
  *    and a probe-box hit count showing the data-skipping win
  *    (the OPTIMIZE ZORDER decision, stated as a query).
  *
  * Ref: the reference operates ClickHouse tables whose ORDER BY key
  * is exactly this layout decision (gmall-publisher sugar queries
  * group on the table's layout key); the skew diagnostic pairs with
  * the reference's keyed-state hot-key concerns
  * (DwdTrafficUniqueVisitorDetail.java:60-109).
  *
  * Scale (100 TB): q160 is one full-outer hash join on the snapshot
  * key plus a 4-group aggregate. q161 never sorts the key table: the
  * distribution is reduced to counts-of-counts (rows = distinct
  * per-key counts, a tiny domain), and the only window runs over that
  * bounded frame; percentile selection is a conditional min against
  * the cumulative sum. q162 is a single map-side projection (the bit
  * interleave is pure integer arithmetic, codegen'd) followed by a
  * 64-group aggregate — no shuffle beyond the final groupBy.
  */
object LayoutOps extends graft.QueryPack {

  // ---- q160: snapshot diff ------------------------------------------

  /** Deterministic "next crawl" derivation: drop doc_id%17==3, rewrite
    * text for doc_id%13==5, add +1e6-shifted copies of doc_id%29==7.
    * Carries (doc_id, text, source). */
  private def newSnapshot(docs: DataFrame): DataFrame = docs
    .filter(col("doc_id") % 17 =!= 3)
    .select(col("doc_id"),
      when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
        .otherwise(col("text")).as("text"),
      col("source"))
    .unionByName(docs.filter(col("doc_id") % 29 === 7)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("source")))

  /** q160: (status, n_docs, min_doc, max_doc) over the full-outer
    * compare of the two snapshots' content hashes. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val oldS = docs.select(col("doc_id"), md5(col("text")).as("h_old"))
    val newS = newSnapshot(docs)
      .select(col("doc_id"), md5(col("text")).as("h_new"))
    oldS.join(newS, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  /** q164: the snapshot diff emitted as a CDC changelog — one
    * Maxwell-style row per mutation (op ∈ insert/update/delete,
    * before/after content hash; unchanged rows emit nothing). The
    * reference CONSUMES this envelope from its binlog reader
    * (BaseDBApp's Maxwell topic_db stream); snapshot diffing is how
    * the same stream is produced when no binlog exists. */
  def changelogEmit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val oldS = docs.select(col("doc_id"), md5(col("text")).as("h_old"))
    val newS = newSnapshot(docs)
      .select(col("doc_id"), md5(col("text")).as("h_new"))
    oldS.join(newS, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "insert")
          .when(col("h_new").isNull, "delete")
          .when(col("h_old") =!= col("h_new"), "update").as("op"),
        col("h_old").as("before_hash"), col("h_new").as("after_hash"))
      .filter(col("op").isNotNull)
  }

  /** q167: incremental aggregate maintenance — the reference's P3
    * delta semantics (`if(insert, n, n − old)`,
    * DwdTradeCartAdd:29-55) applied batch-at-a-time: per-source
    * (docs, chars) aggregates of the NEW snapshot computed WITHOUT
    * rescanning it, as base aggregate ⊕ changelog deltas (insert:
    * +1/+len(after); delete: −1/−len(before); update: 0/len diff).
    * The oracle recomputes directly from the new snapshot — the hash
    * match IS the delta-maintenance ≡ recompute theorem for this
    * aggregate family.
    *
    * Scale: base aggregates are table-maintenance state (sources-sized);
    * the delta pass touches ONLY the changelog — at 100 TB the rescan
    * this avoids is the whole point. */
  /** Base-snapshot aggregates — the maintenance state q167 starts
    * from (also the initial state of the streaming twin,
    * [[graft.streaming.MaterializedAgg]]). */
  private[graft] def baseAggregates(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(length(col("text"))).as("chars"))

  /** Row-level changelog deltas (source, d_docs, d_chars) — one row
    * per mutation, the input both q167 and the streaming twin fold. */
  private[graft] def changelogDeltas(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val oldV = docs.select(col("doc_id"), col("source").as("src_old"),
      length(col("text")).as("len_old"))
    val newV = newSnapshot(docs).select(col("doc_id"),
      col("source").as("src_new"), length(col("text")).as("len_new"))
    oldV.join(newV, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("src_old").isNull, 1L)
          .when(col("src_new").isNull, -1L).otherwise(0L).as("d_docs"),
        (coalesce(col("len_new"), lit(0)).cast("long") -
          coalesce(col("len_old"), lit(0)).cast("long")).as("d_chars"))
  }

  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val base = baseAggregates(s, d)
    val delta = changelogDeltas(s, d)
      .groupBy(col("source"))
      .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_chars")).as("d_chars"))
    base.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
          .as("n_chars"))
      .filter(col("n_docs") > 0)
  }

  private val RangeParts = 32

  /** q169: exact balanced range-partition planner — the boundary
    * computation behind repartitionByRange/RangePartitioner, done
    * exactly instead of by reservoir sampling: cut points are true
    * order statistics of the sort column, derived from a value
    * histogram (counts-of-counts device, q161) so the corpus is never
    * globally sorted. Boundary q = smallest value whose cumulative
    * count ≥ ceil(q·N/32); a row's partition = #{boundaries < value}.
    * Output: one row per non-empty planned partition with its actual
    * extent and row count — the imbalance audit. */
  def rangePlanner(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.documents(s, d).select(col("n_chars").as("v"))
    val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("freq"))
    val cum = hist.withColumn("cum",
      sum(col("freq")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = vals.agg(count(lit(1)).as("n_rows"))
    // 31 cut points from the bounded histogram: qth = min v with
    // cum ≥ ceil(q·N/32)
    val bounds = cum.crossJoin(broadcast(n))
      .select(explode(expr(s"transform(sequence(1, ${RangeParts - 1}), " +
        "q -> struct(q as q, CASE WHEN cum * " + RangeParts +
        " >= q * n_rows THEN v END as b))")).as("e"))
      .filter(col("e.b").isNotNull)
      .groupBy(col("e.q").as("q")).agg(min(col("e.b")).as("b"))
      .agg(sort_array(collect_list(col("b"))).as("bs"))
    vals.crossJoin(broadcast(bounds))
      .select(col("v"),
        expr("CAST(size(filter(bs, b -> b < v)) AS BIGINT)").as("part_id"))
      .groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  // ---- q161: join-key skew profile ----------------------------------

  /** q161: one-row skew diagnostic for orders.o_custkey. Percentiles
    * are exact discrete order statistics over per-key counts: the
    * value at 0-based index floor((n_keys−1)·p/100) of the ascending
    * count list, selected via counts-of-counts cumulative sums so the
    * key table itself is never globally sorted. */
  def skewProfile(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    val coc = counts.groupBy(col("cnt")).agg(count(lit(1)).as("freq"))
    // the window frame is the counts-of-counts table: |distinct count
    // values| rows — bounded regardless of key cardinality
    val cum = coc.withColumn("cum",
      sum(col("freq")).over(Window.orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_rows"),
        max(struct(col("cnt"), (-col("o_custkey")).as("nk"))).as("top"))
      .select(col("n_keys"), col("total_rows"),
        col("top.cnt").as("max_cnt"), (-col("top.nk")).as("top_key"))
    def pct(p: Int) =
      min(when(col("cum") >= expr(s"((n_keys - 1) * $p) div 100") + 1,
        col("cnt")))
    cum.crossJoin(broadcast(tot))
      .agg(min(col("n_keys")).as("n_keys"),
        min(col("total_rows")).as("total_rows"),
        min(col("max_cnt")).as("max_cnt"),
        min(col("top_key")).as("top_key"),
        pct(50).as("p50_cnt"), pct(90).as("p90_cnt"), pct(99).as("p99_cnt"))
      .withColumn("skew_x_ppm",
        expr("(max_cnt * n_keys * 1000000L) div total_rows"))
  }

  // ---- q162: Z-order layout audit -----------------------------------

  /** Morton interleave of two 8-bit dims as portable integer
    * arithmetic (identical text in the DuckDB oracle — no engine
    * bit-operator dialects): bit i of x lands at 2i, of y at 2i+1. */
  private def zFormula(x: String, y: String): String =
    (0 until 8).map { i =>
      s"(($x div ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + (($y div ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** q162: 64 Z-range buckets over (l_partkey%256, l_suppkey%256) with
    * min/max envelopes per bucket and the probe box x,y ∈ [0,15] —
    * buckets whose envelope misses the box would be skipped by a
    * min/max-indexed scan. */
  def zorderLayout(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
      .withColumn("bucket", expr(s"(${zFormula("x", "y")}) div 1024"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        sum(when(col("x") <= 15 && col("y") <= 15, 1L).otherwise(0L))
          .as("box_rows"))
      .withColumn("probe_hit",
        col("min_x") <= 15 && col("max_x") >= 0 &&
          col("min_y") <= 15 && col("max_y") >= 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q160_snapshot_diff" -> snapshotDiff,
    "q164_changelog_emit" -> changelogEmit,
    "q167_incremental_agg" -> incrementalAgg,
    "q169_range_planner" -> rangePlanner,
    "q161_skew_profile" -> skewProfile,
    "q162_zorder_layout" -> zorderLayout)

  val oracle: Map[String, String] = Map(
    "q160_snapshot_diff" ->
      """WITH olds AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents),
        |news AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END)
        |      AS h_new
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_new
        |  FROM documents WHERE doc_id % 29 = 7),
        |j AS (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.h_old IS NULL THEN 'added'
        |         WHEN n.h_new IS NULL THEN 'removed'
        |         WHEN o.h_old <> n.h_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
        |SELECT status, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM j GROUP BY status""".stripMargin,
    "q164_changelog_emit" ->
      """WITH olds AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents),
        |news AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END)
        |      AS h_new
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_new
        |  FROM documents WHERE doc_id % 29 = 7)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.h_old IS NULL THEN 'insert'
        |       WHEN n.h_new IS NULL THEN 'delete'
        |       WHEN o.h_old <> n.h_new THEN 'update' END AS op,
        |  o.h_old AS before_hash, n.h_new AS after_hash
        |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
        |WHERE NOT (o.h_old IS NOT NULL AND n.h_new IS NOT NULL
        |  AND o.h_old = n.h_new)""".stripMargin,
    // the oracle RECOMPUTES from the new snapshot — the equivalence of
    // the two computation paths is the correctness statement
    "q167_incremental_agg" ->
      """WITH news AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 29 = 7)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS n_chars
        |FROM news GROUP BY source""".stripMargin,
    "q169_range_planner" ->
      s"""WITH vals AS (SELECT n_chars AS v FROM documents),
         |hist AS (SELECT v, COUNT(*) AS freq FROM vals GROUP BY v),
         |cum AS (
         |  SELECT v, SUM(freq) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist),
         |n AS (SELECT COUNT(*) AS tot FROM vals),
         |qs AS (SELECT unnest(range(1, $RangeParts)) AS q),
         |b AS (
         |  SELECT q, MIN(v) AS b
         |  FROM cum CROSS JOIN n CROSS JOIN qs
         |  WHERE cum * $RangeParts >= q * tot
         |  GROUP BY q),
         |parts AS (
         |  SELECT v,
         |    (SELECT COUNT(*) FROM b WHERE b.b < vals.v) AS part_id
         |  FROM vals)
         |SELECT part_id, COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
         |FROM parts GROUP BY part_id""".stripMargin,
    "q161_skew_profile" ->
      """WITH counts AS (
        |  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
        |coc AS (SELECT cnt, COUNT(*) AS freq FROM counts GROUP BY cnt),
        |cum AS (
        |  SELECT cnt, SUM(freq) OVER (ORDER BY cnt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM coc),
        |tot AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |    MAX(cnt) AS max_cnt
        |  FROM counts),
        |tk AS (
        |  SELECT o_custkey AS top_key FROM counts
        |  ORDER BY cnt DESC, o_custkey LIMIT 1)
        |SELECT t.n_keys, t.total_rows, t.max_cnt, tk.top_key,
        |  CAST(MIN(CASE WHEN cum >= ((t.n_keys - 1) * 50) // 100 + 1
        |    THEN cnt END) AS BIGINT) AS p50_cnt,
        |  CAST(MIN(CASE WHEN cum >= ((t.n_keys - 1) * 90) // 100 + 1
        |    THEN cnt END) AS BIGINT) AS p90_cnt,
        |  CAST(MIN(CASE WHEN cum >= ((t.n_keys - 1) * 99) // 100 + 1
        |    THEN cnt END) AS BIGINT) AS p99_cnt,
        |  CAST((t.max_cnt * t.n_keys * 1000000) // t.total_rows AS BIGINT)
        |    AS skew_x_ppm
        |FROM cum CROSS JOIN tot t CROSS JOIN tk
        |GROUP BY t.n_keys, t.total_rows, t.max_cnt, tk.top_key""".stripMargin,
    "q162_zorder_layout" -> {
      val z = (0 until 8).map { i =>
        s"((x // ${1L << i}) % 2) * ${1L << (2 * i)}" +
          s" + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      s"""WITH pts AS (
         |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         |z AS (SELECT x, y, ($z) // 1024 AS bucket FROM pts)
         |SELECT bucket, COUNT(*) AS n_rows,
         |  MIN(x) AS min_x, MAX(x) AS max_x,
         |  MIN(y) AS min_y, MAX(y) AS max_y,
         |  CAST(SUM(CASE WHEN x <= 15 AND y <= 15 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS box_rows,
         |  (MIN(x) <= 15 AND MAX(x) >= 0 AND MIN(y) <= 15 AND MAX(y) >= 0)
         |    AS probe_hit
         |FROM z GROUP BY bucket""".stripMargin
    })
}
