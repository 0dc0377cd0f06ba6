package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Query contract — see SURVEY.md §7.
  *
  * `packs` is the one query registry: `queries` aggregates every pack's
  * queries and `oracleSql` their DuckDB oracle twins, which carry
  * identical column aliases — the oracle compare sorts columns by name
  * and hash-compares values. Both are built once; a key that two packs
  * define fails the build instead of silently shadowing one of them.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every operator pack from SURVEY.md §2, each named once. */
  val packs: Seq[QueryPack] = Seq(
    Relational, TimeAnalytics, TextOps, VectorOps, SimHashIvf, Extended,
    DataPrep, Extended2, Extended3, Advanced, WindowKinds, CorpusOps,
    Extended4, Extended5, Extended6, SimHashPairs, serving.ServingPack,
    dwd.DwdPack, SetOps, Robustness, Profiling, RankingOps, PipelineOps,
    CurationOps, PackingOps, SelectionOps, SuffixOps, LmOps, IncrementalOps,
    RetrievalOps, ComplianceOps, SegmentOps, GraphOps, LayoutOps, StoreOps,
    PqOps, TimeSeriesOps, AnalyticsOps, SketchOps, BusinessOps, StatsOps,
    AuditOps, SqlSurface, WarehouseOps, FeatureOps, IntervalOps,
    GovernanceOps, CustomerValueOps, ReadabilityOps, EntityResolutionOps,
    EventJoinOps, CorpusAuditOps, RevenueOps, KmeansOps, SequentialOps,
    BandOps, AllocOps, DensityOps, MomentsOps, DriftOps, CurveOps,
    TpchClassics, TpchClassics2, TrainPrepOps, CorpusSplitOps, EngagementOps,
    TrustOps, EvalOps, ScaleOps, GraphScaleOps, AutoCorrOps)

  /** One entry per implemented operator. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(packs.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check. */
  lazy val oracleSql: Map[String, String] = merged(packs.map(_.oracle))

  private def merged[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = m.keySet.intersect(acc.keySet)
      require(dup.isEmpty, s"keys defined by two packs: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}
