package graft.apps

import graft.streaming.LogSplit
import graft.dws.DwsWindows
import graft.serving.ServingQueries
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-command layered warehouse demo — the sandbox analog of the
  * reference's end-to-end Kafka topology (topic_log → BaseLogApp's
  * topic-granular DWD splits → DWS windows → serving queries, ref
  * BaseLogApp.java:217-221): every layer is WRITTEN to disk and the
  * next layer READS IT BACK from disk (the "file bus"), exactly as the
  * Kafka deployment re-reads each topic — so the demo proves the layer
  * contracts, not just one fused in-memory plan.
  *
  * Layers written under `outDir`:
  *   ods_topic_log/            raw JSON lines (text, incl. dirty ones)
  *   dwd_traffic_{page,start,err,display,action}_log/   5-way split
  *   dwd_dirty/                dead-letter side output
  *   dwd_traffic_uv/           daily-unique-visitor detail
  *   dws_traffic_channel/      10 s channel windows, dt-partitioned
  *   ads_traffic_stats/        serving: channel stats for the demo day
  *   ads_channel_uv/           serving: per-channel UV rollup
  *
  * Run: `scripts/demo.sh [outDir]` (plain java against the compiled
  * classes + the Spark jars; no sbt startup).
  * Exits nonzero if ANY layer lands empty — the CI smoke contract
  * (LayeredDemoSpec runs the same chain through `runAll`).
  */
object LayeredDemo {

  /** The demo day (UTC) and a 10 s-aligned base instant within it. */
  val DemoDt = 20220429
  private val T0 = 1651234560000L // 2022-04-29 12:16:00 UTC

  /** Deterministic raw `topic_log` fixture: 3 channels × 4 mids × a
    * two-burst day; entries, follow-on pages, displays, actions, app
    * starts, one error event, and malformed dead-letter lines. */
  def fixtureLines: Seq[String] = {
    def common(mid: String, ch: String, isNew: String) =
      s""""common":{"ar":"110000","ch":"$ch","is_new":"$isNew","md":"m1",""" +
        s""""mid":"$mid","os":"android","uid":"u$mid","vc":"v2.1.134"}"""
    def page(id: String, last: String, dur: Long, extra: String = "") = {
      val lastJson = if (last == null) "null" else "\"" + last + "\""
      s""""page":{"during_time":$dur,"page_id":"$id","last_page_id":$lastJson$extra}"""
    }
    val chans = Seq("xiaomi", "huawei", "appstore")
    val lines = for {
      (ch, ci) <- chans.zipWithIndex
      m <- 0 until 4
      burst <- 0 until 2
    } yield {
      val mid = s"mid_${ch}_$m"
      val t = T0 + burst * 3600000L + ci * 10000L + m * 1000L
      val entry =
        s"""{${common(mid, ch, if (m == 0) "1" else "0")},""" +
          s"""${page("home", null, 800 + m * 100)},""" +
          s""""displays":[{"display_type":"activity","item":"${100 + m}",""" +
          s""""item_type":"activity_id","order":1,"pos_id":${m + 1}}],"ts":$t}"""
      val follow =
        s"""{${common(mid, ch, if (m == 0) "1" else "0")},""" +
          s"""${page("good_list", "home", 1200,
            s""","item":"iphone $m","item_type":"keyword"""")},""" +
          s""""actions":[{"action_id":"favor_add","item":"${m + 1}",""" +
          s""""item_type":"sku_id","ts":${t + 500}}],"ts":${t + 1000}}"""
      val start =
        s"""{${common(mid, ch, "0")},"start":{"entry":"icon",""" +
          s""""loading_time":${1000 + m},"open_ad_id":$m,"open_ad_ms":5000,""" +
          s""""open_ad_skip_ms":0},"ts":${t + 2000}}"""
      Seq(entry, follow, start)
    }
    val err =
      s"""{${common("mid_xiaomi_0", "xiaomi", "0")},""" +
        s"""${page("home", null, 100)},"err":{"error_code":2633,""" +
        s""""msg":" Exception in thread \\"main\\" "},"ts":${T0 + 5000}}"""
    lines.flatten ++ Seq(err, "garbage {", "{\"no\":\"log shape\"")
  }

  /** Runs the full chain; returns per-layer row counts (layer → rows). */
  def runAll(spark: SparkSession, outDir: String): Seq[(String, Long)] = {
    import spark.implicits._
    def path(layer: String) = s"$outDir/$layer"

    // ODS: raw lines land as text — the topic_log analog
    fixtureLines.toDF("value").coalesce(1)
      .write.mode("overwrite").text(path("ods_topic_log"))

    // DWD: re-read ODS from disk, parse, split 5 ways + dead-letter
    val raw = spark.read.text(path("ods_topic_log"))
      .withColumnRenamed("value", "value")
    val parsed = LogSplit.parse(raw)
    val splits = Seq(
      "dwd_traffic_page_log" -> LogSplit.pageLog(parsed),
      "dwd_traffic_start_log" -> LogSplit.startLog(parsed),
      "dwd_traffic_err_log" -> LogSplit.errLog(parsed),
      "dwd_traffic_display_log" -> LogSplit.displayLog(parsed),
      "dwd_traffic_action_log" -> LogSplit.actionLog(parsed),
      "dwd_dirty" -> LogSplit.dirty(parsed))
    splits.foreach { case (layer, df) =>
      df.write.mode("overwrite").parquet(path(layer))
    }

    // DWD UV detail: reads the PAGE layer back from disk
    val pages = spark.read.parquet(path("dwd_traffic_page_log"))
    TrafficPipeline.uniqueVisitors(pages)
      .write.mode("overwrite").parquet(path("dwd_traffic_uv"))

    // DWS: page beans ∪ UV beans (both layers re-read) → 10 s windows,
    // dt-partitioned parquet — the serving table
    val uv = spark.read.parquet(path("dwd_traffic_uv"))
    val beans = DwsWindows.trafficPageBean(
        spark.read.parquet(path("dwd_traffic_page_log")))
      .unionByName(DwsWindows.trafficUvBean(uv))
    val dwsDir = path("dws_traffic_channel")
    // overwrite semantics for the demo (writeDwsBatch appends)
    val fs = new java.io.File(dwsDir)
    if (fs.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(fs)
    }
    Sinks.writeDwsBatch(DwsWindows.trafficChannelPageView(beans), dwsDir)

    // ADS: serving queries over the dt-pruned dws table
    val dws = spark.read.parquet(dwsDir)
    ServingQueries.trafficChannelStats(dws, DemoDt)
      .write.mode("overwrite").parquet(path("ads_traffic_stats"))
    ServingQueries.sugarChannelUv(dws, DemoDt)
      .write.mode("overwrite").parquet(path("ads_channel_uv"))

    val layers = Seq("ods_topic_log") ++ splits.map(_._1) ++
      Seq("dwd_traffic_uv", "dws_traffic_channel",
        "ads_traffic_stats", "ads_channel_uv")
    layers.map { l =>
      val cnt =
        if (l == "ods_topic_log") spark.read.text(path(l)).count()
        else spark.read.parquet(path(l)).count()
      l -> cnt
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_demo"
    val spark = graft.GraftSession.start(
      graft.GraftSession.cli("local[8]", 8).appName("graft-layered-demo"))
    val counts = runAll(spark, outDir)
    counts.foreach { case (l, c) => println(f"$l%-28s $c%6d rows") }
    val empty = counts.filter(_._2 == 0L).map(_._1)
    spark.stop()
    if (empty.nonEmpty) {
      System.err.println(s"EMPTY LAYERS: ${empty.mkString(", ")}")
      sys.exit(1)
    }
    println(s"demo OK — all ${counts.size} layers non-empty under $outDir")
  }
}
