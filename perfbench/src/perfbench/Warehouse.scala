package perfbench

import graft.apps.{Soak, TrafficPipeline}
import graft.dim.DimRouter
import graft.dwd.DwdDb
import graft.dws.{DwsJobs, DwsWindows}
import graft.serving.ServingQueries
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.{KeyedEvent, LogSplit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch leg's layers as frame functions. `pass` writes each layer to
  * disk and feeds the next layer what it reads back; `twinAds` composes the
  * same functions with no disk round trip. */
object Warehouse {

  val Layers: Seq[String] = Seq("dwd_log", "dwd_uv", "dwd_db", "dim", "dws", "ads")

  def readCfg(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("source_table STRING, sink_table STRING, " +
      "sink_columns STRING, sink_pk STRING").json(path)

  /** DWD log split of `parsed` (LogSplit.parse output). */
  def dwdLog(parsed: DataFrame): Seq[(String, DataFrame)] =
    Seq("dwd_traffic_page_log" -> LogSplit.pageLog(parsed),
      "dwd_traffic_start_log" -> LogSplit.startLog(parsed),
      "dwd_traffic_err_log" -> LogSplit.errLog(parsed),
      "dwd_traffic_display_log" -> LogSplit.displayLog(parsed),
      "dwd_traffic_action_log" -> LogSplit.actionLog(parsed),
      "dwd_dirty" -> LogSplit.dirty(parsed))

  /** DWD business facts of `db` (Sources.topicDb output). */
  def dwdDb(db: DataFrame): Seq[(String, DataFrame)] = {
    val dic = Soak.baseDic(db.sparkSession)
    Seq("dwd_trade_order_detail" -> DwdDb.orderDetail(db, dic),
      "dwd_trade_pay_detail_suc" -> DwdDb.payDetailSuc(db, dic),
      "dwd_trade_order_refund" -> DwdDb.orderRefund(db, dic),
      "dwd_user_register" -> DwdDb.userRegister(db))
  }

  def dimFrames(db: DataFrame, cfg: DataFrame): Map[String, DimRouter.DimFrame] =
    DimRouter.dimFrames(DimRouter.route(db, cfg), DimRouter.parseConfig(cfg))

  /** DWS windows over the DWD tables (`t`) and the DIM snapshots (`dim`). */
  def dws(t: String => DataFrame, dim: String => DataFrame): Seq[(String, DataFrame)] = {
    val pages = t("dwd_traffic_page_log")
    val detail = t("dwd_trade_order_detail")
    val spark = pages.sparkSession
    import spark.implicits._
    val logins = pages.filter(col("common.uid").isNotNull && col("page.last_page_id").isNull)
      .select(col("common.uid").as("key"), col("ts"), col("common.mid").as("payload"))
      .as[KeyedEvent]
    val snowflake = Seq("dim_sku_info", "dim_spu_info", "dim_base_trademark",
      "dim_base_category3", "dim_base_category2", "dim_base_category1").map(dim)
    Seq(
      "dws_traffic_channel" -> DwsWindows.trafficChannelPageView(
        DwsWindows.trafficPageBean(pages).unionByName(DwsWindows.trafficUvBean(t("dwd_traffic_uv")))),
      "dws_traffic_keyword" -> DwsJobs.keywordPageView(pages),
      "dws_traffic_page_view" -> DwsJobs.homeDetailPageView(pages),
      "dws_user_login" -> DwsJobs.userLogin(logins),
      "dws_user_register" -> DwsJobs.userRegister(t("dwd_user_register")),
      "dws_trade_order" -> DwsJobs.tradeOrder(detail),
      "dws_trade_province" -> DwsWindows.provinceOrderWindowNamed(
        detail.withColumn("event_time", timestamp_seconds(col("ts"))), dim("dim_base_province")),
      "dws_trade_tm_order" -> (DwsJobs.tmCategoryUserSpuOrder(detail, snowflake(0), snowflake(1),
        snowflake(2), snowflake(3), snowflake(4), snowflake(5))),
      "dws_trade_tm_refund" -> (DwsJobs.tmCategoryUserRefund(t("dwd_trade_order_refund"),
        snowflake(0), snowflake(1), snowflake(2), snowflake(3), snowflake(4), snowflake(5))),
      "dws_trade_payment" -> DwsJobs.paymentSuc(t("dwd_trade_pay_detail_suc")))
  }

  /** The 14 dashboard endpoints over the DWS tables for one `date`. */
  val Endpoints: Seq[(String, (String => DataFrame, Int) => DataFrame)] = Seq(
    "tradeStats" -> ((d, dt) => ServingQueries.tradeStats(d("dws_trade_order"), dt)),
    "provinceOrder" -> ((d, dt) => ServingQueries.provinceOrder(d("dws_trade_province"), dt)),
    "trafficChannelStats" -> ((d, dt) => ServingQueries.trafficChannelStats(d("dws_traffic_channel"), dt)),
    "keywords" -> ((d, dt) => ServingQueries.keywords(d("dws_traffic_keyword"), dt)),
    "visitorPerType" -> ((d, dt) => ServingQueries.visitorPerType(d("dws_traffic_channel"), dt)),
    "visitorPerHr" -> ((d, dt) => ServingQueries.visitorPerHr(d("dws_traffic_channel"), dt)),
    "commodityTrademarkStats" -> ((d, dt) => ServingQueries.commodityTrademarkStats(
      d("dws_trade_tm_order"), d("dws_trade_tm_refund"), dt)),
    "activityStats" -> ((d, dt) => ServingQueries.activityStats(d("dws_trade_order"), dt)),
    "userChange" -> ((d, dt) => ServingQueries.userChange(d("dws_user_login"), d("dws_user_register"), dt)),
    "couponStats" -> ((d, dt) => ServingQueries.couponStats(d("dws_trade_order"), dt)),
    "uvPerPage" -> ((d, dt) => ServingQueries.uvPerPage(d("dws_traffic_page_view"), dt)),
    "userTradeCt" -> ((d, dt) => ServingQueries.userTradeCt(d("dws_trade_order"), d("dws_trade_payment"), dt)),
    "sugarGmv" -> ((d, dt) => ServingQueries.sugarGmv(d("dws_trade_order"), dt)),
    "sugarChannelUv" -> ((d, dt) => ServingQueries.sugarChannelUv(d("dws_traffic_channel"), dt)))

  def endpoint(name: String): (String => DataFrame, Int) => DataFrame =
    Endpoints.find(_._1 == name).get._2

  /** The ADS layer of a pass: the day's headline tables (the dashboard
    * mix serves all 14 endpoints). */
  val AdsTables: Seq[String] = Seq("trafficChannelStats", "sugarChannelUv", "tradeStats",
    "provinceOrder")

  def dateInt(dayIndex: Int): Int = {
    val d = java.time.LocalDate.ofEpochDay((Gen.Day0Ms / Gen.DayMs) + dayIndex)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** One layered pass: every layer is written under `out` and read back by
    * the next; `run(name)(body)` times and tags each layer. */
  def pass(spark: SparkSession, ods: String, cfgPath: String, out: String, adsDate: Int,
      run: String => (=> Unit) => Unit): Unit = {
    def p(name: String) = s"$out/$name"
    def read(name: String) = spark.read.parquet(p(name))
    run("dwd_log") {
      dwdLog(LogSplit.parse(spark.read.text(s"$ods/log"))).foreach { case (n, df) =>
        df.write.parquet(p(n))
      }
    }
    run("dwd_uv") {
      TrafficPipeline.uniqueVisitors(read("dwd_traffic_page_log")).write.parquet(p("dwd_traffic_uv"))
    }
    run("dwd_db") {
      dwdDb(Sources.topicDb(spark.read.text(s"$ods/db"))).foreach { case (n, df) =>
        df.write.parquet(p(n))
      }
    }
    run("dim") {
      Sinks.writeDim(dimFrames(Sources.topicDb(spark.read.text(s"$ods/db")),
        readCfg(spark, cfgPath)), p("dim"))
    }
    run("dws") {
      dws(read, t => spark.read.parquet(p(s"dim/$t"))).foreach { case (n, df) =>
        Sinks.writeDwsBatch(df, p(n))
      }
    }
    run("ads") {
      AdsTables.foreach { n => endpoint(n)(read, adsDate).write.parquet(p(s"ads_$n")) }
    }
  }

  /** The ADS tables of a pass composed in memory from the raw bus, with no
    * DWD, DIM or DWS round trip through disk; used only to check results,
    * never inside a timed region. The parsed log and envelopes are
    * checkpointed so the four tables do not each parse the bus again. */
  def twinAds(spark: SparkSession, ods: String, cfgPath: String, adsDate: Int)
      : Seq[(String, DataFrame)] = {
    val log = LogSplit.parse(spark.read.text(s"$ods/log")).localCheckpoint()
    val db = Sources.topicDb(spark.read.text(s"$ods/db")).localCheckpoint()
    val dwd = dwdLog(log).toMap ++ dwdDb(db).toMap
    val all = dwd + ("dwd_traffic_uv" -> TrafficPipeline.uniqueVisitors(dwd("dwd_traffic_page_log")))
    val dims = dimFrames(db, readCfg(spark, cfgPath))
    val dwsT = dws(all, t => dims(t).frame).toMap.map { case (n, df) =>
      n -> df.withColumn("dt", date_format(col("stt"), "yyyyMMdd").cast("int"))
    }
    AdsTables.map(n => s"ads_$n" -> endpoint(n)(dwsT, adsDate))
  }

  /** Order-insensitive fingerprint of a small result: its sorted rows. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
}
