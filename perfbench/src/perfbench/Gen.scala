package perfbench

import java.util.SplittableRandom

/** Seeded renderer of the warehouse's two ODS topics, `topic_log` and
  * `topic_db`. The same seed always yields the same bytes; row counts
  * depend only on the scale, never on the seed, so runs with different
  * seeds do the same amount of work. Every envelope of one order (info,
  * details, activity and coupon legs) carries the order's `ts`, as one
  * binlog transaction would; lines come out in event-time order. */
object Gen {

  val Day0Ms = 1651190400000L // 2022-04-29 00:00:00 UTC
  val DayMs = 86400000L

  /** A rendered line with its event time in epoch ms (db lines carry
    * Maxwell's epoch-second `ts`, scaled here for slicing). */
  final case class Line(tsMs: Long, text: String)

  final case class Bus(log: Vector[Line], db: Vector[Line])

  /** Log volume: mids and active share per day; db volume: orders per day. */
  final case class Scale(days: Int, mids: Int, ordersPerDay: Int)

  private val Channels = Vector("xiaomi", "huawei", "oppo", "vivo", "appstore", "web")
  private val Versions = Vector("v2.1.134", "v2.1.132", "v2.0.1")
  private val Areas = Vector("110000", "310000", "440000", "510000", "330000")
  private val Words = Vector("phone", "apple", "xiaomi", "laptop", "tv", "shoe",
    "red", "blue", "pro", "max", "mini", "case", "charger", "watch")
  private val Provinces = 34
  private val Trademarks = 12
  private val Spus = 40
  private val Skus = 120

  private def fmtTime(ms: Long): String = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
  }

  private def str(s: String): String = if (s == null) "null" else "\"" + s + "\""

  private def logCommon(mid: Int, ch: String, isNew: String, uid: String,
      vc: String, ar: String): String =
    s""""common":{"ar":"$ar","ch":"$ch","is_new":"$isNew","md":"m${mid % 7}",""" +
      s""""mid":"mid_$mid","os":"android","uid":${str(uid)},"vc":"$vc"}"""

  private def dbLine(table: String, tpe: String, tsSec: Long, xoff: Long,
      data: Seq[(String, String)], old: Seq[(String, String)] = Nil): String = {
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val oldJson = if (old.isEmpty) "null" else obj(old)
    s"""{"database":"gmall","table":"$table","type":"$tpe","ts":$tsSec,""" +
      s""""xid":$xoff,"xoffset":$xoff,"data":${obj(data)},"old":$oldJson}"""
  }

  /** Sessions of each day: start line, home (session entry, with
    * displays), search → good_list (keyword page), good_detail with an
    * action; now and then an error line. */
  private def renderLog(rnd: SplittableRandom, scale: Scale,
      dirty: Boolean): Vector[Line] = {
    val out = Vector.newBuilder[Line]
    val firstDay = Array.tabulate(scale.mids)(_ => rnd.nextInt(scale.days))
    val chOf = Array.tabulate(scale.mids)(_ => Channels(rnd.nextInt(Channels.size)))
    for (day <- 0 until scale.days; mid <- 0 until scale.mids
         if day >= firstDay(mid) && rnd.nextInt(100) < 70) {
      val ch = chOf(mid)
      val vc = Versions(mid % Versions.size)
      val ar = Areas(mid % Areas.size)
      // is_new is sometimes stale on a returning visitor: the repair job's work
      val isNew = if (day == firstDay(mid) || rnd.nextInt(10) == 0) "1" else "0"
      val uid = if (rnd.nextInt(3) == 0) null else s"u${mid % 500}"
      val common = logCommon(mid, ch, isNew, uid, vc, ar)
      // session start: a 10 s window between 08:00 and 21:00; every later
      // page lands in a later window
      var w = Day0Ms + day * DayMs + (8 * 360 + rnd.nextInt(13 * 360)) * 10000L
      def nextTs(): Long = { val t = w + 5000 + rnd.nextInt(5000); w += 10000L * (1 + rnd.nextInt(3)); t }
      val t0 = nextTs()
      out += Line(t0, s"""{$common,"start":{"entry":"icon","loading_time":${1000 + rnd.nextInt(9000)},""" +
        s""""open_ad_id":${rnd.nextInt(20)},"open_ad_ms":${rnd.nextInt(6000)},"open_ad_skip_ms":0},"ts":$t0}""")
      val t1 = nextTs()
      out += Line(t1, s"""{$common,"page":{"during_time":${1000 + rnd.nextInt(20000)},""" +
        s""""page_id":"home","last_page_id":null},"displays":[{"display_type":"activity",""" +
        s""""item":"${1 + rnd.nextInt(Skus)}","item_type":"sku_id","order":1,"pos_id":${1 + rnd.nextInt(5)}}],"ts":$t1}""")
      val pages = 1 + rnd.nextInt(3)
      var last = "home"
      for (_ <- 0 until pages) {
        val t = nextTs()
        if (rnd.nextInt(2) == 0) {
          val kw = s"${Words(rnd.nextInt(Words.size))} ${Words(rnd.nextInt(Words.size))}"
          out += Line(t, s"""{$common,"page":{"during_time":${1000 + rnd.nextInt(20000)},""" +
            s""""item":"$kw","item_type":"keyword","last_page_id":"search","page_id":"good_list"},"ts":$t}""")
          last = "good_list"
        } else {
          val sku = 1 + rnd.nextInt(Skus)
          out += Line(t, s"""{$common,"page":{"during_time":${1000 + rnd.nextInt(20000)},""" +
            s""""item":"$sku","item_type":"sku_id","last_page_id":"$last","page_id":"good_detail"},""" +
            s""""actions":[{"action_id":"cart_add","item":"$sku","item_type":"sku_id","ts":${t - 500}}],"ts":$t}""")
          last = "good_detail"
        }
      }
      if (rnd.nextInt(20) == 0) {
        val t = nextTs()
        out += Line(t, s"""{$common,"page":{"during_time":100,"page_id":"$last","last_page_id":"home"},""" +
          s""""err":{"error_code":${1000 + rnd.nextInt(3000)},"msg":"timeout"},"ts":$t}""")
      }
      if (dirty && rnd.nextInt(200) == 0) out += Line(t1, "{\"broken\": ")
    }
    out.result().sortBy(_.tsMs)
  }

  private def dims(tsSec: Long): Seq[String] = {
    var x = 0L
    def l(table: String, data: (String, String)*) = { x += 1; dbLine(table, "bootstrap-insert", tsSec, x, data) }
    (1 to Provinces).map(i => l("base_province", "id" -> s"$i", "name" -> s"province_$i")) ++
      (1 to Trademarks).map(i => l("base_trademark", "id" -> s"$i", "tm_name" -> s"tm_$i")) ++
      (1 to 3).map(i => l("base_category1", "id" -> s"$i", "name" -> s"cat1_$i")) ++
      (1 to 9).map(i => l("base_category2", "id" -> s"$i", "name" -> s"cat2_$i",
        "category1_id" -> s"${1 + i % 3}")) ++
      (1 to 27).map(i => l("base_category3", "id" -> s"$i", "name" -> s"cat3_$i",
        "category2_id" -> s"${1 + i % 9}")) ++
      (1 to Spus).map(i => l("spu_info", "id" -> s"$i", "spu_name" -> s"spu_$i",
        "tm_id" -> s"${1 + i % Trademarks}", "category3_id" -> s"${1 + i % 27}")) ++
      (1 to Skus).map(i => l("sku_info", "id" -> s"$i", "sku_name" -> s"sku_$i",
        "spu_id" -> s"${1 + i % Spus}", "tm_id" -> s"${1 + (i % Spus) % Trademarks}",
        "category3_id" -> s"${1 + (i % Spus) % 27}", "price" -> s"${10 + i % 90}.00"))
  }

  /** Maxwell envelopes: dimension bootstrap at day 0, then per order an
    * order_info + 1–3 order_detail (+ activity/coupon legs) sharing one
    * `ts`, a payment insert and its later 1601→1602 update, a refund for
    * one order in twenty, user registrations and trademark renames. */
  private def renderDb(rnd: SplittableRandom, scale: Scale): Vector[Line] = {
    val out = Vector.newBuilder[Line]
    val s0 = Day0Ms / 1000
    dims(s0).foreach(t => out += Line(Day0Ms, t))
    var orderId = 0L
    var detailId = 0L
    var xoff = 1000L
    def x(): Long = { xoff += 1; xoff }
    for (day <- 0 until scale.days) {
      val dayS = s0 + day * 86400L
      for (u <- 0 until scale.ordersPerDay / 8) {
        val ts = dayS + 8 * 3600 + rnd.nextInt(13 * 3600)
        out += Line(ts * 1000, dbLine("user_info", "insert", ts, x(),
          Seq("id" -> s"r${day}_$u", "create_time" -> fmtTime(ts * 1000))))
      }
      for (_ <- 0 until 2) {
        val ts = dayS + 8 * 3600 + rnd.nextInt(13 * 3600)
        val tm = 1 + rnd.nextInt(Trademarks)
        out += Line(ts * 1000, dbLine("base_trademark", "update", ts, x(),
          Seq("id" -> s"$tm", "tm_name" -> s"tm_${tm}_d$day"), Seq("tm_name" -> s"tm_$tm")))
      }
      for (_ <- 0 until scale.ordersPerDay) {
        orderId += 1
        val ts = dayS + 8 * 3600 + rnd.nextInt(13 * 3600)
        val ct = fmtTime(ts * 1000)
        val user = s"${1 + rnd.nextInt(scale.mids)}"
        val prov = s"${1 + rnd.nextInt(Provinces)}"
        out += Line(ts * 1000, dbLine("order_info", "insert", ts, x(), Seq("id" -> s"$orderId",
          "user_id" -> user, "province_id" -> prov, "order_status" -> "1001", "create_time" -> ct)))
        val lines = 1 + rnd.nextInt(3)
        var total = 0L
        val skus = (0 until lines).map { _ =>
          detailId += 1
          val sku = 1 + rnd.nextInt(Skus)
          val num = 1 + rnd.nextInt(3)
          val price = 10 + sku % 90
          val act = if (rnd.nextInt(10) < 3) 1 + rnd.nextInt(5) else 0
          val cou = if (rnd.nextInt(10) < 2) 1 + rnd.nextInt(3) else 0
          total += price * num - act - cou
          out += Line(ts * 1000, dbLine("order_detail", "insert", ts, x(), Seq(
            "id" -> s"$detailId", "order_id" -> s"$orderId", "sku_id" -> s"$sku",
            "sku_name" -> s"sku_$sku", "create_time" -> ct, "source_id" -> "1",
            "source_type" -> (if (rnd.nextBoolean()) "2401" else "2402"),
            "sku_num" -> s"$num", "order_price" -> s"$price.00",
            "split_total_amount" -> s"${price * num - act - cou}.00",
            "split_activity_amount" -> s"$act.00", "split_coupon_amount" -> s"$cou.00")))
          if (act > 0) out += Line(ts * 1000, dbLine("order_detail_activity", "insert", ts, x(),
            Seq("id" -> s"a$detailId", "order_detail_id" -> s"$detailId",
              "activity_id" -> s"${1 + rnd.nextInt(4)}", "activity_rule_id" -> "1")))
          if (cou > 0) out += Line(ts * 1000, dbLine("order_detail_coupon", "insert", ts, x(),
            Seq("id" -> s"c$detailId", "order_detail_id" -> s"$detailId",
              "coupon_id" -> s"${1 + rnd.nextInt(6)}")))
          sku
        }
        out += Line(ts * 1000, dbLine("payment_info", "insert", ts, x(), Seq("id" -> s"$orderId",
          "order_id" -> s"$orderId", "user_id" -> user, "payment_type" -> "1101",
          "payment_status" -> "1601", "total_amount" -> s"$total.00")))
        val paid = ts + 60 + rnd.nextInt(1800)
        out += Line(paid * 1000, dbLine("payment_info", "update", paid, x(), Seq("id" -> s"$orderId",
          "order_id" -> s"$orderId", "user_id" -> user, "payment_type" -> "1101",
          "payment_status" -> "1602", "callback_time" -> fmtTime(paid * 1000)),
          Seq("payment_status" -> "1601")))
        if (rnd.nextInt(20) == 0) {
          val rts = paid + 60 + rnd.nextInt(600)
          out += Line(rts * 1000, dbLine("order_refund_info", "insert", rts, x(), Seq(
            "id" -> s"$orderId", "user_id" -> user, "order_id" -> s"$orderId",
            "sku_id" -> s"${skus.head}", "refund_type" -> "1502", "refund_num" -> "1",
            "refund_amount" -> s"${10 + skus.head % 90}.00", "refund_reason_type" -> "1301",
            "create_time" -> fmtTime(rts * 1000))))
          out += Line(rts * 1000, dbLine("order_info", "update", rts, x(), Seq("id" -> s"$orderId",
            "user_id" -> user, "province_id" -> prov, "order_status" -> "1005"),
            Seq("order_status" -> "1004")))
        }
      }
    }
    out.result().sortBy(_.tsMs)
  }

  def bus(seed: Long, scale: Scale, dirty: Boolean): Bus = {
    val rnd = new SplittableRandom(seed)
    val log = renderLog(rnd.split(), scale, dirty)
    Bus(log, renderDb(rnd.split(), scale))
  }

  /** DIM routing rules of the batch leg: every dimension table. */
  def dimConfig: Seq[String] = Seq(
    ("base_province", "dim_base_province", "id,name"),
    ("base_trademark", "dim_base_trademark", "id,tm_name"),
    ("base_category1", "dim_base_category1", "id,name"),
    ("base_category2", "dim_base_category2", "id,name,category1_id"),
    ("base_category3", "dim_base_category3", "id,name,category2_id"),
    ("spu_info", "dim_spu_info", "id,spu_name"),
    ("sku_info", "dim_sku_info", "id,sku_name,spu_id,tm_id,category3_id")
  ).map { case (s, t, c) => graft.apps.Soak.cfgLine(s, t, c, "id") }

  val DimSourceTables: Set[String] = Set("base_province", "base_trademark",
    "base_category1", "base_category2", "base_category3", "spu_info", "sku_info")
}
