package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.sources.Sources
import graft.streaming.LogSplit
import Main.Run

/** The two workloads. Each sets up its inputs several times (the median is
  * `setup_s`), measures, then checks its outputs. Nothing is cached around
  * a timed call. */
object Workloads {

  val Scale = Gen.Scale(days = 3, mids = 300, ordersPerDay = 300)
  val ServeDays = 2 // date binds: the last two days, the most recent more often
  val ServeClients = 2
  val HeavyOrders = 2000
  /** One query per compute-bound family: TPC-H fact joins, salted
    * entity-resolution self-joins, an iterative k-means Mat loop,
    * a k-core graph fixpoint and banded cosine LSH. */
  val HeavyQueries: Seq[String] = Seq("q84_dwd_order_detail",
    "q251_er_pipeline", "q260_kmeans_iters", "q340_kcore_census", "q35_cosine_pairs")

  /** Largest heap occupancy left after a garbage collection while a
    * measured phase runs: the driver's live heap, not the collector's slack
    * (the raw high-water mark just tracks -Xmx). */
  private final class HeapPeak {
    @volatile private var peak = 0L
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      .collect { case e: NotificationEmitter => e }
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { peak = peak max after }
      }
    gcs.foreach(_.addNotificationListener(listener, null, null))
    def stopMb(): Double = {
      gcs.foreach(_.removeNotificationListener(listener))
      (if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
    }
  }

  /** Runs `body` `reps` times in fresh directories; records each time.
    * The first repetitions run on a cold JVM, so cheap set-ups repeat more
    * often to keep their median steady. */
  private def setup[T](run: Run, reps: Int)(body: Path => T): T = {
    val timed = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val r = body(run.dir(s"setup$i"))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    run.art("setup_s") = timed.map(_._2)
    run.phase("setup")
    timed.last._1
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  private def writeCfg(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes("UTF-8")); ()
  }

  /** Renders the bus and lands each topic in the ODS directory through the
    * engine's source builders, as a topic consumer would. */
  private def renderOds(run: Run, d: Path, dirty: Boolean): (String, String, Gen.Bus) = {
    val bus = Gen.bus(run.seed, Scale, dirty)
    Seq("log" -> bus.log, "db" -> bus.db).foreach { case (topic, lines) =>
      Sources.nonEmptyLines(Sources.lines(run.spark, lines.map(_.text)))
        .write.text(d.resolve(s"ods/$topic").toString)
    }
    writeCfg(d.resolve("cfg/dim.json"), Gen.dimConfig)
    (d.resolve("ods").toString, d.resolve("cfg/dim.json").toString, bus)
  }

  /** The landed bus parses as rendered: every envelope through
    * `Sources.topicDb`, and exactly the malformed log lines as dirty. */
  private def checkOds(run: Run, ods: String, bus: Gen.Bus): Unit = {
    val spark = run.spark
    val envelopes = Sources.topicDb(spark.read.text(s"$ods/db")).count()
    run.check(envelopes == bus.db.size, s"ODS holds $envelopes of ${bus.db.size} envelopes")
    val dirty = LogSplit.dirty(LogSplit.parse(spark.read.text(s"$ods/log"))).count()
    val malformed = bus.log.count(!_.text.endsWith("}"))
    run.check(dirty == malformed, s"ODS log has $dirty dirty lines, $malformed were rendered")
  }

  /** Per-layer job, task, shuffle, spill and output totals of `layer|*`. */
  private def totals(run: Run, layer: String): Unit = run.trace.foreach { t =>
    val g = t.groupsOf(layer).map(_._2)
    run.layers ++= Seq(s"$layer.jobs" -> g.map(_.jobs).sum.toDouble,
      s"$layer.task_s" -> g.map(_.taskMs).sum / 1000.0,
      s"$layer.shuffle_bytes" -> g.map(_.shuffleBytes).sum.toDouble,
      s"$layer.spill_bytes" -> g.map(_.spillBytes).sum.toDouble,
      s"$layer.rows_out" -> g.map(_.recordsWritten).sum.toDouble,
      s"$layer.bytes_written" -> g.map(_.bytesWritten).sum.toDouble)
  }

  // ---------------------------------------------------------------- batch

  private def fingerprint(rows: Array[Row]): String =
    Integer.toHexString(rows.map(_.toString).sorted.mkString("\n").hashCode) + s":${rows.length}"

  /** Files and bytes the file scans of an executed plan read. */
  private def scanStats(plan: SparkPlan): (Double, Double) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
    }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val ss = scans(plan)
    (ss.map(m(_, "numFiles")).sum, ss.map(m(_, "filesSize")).sum)
  }

  /** One layered ODS→DWD→DIM→DWS→ADS pass, every layer written to disk and
    * read back by the next (wall_s). Then the dashboard over the pass's
    * dt-partitioned DWS tables: a serial pass over every (endpoint, date)
    * (untimed; it warms the serving path and its answers are the reference),
    * then closed-loop clients cycling through the 14 endpoints with
    * recency-skewed date binds (latency, throughput). Checks: ADS tables equal their
    * in-memory twins, every order detail joins, concurrent answers equal
    * serial ones. */
  def batchServe(run: Run): Unit = {
    val spark = run.spark
    val adsDate = Warehouse.dateInt(Scale.days - 1)
    val (ods, cfg, bus) = setup(run, reps = 15)(renderOds(run, _, dirty = true))
    checkOds(run, ods, bus)
    run.phase("ods_check")
    val heap = new HeapPeak
    val wh = run.dir("wh")
    val layerWalls = mutable.LinkedHashMap.empty[String, Double]
    val p0 = System.nanoTime()
    Warehouse.pass(spark, ods, cfg, wh.toString, adsDate, name => body => {
      layerWalls(name) = run.request(name, "pass")(body)._2 / 1000.0
    })
    run.art("wall_s") = Seq((System.nanoTime() - p0) / 1e9)
    run.phase("pass")

    val read: String => DataFrame = n => spark.read.parquet(wh.resolve(n).toString)
    val dates = (0 until ServeDays).map(i => Warehouse.dateInt(Scale.days - 1 - i))
    val eps = Warehouse.Endpoints
    val serial = (for (d <- dates; (ep, f) <- eps) yield (ep, d) -> fingerprint(f(read, d).collect())).toMap
    run.phase("serial")
    val lat = new ConcurrentLinkedQueue[Double]()
    val executed = new ConcurrentLinkedQueue[(String, QueryExecution, Double, Double)]()
    val calls = new AtomicLong
    val s0 = System.nanoTime()
    val deadline = s0 + (run.seconds * 1e9).toLong
    val clients = (0 until ServeClients).map { c =>
      val t = new Thread(() => {
        val rnd = new java.util.SplittableRandom(run.seed * 31 + c)
        // each client walks the endpoints in a fresh seeded order per
        // cycle, so every run calls each endpoint about equally often
        var order = Seq.empty[Int]
        var n = 0
        while (System.nanoTime() < deadline) {
          if (order.isEmpty) order = eps.indices.map(i => (rnd.nextInt(), i)).sorted.map(_._2)
          val (ep, f) = eps(order.head)
          order = order.tail
          val date = dates(if (rnd.nextInt(10) < 7) 0 else 1)
          val id = s"c$c-$n-$ep"
          try {
            val df = f(read, date)
            val (rows, ms) = run.request("serve", id, Map("endpoint" -> ep))(df.collect())
            lat.add(ms)
            calls.incrementAndGet()
            if (run.trace.isDefined) {
              val (files, bytes) = scanStats(df.queryExecution.executedPlan)
              executed.add((s"serve|$id", df.queryExecution, files, bytes))
            }
            run.check(fingerprint(rows) == serial((ep, date)),
              s"$ep@$date: concurrent answer differs from the serial one")
          } catch { case e: Exception => run.attempted.incrementAndGet(); run.fail(s"$ep@$date: $e") }
          n += 1
        }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    val served = (System.nanoTime() - s0) / 1e9
    run.phase("serve")
    run.layers("jvm.heap_peak_mb") = heap.stopMb()
    run.art("latency_ms") = lat.asScala.toSeq
    run.art("throughput") = Map("units" -> calls.get.toDouble, "seconds" -> served)

    Warehouse.twinAds(spark, ods, cfg, adsDate).foreach { case (n, twin) =>
      run.check(Warehouse.rows(read(n)) == Warehouse.rows(twin), s"$n differs from its batch twin")
    }
    val detailRows = read("dwd_trade_order_detail").count()
    val detailIn = bus.db.count(_.text.contains("\"table\":\"order_detail\""))
    run.check(detailRows == detailIn, s"order detail join kept $detailRows of $detailIn rows")

    run.trace.foreach { t =>
      Warehouse.Layers.foreach { l => run.layers(s"$l.wall_s") = layerWalls(l); totals(run, l) }
      run.layers("dwd_db.join_yield") = detailRows.toDouble / detailIn
      run.layers("dwd_db.skew") = t.skew("dwd_db")
      val dimIn = bus.db.filter(l => Gen.DimSourceTables.exists(x => l.text.contains(s"\"table\":\"$x\"")))
        .map(_.text.length + 1L).sum
      run.layers("dim.write_amp") = run.layers("dim.bytes_written") / dimIn
      run.layers("dws.files_written") = Files.walk(wh).iterator().asScala
        .count(p => p.toString.contains("/dws_") && p.getFileName.toString.startsWith("part-")).toDouble
      // per-request planning / execution time and scan width of each call
      val ex = executed.asScala.toSeq
      t.awaitExecutions(ex.size)
      val byGroup = ex.map(e => e._1 -> e).toMap
      val reqs = run.requests.asScala.toSeq
      run.requests.clear()
      reqs.foreach { r =>
        run.requests.add(r ++ byGroup.get(r("group").toString).fold(Map.empty[String, Any]) {
          case (_, qe, files, bytes) =>
            val (execMs, planMs) = Option(t.executions.get(qe)).getOrElse((Double.NaN, Double.NaN))
            Map("plan_ms" -> planMs, "exec_ms" -> execMs, "files" -> files, "bytes" -> bytes)
        })
      }
    }
  }

  // ----------------------------------------------------------------- heavy

  /** Rounds of compute-bound registry queries run in sequence over seeded
    * TPC-H-style tables; every query must return rows. */
  def heavy(run: Run): Unit = {
    val spark = run.spark
    val dir = setup(run, reps = 5) { d =>
      val p = d.resolve("tpch").toString
      Tables.write(spark, p, run.seed, HeavyOrders)
      p
    }
    val registry = graft.SparkEntry.queries
    val heap = new HeapPeak
    val lat = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val start = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < run.seconds) {
      val r0 = System.nanoTime()
      HeavyQueries.foreach { q =>
        try {
          val (n, ms) = run.request("heavy", s"r${rounds.size}-$q")(registry(q)(spark, dir).count())
          run.check(n > 0, s"$q returned no rows")
          lat += ms
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms / 1000.0
        } catch { case e: Exception => run.attempted.incrementAndGet(); run.fail(s"$q: $e") }
      }
      rounds += (System.nanoTime() - r0) / 1e9
    }
    run.phase("measure")
    run.layers("jvm.heap_peak_mb") = heap.stopMb()
    run.art("latency_ms") = lat.toSeq
    run.art("wall_s") = rounds.toSeq
    run.art("throughput") = Map("units" -> lat.size.toDouble, "seconds" -> rounds.sum)
    run.trace.foreach { t =>
      perQuery.foreach { case (q, xs) => run.layers(s"heavy.$q.s") = median(xs.toSeq) }
      totals(run, "heavy")
      Seq("jobs", "task_s", "shuffle_bytes", "spill_bytes").foreach(k =>
        run.layers(s"heavy.$k") = run.layers(s"heavy.$k") / rounds.size)
      run.layers("heavy.skew_max") = t.skew("heavy")
    }
  }
}
