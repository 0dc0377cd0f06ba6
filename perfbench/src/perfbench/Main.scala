package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --root DIR --out FILE`. Writes the raw samples of the run as one JSON
  * artifact to FILE; `perfbench/run.py` turns it into the metrics. Every
  * workload checks its own outputs and records each failure. */
object Main {

  final class Run(val spark: SparkSession, val root: Path, val seed: Long,
      val seconds: Double, val trace: Option[Trace]) {
    val art = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

    def fail(msg: String): Unit = errors.synchronized {
      failed.incrementAndGet(); if (errors.size < 20) errors += msg
    }
    def check(ok: Boolean, msg: => String): Unit = { attempted.incrementAndGet(); if (!ok) fail(msg) }

    def tagged[T](group: String)(body: => T): T = Trace.tagged(spark, trace, group)(body)

    /** Time `body` as one traced request of `layer`; record it. */
    def request[T](layer: String, name: String, extra: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
      val id = s"$layer|$name"
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val r = tagged(id)(body)
      val ms = (System.nanoTime() - n0) / 1e6
      requests.add(extra ++ Map("group" -> id, "layer" -> layer, "start_ms" -> t0,
        "end_ms" -> (t0 + ms.round), "ms" -> ms))
      (r, ms)
    }

    def dir(name: String): Path = { val p = root.resolve(name); Files.createDirectories(p); p }

    /** Wall time of the run's phases, for the artifact. */
    val phases = mutable.LinkedHashMap.empty[String, Double]
    private var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - phaseStart) / 1e9; phaseStart = now
    }
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val root = Paths.get(arg(args, "--root")).toAbsolutePath
    val out = Paths.get(arg(args, "--out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.register())
    val run = new Run(spark, root, seed, seconds, trace)
    run.art ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> cores, "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version)
    try {
      workload match {
        case "batch_serve" => Workloads.batchServe(run)
        case "analytics_heavy" => Workloads.heavy(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        run.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    trace.foreach { t => t.awaitJobs(); t.unregister() }
    run.phase("checks")
    run.art ++= Seq("phases_s" -> run.phases.toMap, "attempted" -> run.attempted.get, "failed" -> run.failed.get,
      "errors" -> run.errors.toSeq, "layers" -> run.layers.toMap,
      "requests" -> run.requests.asScala.toSeq.map(r => withJobs(r, trace)))
    Files.write(out, Json.render(run.art.toMap).getBytes("UTF-8"))
    spark.stop()
  }

  /** Adds the job intervals and task count the trace saw for a request. */
  private def withJobs(r: Map[String, Any], trace: Option[Trace]): Map[String, Any] =
    trace.flatMap(t => Option(t.groups.get(r("group").toString))).fold(r) { g =>
      r ++ Map("jobs" -> g.jobIntervals.toSeq.map { case (a, b) => Seq(a, b) },
        "tasks" -> g.tasks)
    }
}

/** Minimal JSON rendering for the artifact: maps, sequences, numbers,
  * booleans and strings. Doubles keep all their digits. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Json.str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => graft.Json.str(other.toString)
  }
}
