package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Inspection main for SparkEntry queries. Usage:
  *   Inspect <sfDir> <query> [plan|initial|jobs N]
  * `<query>` is an exact registry key, else every key containing it.
  *
  *  - `plan` (default): execute the query, then print the formatted
  *    ADAPTIVE FINAL plan — the one that actually ran (AQE broadcast/skew
  *    decisions are invisible in the initial plan).
  *  - `initial`: print the pre-execution plan.
  *  - `jobs N`: after one unprofiled warm pass, run the query N times and
  *    print every Spark JOB with wall duration, stage count, task count
  *    and callsite, so the per-round fixed costs of iterative operators
  *    (checkpoint jobs, convergence actions) are attributable.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Inspect <sfDir> <query> [plan|initial|jobs N]")
    val (sfDir, pat) = (args(0), args(1))
    val mode = if (args.length > 2) args(2) else "plan"
    require(Seq("plan", "initial", "jobs").contains(mode), s"bad mode $mode")
    val spark = GraftSession.start(GraftSession.cli())
    val runs = if (args.length > 3) args(3).toInt else 1
    val matches = SparkEntry.queries.get(pat) match {
      case Some(fn) => Seq(pat -> fn)
      case None => SparkEntry.queries.toSeq.filter(_._1.contains(pat)).sortBy(_._1)
    }
    if (matches.isEmpty) sys.error(s"no query matches '$pat'")
    val jobs = if (mode == "jobs") Some(new JobLog(spark)) else None
    matches.foreach { case (name, fn) =>
      jobs match {
        case Some(log) =>
          fn(spark, sfDir).count() // warm pass (JIT/codegen), not profiled
          Thread.sleep(500)
          log.clear()
          val t0 = System.nanoTime()
          (1 to runs).foreach(_ => fn(spark, sfDir).count())
          log.print(name, runs, (System.nanoTime() - t0) / 1e9)
        case None =>
          println(s"==== $name ====")
          val df = fn(spark, sfDir)
          // execute the Dataset's OWN plan (df.count() would build a separate
          // groupBy().count() QueryExecution, leaving this AdaptiveSparkPlanExec
          // un-finalized and the explain below pre-execution)
          if (mode == "plan") df.queryExecution.toRdd.count()
          df.explain("formatted")
      }
    }
    spark.stop()
  }

  /** Per-job wall, stage and task counts from a listener on `spark`. */
  private final class JobLog(spark: SparkSession) {
    private case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var site: String = "", var stages: Int = 0, var tasks: Int = 0,
      names: mutable.Buffer[String] = mutable.Buffer.empty)
    private val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageOwner = mutable.Map.empty[Int, Int]

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(e.jobId, J(e.jobId))
        j.start = e.time
        j.site = Option(e.properties.getProperty("callSite.short")).getOrElse("")
        j.stages = e.stageInfos.size
        e.stageIds.foreach(sid => stageOwner(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageOwner.get(e.stageInfo.stageId).foreach { jid =>
          jobs.get(jid).foreach { j =>
            j.tasks += e.stageInfo.numTasks
            val dur = for {
              a <- e.stageInfo.completionTime; b <- e.stageInfo.submissionTime
            } yield (a - b) / 1e3
            j.names += f"${e.stageInfo.name.takeWhile(_ != '(').take(30)}" +
              f"[${e.stageInfo.numTasks}t,${dur.getOrElse(-1.0)}%.2fs]"
          }
        }
    })

    def clear(): Unit = jobs.clear()

    def print(name: String, runs: Int, wall: Double): Unit = {
      println(f"==== $name: $runs run(s), wall ${wall}%.2f s ====")
      val js = jobs.values.toSeq
      val tot = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
      println(f"jobs: ${js.size}, summed job wall ${tot}%.2f s " +
        "(gaps to query wall = planning/scheduling time)")
      js.sortBy(j => -(j.end - j.start)).take(40).foreach { j =>
        println(f"  ${(j.end - j.start) / 1e3}%7.3f s  job ${j.id}%4d  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%5d  ${j.site}  " +
          j.names.mkString(" "))
      }
    }
  }
}
