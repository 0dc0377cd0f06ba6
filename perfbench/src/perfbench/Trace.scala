package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, registered only when tracing is on.
  *
  * Each timed request runs under `setJobGroup(<layer>|<request>)`. Per
  * group it counts jobs, tasks, task time, shuffle, spill and output
  * bytes/records, and keeps each job's interval (the driver gap is computed
  * from them) and each stage's task durations (for skew). The QueryExecutionListener
  * keeps each finished query's execution time and planning phases. */
final class Trace(spark: SparkSession) {

  final class Group {
    var jobs = 0; var tasks = 0L; var taskMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var bytesWritten = 0L; var recordsWritten = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** stage id → task run times, for the skew ratio. */
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** query execution → (execution ms, planning ms). */
  val executions = new ConcurrentHashMap[QueryExecution, (Double, Double)]()

  private def group(name: String): Group = groups.computeIfAbsent(name, _ => new Group)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("other")
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
        val gr = group(g)
        gr.synchronized { gr.jobs += 1; gr.jobIntervals += ((start, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val gr = group(g)
        gr.synchronized {
          gr.tasks += 1
          gr.taskMs += m.executorRunTime
          gr.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          gr.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          gr.bytesWritten += m.outputMetrics.bytesWritten
          gr.recordsWritten += m.outputMetrics.recordsWritten
        }
        val ts = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        ts.synchronized { ts += m.executorRunTime }
      }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      executions.put(qe, (durationNs / 1e6, planMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }

  /** Groups whose name starts with `prefix|`. */
  def groupsOf(prefix: String): Seq[(String, Group)] =
    groups.asScala.toSeq.filter(_._1.startsWith(prefix + "|"))

  /** Max over the groups' stages of (longest task / median task). */
  def skew(prefix: String): Double = {
    val gs = groupsOf(prefix).map(_._1).toSet
    stageTasks.asScala.toSeq.collect {
      case (stage, ts) if Option(stageGroup.get(stage)).exists(gs) && ts.size >= 2 =>
        val s = ts.synchronized(ts.sorted)
        s.last.toDouble / math.max(1L, s(s.size / 2))
    }.maxOption.getOrElse(1.0)
  }

  /** Waits until the listener bus has delivered `n` query executions. */
  def awaitExecutions(n: Int, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (executions.size < n && System.currentTimeMillis() < end) Thread.sleep(20)
  }

  /** Waits until every job started so far has ended on the listener bus. */
  def awaitJobs(timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    Thread.sleep(100)
    while (!jobGroup.isEmpty && System.currentTimeMillis() < end) Thread.sleep(20)
  }
}

object Trace {
  /** Runs `body` under job group `group` when tracing, else plainly. */
  def tagged[T](spark: SparkSession, trace: Option[Trace], group: String)(body: => T): T =
    trace match {
      case None => body
      case Some(_) =>
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
        try body finally spark.sparkContext.clearJobGroup()
    }
}
