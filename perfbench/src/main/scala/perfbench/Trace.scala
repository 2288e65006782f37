package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it. Times are epoch ms. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val execId: Option[Long], val stages: Int) {
  val layer: String = Spans.layerOfCallSite(callSite)
  @volatile var endMs: Long = startMs
  @volatile var tasks = 0
  @volatile var taskMs = 0L
  @volatile var failedTasks = 0
  @volatile var bytesWritten = 0L
  def wallMs: Double = (endMs - startMs).toDouble
}

/** One executed query: its SQL execution id, the call site of the action
  * that ran it, its planning phases (name, start, end in epoch ms) and what
  * its parquet scans read. `id` is the `QueryExecution`'s own id. */
final case class ExecRec(id: Long, execId: Option[Long], callSite: String,
                         phases: Seq[(String, Long, Long)], parquetScans: Int,
                         filesRead: Long, rowsScanned: Long) {
  val layer: String = Spans.layerOfCallSite(callSite)
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.map(_._2).min
}

/** The traced run's recorder: a SparkListener and a QueryExecutionListener
  * registered on the session, keeping everything in memory. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
  with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  /** SQL execution id -> the call site of the action that started it. */
  private val execSite = new ConcurrentHashMap[Long, String]()
  /** `QueryExecution` id -> the SQL execution id it ran under. */
  private val queryExec = new ConcurrentHashMap[Long, java.lang.Long]()

  def start(): Tracer = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = SparkInternals.drain(spark.sparkContext)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description)
    case s: SparkListenerSQLExecutionEnd =>
      SparkInternals.queryOf(s).foreach(qe => queryExec.put(qe.id, s.executionId))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a SQL job takes its execution's call site: adaptive query stages are
    // submitted from pool threads, where Spark finds no caller frame. Other
    // jobs carry it in the result stage's name (the result stage is created
    // last).
    val execId = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val callSite = execId.flatMap(i => Option(execSite.get(i))).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val rec = new JobRec(e.jobId, e.time, callSite, execId, e.stageInfos.size)
    e.stageInfos.foreach(s => stageJob.put(s.stageId, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach(m => j.bytesWritten += m.outputMetrics.bytesWritten)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    execs.put(qe.id, ExecRec(qe.id, None, "", phases, scans.size,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)
  def execList: Seq[ExecRec] = execs.values().asScala.toSeq.sortBy(_.id)
    .map { e =>
      val x = Option(queryExec.get(e.id)).map(_.longValue)
      e.copy(execId = x, callSite = x.flatMap(i => Option(execSite.get(i))).getOrElse(""))
    }
}
