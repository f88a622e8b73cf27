package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job counters, filled from task ends. */
final class JobStats(val id: Int, val start: Long, val execId: Option[Long],
                     val stageName: String, val stageDetails: String) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
}

/** Planning phases of one SQL execution, from its QueryPlanningTracker. */
final case class Planning(analysisMs: Long, optimizerMs: Long, physicalMs: Long)

/** The benchmark's own SparkListener and QueryExecutionListener: records
  * every job with its stages' task metrics, the call site of the SQL
  * execution it belongs to, and the planning phases of every SQL
  * execution. Events arrive asynchronously; callers drain the bus
  * (org.apache.spark.perfbench.Bus) before reading. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.Map[Int, Int]()
  /** SQL execution id -> (short call site, long call site). */
  val execSites = mutable.Map[Long, (String, String)]()
  val planning = mutable.ArrayBuffer[Planning]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    jobs(e.jobId) = new JobStats(e.jobId, e.time, execId,
      last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        // the UI's scheduler delay: task duration not spent deserializing,
        // running, serializing the result or fetching it
        val info = e.taskInfo
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = (s.description, s.details)
    }
    case _ =>
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    synchronized { planning += Planning(ms("analysis"), ms("optimization"), ms("planning")) }
  }

  /** Where a job was issued: the call site of its SQL execution when it
    * has one (a job's own stage name under AQE is a CompletableFuture
    * frame), otherwise the call site Spark gave its last stage. */
  def site(j: JobStats): (String, String) = synchronized {
    j.execId.flatMap(execSites.get).getOrElse((j.stageName, j.stageDetails))
  }
}
