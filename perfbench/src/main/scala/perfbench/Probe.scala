package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler counters summed over a set of tasks. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    inputRows += m.inputMetrics.recordsRead
    outputBytes += m.outputMetrics.bytesWritten
    outputRows += m.outputMetrics.recordsWritten
  }
}

/** A Spark job as the trace sees it: the span it was started under and
  * its wall interval (epoch ms, as the scheduler stamps it). */
final case class JobRec(id: Int, span: String, startMs: Long, var endMs: Long,
    counters: Counters)

final case class StageRec(id: Int, job: Int, var startMs: Long, var endMs: Long)

/** Public-listener probe. Every callback runs on the listener-bus thread;
  * the runner reads the probe only after draining the bus, so the fields
  * need no locking.
  *
  * Jobs are attributed through the `perfbench.span` local property the
  * runner sets around each phase. Spark copies local properties to the
  * threads a query starts (broadcasts, subqueries, stream triggers), so a
  * job lands under the phase that caused it. */
final class Probe extends SparkListener {
  var pass = new Counters
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.Map[Int, StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  var batches, batchRows, batchMs = 0L

  /** Forget everything recorded so far (called between passes). */
  def reset(): Unit = {
    pass = new Counters
    jobs.clear(); stages.clear(); stageJob.clear()
    batches = 0; batchRows = 0; batchMs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Probe.SpanKey))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time, new Counters)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    pass.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    stages(info.stageId) = StageRec(info.stageId, job,
      info.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    pass.stages += 1
    val rec = stages.getOrElseUpdate(info.stageId, StageRec(info.stageId,
      stageJob.getOrElse(info.stageId, -1),
      info.submissionTime.getOrElse(-1L), -1L))
    rec.endMs = info.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      pass.addTask(m)
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.counters.addTask(m))
    }

  /** Micro-batch progress of every streaming query the program starts. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches += 1
      batchRows += e.progress.numInputRows
      batchMs += e.progress.batchDuration
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}
