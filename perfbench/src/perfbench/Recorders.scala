package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of everything the two listeners see. Phases are measured
  * as the difference of two snapshots taken with the listener bus drained,
  * so no event needs to know which operation caused it. */
final case class Tally(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    retriedStages: Long = 0, smallJobs: Long = 0, taskBusyMs: Long = 0,
    gcMs: Long = 0, shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
    spillB: Long = 0, scanB: Long = 0, scanRows: Long = 0, writeB: Long = 0,
    analyzeMs: Long = 0, optimizeMs: Long = 0, physicalMs: Long = 0) {

  def -(o: Tally): Tally = Tally(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    retriedStages - o.retriedStages, smallJobs - o.smallJobs, taskBusyMs - o.taskBusyMs,
    gcMs - o.gcMs, shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, scanB - o.scanB, scanRows - o.scanRows, writeB - o.writeB,
    analyzeMs - o.analyzeMs, optimizeMs - o.optimizeMs, physicalMs - o.physicalMs)

  def +(o: Tally): Tally = this - (Tally() - o)
}

/** One finished Spark job: wall interval (epoch ms) and the job group the
  * harness set around the operation that ran it. */
final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long)

/** The harness's SparkListener: job, stage and task counts, task metrics,
  * and the per-job bytes that decide whether a job moved under 1 MB. */
final class JobRecorder extends SparkListener {
  private var t = Tally()
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobBytes = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val spans = mutable.ArrayBuffer.empty[JobSpan]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def tally: Tally = synchronized(t)
  def allJobs: Seq[JobSpan] = synchronized(spans.toSeq)
  /** Planning phases seen so far, as (phase, start ms, end ms). */
  def phaseSpans: Seq[(String, Long, Long)] = synchronized(phases.toSeq)

  private[perfbench] def addPlan(tracker: QueryPlanningTracker): Unit = synchronized {
    def ms(k: String) = tracker.phases.get(k).map(_.durationMs).getOrElse(0L)
    t = t.copy(analyzeMs = t.analyzeMs + ms("analysis"), optimizeMs = t.optimizeMs + ms("optimization"),
      physicalMs = t.physicalMs + ms("planning"))
    tracker.phases.foreach { case (k, p) => phases += ((k, p.startTimeMs, p.endTimeMs)) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(stageJob(_) = e.jobId)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time, group)
    jobBytes(e.jobId) = 0L
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val moved = jobBytes.remove(e.jobId).getOrElse(0L)
    val (start, group) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
    spans += JobSpan(e.jobId, group, start, e.time)
    t = t.copy(jobs = t.jobs + 1, smallJobs = t.smallJobs + (if (moved < (1L << 20)) 1 else 0))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val retried = if (e.stageInfo.attemptNumber() > 0) 1 else 0
    t = t.copy(stages = t.stages + 1, retriedStages = t.retriedStages + retried)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.taskInfo != null && e.taskInfo.failed) 1 else 0
    val m = e.taskMetrics
    if (m == null) t = t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
    else {
      val read = m.shuffleReadMetrics.totalBytesRead
      val write = m.shuffleWriteMetrics.bytesWritten
      val scan = m.inputMetrics.bytesRead
      val out = m.outputMetrics.bytesWritten
      stageJob.get(e.stageId).foreach(j => jobBytes(j) = jobBytes.getOrElse(j, 0L) + read + write + scan + out)
      t = t.copy(
        tasks = t.tasks + 1, failedTasks = t.failedTasks + failed,
        taskBusyMs = t.taskBusyMs + m.executorRunTime, gcMs = t.gcMs + m.jvmGCTime,
        shuffleReadB = t.shuffleReadB + read, shuffleWriteB = t.shuffleWriteB + write,
        spillB = t.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
        scanB = t.scanB + scan, scanRows = t.scanRows + m.inputMetrics.recordsRead,
        writeB = t.writeB + out)
    }
  }
}

/** The harness's QueryExecutionListener: adds every finished query's own
  * planning-phase times (analysis, optimization, physical planning) to the
  * job recorder's tally, so no plan is ever planned a second time just to
  * be measured. */
final class PlanRecorder(jobs: JobRecorder) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    jobs.addPlan(qe.tracker)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    jobs.addPlan(qe.tracker)
}
