package graftbench

import java.util.concurrent.TimeoutException

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. Spans are kept in memory and written once, at exit. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
    end: Long, run: String, attrs: Map[String, Any] = Map.empty) {
  def toJson: String = Util.json(Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_us" -> start, "end_us" -> end, "run" -> run) ++ attrs)
}

final class Spans(val run: String) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0L
  // nanoTime -> epoch micros, fixed once so spans share Spark's clock
  private val epochAtStartUs = System.currentTimeMillis() * 1000L
  private val nanoAtStart = System.nanoTime()
  def epochUs(nanoTime: Long): Long = epochAtStartUs + (nanoTime - nanoAtStart) / 1000L

  def add(parent: Long, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, Any] = Map.empty): Long = synchronized {
    nextId += 1
    buf += Span(nextId, parent, name, startUs, endUs, run, attrs)
    nextId
  }
  def all: Seq[Span] = synchronized(buf.toList)
  def write(p: java.nio.file.Path): Unit =
    Util.write(p, all.map(_.toJson).mkString("", "\n", "\n"))
}

/** Job, stage and task bookkeeping through Spark's public listener API.
  * Stage metrics are taken from the aggregated `StageInfo.taskMetrics` at
  * stage completion, so the per-task cost of tracing is one counter. */
final class JobRecorder extends SparkListener {
  final case class JobRec(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class StageRec(stageId: Int, submit: Long, complete: Long,
      numTasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, resultBytes: Long,
      spillBytes: Long, inBytes: Long, inRecords: Long, shWrite: Long,
      shRead: Long, fetchWaitMs: Long)

  private val lock = new Object
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  // started and not yet ended; a listener attached mid-run also sees ends
  // of jobs it never saw start, which are ignored
  private val openJobs = scala.collection.mutable.Set.empty[Int]
  private val openStages = scala.collection.mutable.Set.empty[(Int, Int)]
  @volatile var taskFailures = 0L
  private val markersSeen = scala.collection.mutable.Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobRec(e.jobId, group, e.time, e.stageIds)
    // a stage runs in the first job that lists it; later jobs skip it
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    openJobs += e.jobId
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.end = e.time
      if (j.group.startsWith(JobRecorder.MarkerPrefix)) markersSeen += j.group
    }
    openJobs -= e.jobId
    lock.notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized { openStages += ((e.stageInfo.stageId, e.stageInfo.attemptNumber)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.resultSize,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime)
    }
    openStages -= ((i.stageId, i.attemptNumber))
    lock.notifyAll()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) taskFailures += 1

  def jobOfStage(stageId: Int): Option[Int] = lock.synchronized(stageJob.get(stageId))
  def snapshotJobs: Seq[JobRec] = lock.synchronized(jobs.toList)
  def snapshotStages: Seq[StageRec] = lock.synchronized(stages.toList)

  private var markerN = 0
  /** Wait, without sleeping, until this listener has seen every event
    * posted before the call: a one-task marker job runs after the traced
    * work, and the shared listener queue is FIFO, so once the marker's
    * end arrives every earlier job and stage event has been delivered.
    * Then every job and stage seen starting must also have ended. The
    * wait is bounded and fails loudly. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    markerN += 1
    val marker = s"${JobRecorder.MarkerPrefix}$markerN"
    sc.setJobGroup(marker, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      def done = markersSeen(marker) && openJobs.isEmpty && openStages.isEmpty
      while (!done) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new TimeoutException(s"listener drain timed out after " +
            s"${timeoutMs} ms: marker seen=${markersSeen(marker)}, open jobs " +
            s"${openJobs.toSeq.sorted}, open stages ${openStages.toSeq.sorted}")
        lock.wait(left)
      }
    }
  }
}

object JobRecorder { val MarkerPrefix = "graftbench-marker-" }

/** Catalyst phase times of every query execution, from each execution's
  * `QueryPlanningTracker`. Executions are attributed to a pass by the
  * start time of their first phase. */
final class PlanRecorder extends QueryExecutionListener {
  final case class Exec(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  val execs = ArrayBuffer.empty[Exec]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    synchronized {
      execs += Exec(start, d("analysis"), d("optimization"), d("planning"))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  def snapshot: Seq[Exec] = synchronized(execs.toList)
}
