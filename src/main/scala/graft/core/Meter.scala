package graft.core

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement layer: a Spark listener that counts jobs, tasks
  * and bytes per job description, keeps every completed stage's
  * `StageInfo`, and, as a query-execution listener, the last
  * `QueryExecution`.
  *
  * Job descriptions are Spark's own attribution channel: they propagate
  * to every job an action spawns, and [[graft.sources.GraftTable]] tags
  * each internal action with one (`graft.digest.write`, ...). Jobs with
  * no description count under [[Meter.Untagged]], so [[total]] covers
  * every job the meter saw.
  *
  * Use it through [[Meter.measure]], which drains the listener bus before
  * it returns: a reading taken right after needs no sleep.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  import Meter._

  private val byDesc = mutable.LinkedHashMap.empty[String, Counts]
  private val stageDesc = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val completed = mutable.ArrayBuffer.empty[StageInfo]
  @volatile private var last: Option[QueryExecution] = None

  private def add(desc: String, c: Counts): Unit =
    byDesc(desc) = byDesc.getOrElse(desc, Counts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(Untagged)
    jobStart(e.jobId) = (desc, e.time)
    e.stageIds.foreach(stageDesc(_) = desc)
    add(desc, Counts(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (desc, t0) =>
      add(desc, Counts(wallMs = e.time - t0))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      add(stageDesc.getOrElse(e.stageId, Untagged), Counts.of(e.taskMetrics))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { completed += e.stageInfo; () }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    last = Some(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    last = Some(qe)

  /** Every job the meter saw, summed. */
  def total: Counts = synchronized { byDesc.values.foldLeft(Counts())(_ + _) }

  /** Counts per job description, in first-seen order. */
  def phases: Seq[(String, Counts)] = synchronized { byDesc.toSeq }

  /** Completed stages, by stage id. */
  def stages: Seq[StageInfo] = synchronized { completed.sortBy(_.stageId).toSeq }

  def lastExecution: Option[QueryExecution] = last
}

object Meter {
  val Untagged = "(untagged)"

  /** Counters of a group of Spark jobs. Times are in milliseconds:
    * `cpuMs` is task executor CPU, the one figure that idle cores, GC
    * stalls and a noisy disk cannot distort; `runMs` is task wall, so
    * cpu/run is a stall signal; `wallMs` sums each job's own wall. Peak
    * execution memory is the largest of any task; the rest are sums. */
  final case class Counts(jobs: Long = 0, tasks: Long = 0,
      cpuMs: Long = 0, runMs: Long = 0, wallMs: Long = 0,
      memSpill: Long = 0, diskSpill: Long = 0, peakExec: Long = 0,
      inBytes: Long = 0, inRecords: Long = 0,
      outBytes: Long = 0, outRecords: Long = 0,
      shufRead: Long = 0, shufWrite: Long = 0) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
      cpuMs + o.cpuMs, runMs + o.runMs, wallMs + o.wallMs,
      memSpill + o.memSpill, diskSpill + o.diskSpill,
      math.max(peakExec, o.peakExec),
      inBytes + o.inBytes, inRecords + o.inRecords,
      outBytes + o.outBytes, outRecords + o.outRecords,
      shufRead + o.shufRead, shufWrite + o.shufWrite)
  }

  object Counts {
    def of(m: TaskMetrics): Counts = Counts(tasks = 1,
      cpuMs = m.executorCpuTime / 1000000L, runMs = m.executorRunTime,
      memSpill = m.memoryBytesSpilled, diskSpill = m.diskBytesSpilled,
      peakExec = m.peakExecutionMemory,
      inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
      outBytes = m.outputMetrics.bytesWritten,
      outRecords = m.outputMetrics.recordsWritten,
      shufRead = m.shuffleReadMetrics.totalBytesRead,
      shufWrite = m.shuffleWriteMetrics.bytesWritten)
  }

  /** Run `body` under a fresh meter: attach it, run, drain the listener
    * bus, detach. Returns the result and the drained meter, whose
    * [[Meter.total]] holds the totals. Draining is exact: the scheduler
    * posts a job's task, stage and job-end events before the action that
    * waits on the job returns. */
  def measure[A](spark: SparkSession)(body: => A): (A, Meter) = {
    val m = new Meter
    val sc = spark.sparkContext
    sc.addSparkListener(m)
    spark.listenerManager.register(m)
    try {
      val r = body
      GraftListenerBus.drain(sc)
      (r, m)
    } finally {
      spark.listenerManager.unregister(m)
      sc.removeSparkListener(m)
    }
  }
}
