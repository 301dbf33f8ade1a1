package sybilbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program. Durations are
  * always measured (the end-to-end metrics come from them); spans are
  * recorded only when tracing is on. While a span is open, every Spark job
  * the client thread submits carries the span id as a local property, so
  * [[JobListener]] can attribute jobs, tasks and I/O to the span that
  * launched them. Spans stay in memory and are written out at exit.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startUs: Long,
      endUs: Long, attrs: Map[String, Any])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  private var sc: Option[SparkContext] = None
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000

  /** Wall clock in microseconds, monotonic within the run. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  /** Jobs submitted from now on are tagged with the open span. */
  def attach(context: SparkContext): Unit = sc = Some(context)

  private def tag(id: Option[Int]): Unit =
    if (enabled) sc.foreach(_.setLocalProperty(Tracer.SpanProp, id.map(_.toString).orNull))

  /** Run `f` inside a span; returns its result and duration in seconds. */
  def span[A](name: String)(f: => A): (A, Double) = span(name, (_: A) => Map.empty[String, Any])(f)

  /** As above; `attrs` is evaluated after `f`, outside the span's time, so
    * it can describe what `f` did. */
  def span[A](name: String, attrs: A => Map[String, Any])(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open ::= id
    tag(Some(id))
    val t0 = nowUs
    val n0 = System.nanoTime()
    val out = try f finally {
      open = open.tail
      tag(open.headOption)
    }
    val secs = (System.nanoTime() - n0) / 1e9
    if (enabled) spans += Span(id, name, parent, t0, nowUs, attrs(out))
    (out, secs)
  }

  /** Write spans, jobs and run-level values as one JSON document. */
  def write(path: Path, jobs: Seq[JobListener.Job], meta: Map[String, Any]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    def put(o: com.fasterxml.jackson.databind.node.ObjectNode, k: String, v: Any): Unit = v match {
      case x: Int => o.put(k, x)
      case x: Long => o.put(k, x)
      case x: Double => o.put(k, x)
      case x: Boolean => o.put(k, x)
      case x => o.put(k, String.valueOf(x))
    }
    val mo = root.putObject("meta")
    meta.foreach { case (k, v) => put(mo, k, v) }
    val sa = root.putArray("spans")
    spans.foreach { s =>
      val o = sa.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_us", s.startUs); o.put("end_us", s.endUs)
      val a = o.putObject("attrs")
      s.attrs.foreach { case (k, v) => put(a, k, v) }
    }
    val ja = root.putArray("jobs")
    jobs.foreach { j =>
      val o = ja.addObject()
      o.put("job", j.id); o.put("span", j.span)
      o.put("start_us", j.startMs * 1000); o.put("end_us", j.endMs * 1000)
      o.put("tasks", j.tasks); o.put("cpu_ns", j.cpuNs)
      o.put("in_records", j.inRecords); o.put("in_bytes", j.inBytes)
      o.put("out_records", j.outRecords); o.put("out_bytes", j.outBytes)
    }
    Files.write(path, m.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanProp = "sybilbench.span"
}

/** Counts jobs, tasks, executor CPU and input/output records and bytes per
  * job, keyed by the span that submitted the job. */
final class JobListener extends SparkListener {
  import JobListener.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = Job(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.inRecords += m.inputMetrics.recordsRead
      j.inBytes += m.inputMetrics.bytesRead
      j.outRecords += m.outputMetrics.recordsWritten
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.map(_.copy()).toSeq)
}

object JobListener {
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long = 0,
      var tasks: Long = 0, var cpuNs: Long = 0, var inRecords: Long = 0,
      var inBytes: Long = 0, var outRecords: Long = 0, var outBytes: Long = 0)
}
