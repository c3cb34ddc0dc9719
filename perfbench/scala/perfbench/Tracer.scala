package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counts attributed to one span (or to the whole run). */
final class Counts {
  var jobs = 0L
  var failedJobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakExecMemBytes = 0L

  def json: String = Json.obj(Seq(
    "jobs" -> Json.num(jobs), "failed_jobs" -> Json.num(failedJobs),
    "tasks" -> Json.num(tasks), "task_ns" -> Json.num(taskNs),
    "shuffle_write_bytes" -> Json.num(shuffleWriteBytes),
    "shuffle_read_bytes" -> Json.num(shuffleReadBytes),
    "spill_bytes" -> Json.num(spillBytes), "gc_ms" -> Json.num(gcMs),
    "peak_exec_mem_bytes" -> Json.num(peakExecMemBytes)))
}

/**
 * The benchmark's one listener. Every job carries the id of the span that
 * issued it as a local property; its stages and tasks are counted against
 * that span. Span id -1 collects jobs issued outside any traced span.
 */
final class Recorder extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, Counts]
  val total = new Counts
  private var started = 0L
  private var ended = 0L

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan(s) = span)
    at(span).jobs += 1
    total.jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    e.jobResult match {
      case JobSucceeded =>
      case _ => total.failedJobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    for (c <- Seq(at(span), total)) {
      c.tasks += 1
      if (e.taskInfo != null) c.taskNs += e.taskInfo.duration * 1000000L
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  def countsOf(span: Int): Option[Counts] = synchronized(bySpan.get(span))
  def pending: Long = synchronized(started - ended)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)

/**
 * In-memory spans around the benchmark's calls into each layer. With
 * tracing off, [[span]] only runs its body: no property, no drain, no
 * record. With tracing on, each span tags the jobs it issues and, when it
 * ends, drains the listener bus so its counts are complete.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean, val recorder: Recorder) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def settle(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    // a job-end event is posted before its action returns; the loop only
    // guards a bus that was still being fed when the drain began
    var tries = 0
    while (recorder.pending > 0 && tries < 100) {
      org.apache.spark.perfbench.Bus.drain(sc)
      tries += 1
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
        settle()
      }
    }

  /** The most recently closed span. */
  def lastClosed: Option[Span] = spans.reverseIterator.find(_.endNs != 0L)

  def json: String = Json.arr(spans.map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id.toLong), "parent" -> Json.num(s.parent.toLong),
      "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs),
      "end_ns" -> Json.num(s.endNs),
      "counts" -> recorder.countsOf(s.id).map(_.json).getOrElse("null")))
  })
}

object Tracer {
  val SpanKey = "perfbench.span"
}
