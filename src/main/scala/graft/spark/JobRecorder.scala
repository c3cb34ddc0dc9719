package graft.spark

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.ListenerBridge

/**
 * The library's one `SparkListener`, for what the probe mains and
 * [[TranscriptMain]] read off Spark's jobs, tasks and shuffle bytes: it
 * keeps each job's id, description, start, end and run tasks, and sums
 * jobs started, tasks, input records and shuffle bytes. Events arrive
 * asynchronously, so [[drain]] after an action before reading, and take
 * [[snapshot]]s on either side of it for the action's delta:
 *
 * {{{
 *   val rec = JobRecorder.attach(spark.sparkContext)
 *   rec.drain(); val before = rec.snapshot
 *   df.count()
 *   rec.drain(); val delta = rec.snapshot - before
 * }}}
 */
final class JobRecorder private (sc: SparkContext) extends SparkListener {
  import JobRecorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  // a stage's tasks count for the first job that lists it: later jobs list
  // already-run stages as skipped (every AQE query stage is its own job)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var started, ended, tasks, recordsRead, shuffleRead, shuffleWrite = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job description when one is set, else the result stage's call
    // site ("collect at SparkEntry.scala:123")
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("?")
    jobs(e.jobId) = Job(e.jobId, desc, e.time, -1L, 0)
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    started += 1
  }

  // a job started before the recorder was attached is not counted
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(j.id) = j.copy(end = e.time)
      ended += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach(j => jobs(j.id) = j.copy(tasks = j.tasks + 1))
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      recordsRead += m.inputMetrics.recordsRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Running totals; subtract an earlier snapshot for one action's delta. */
  def snapshot: Snapshot =
    synchronized(Snapshot(started, tasks, recordsRead, shuffleRead, shuffleWrite))

  /** Jobs started after `since` was taken, in start order. */
  def jobsSince(since: Snapshot): Seq[Job] =
    synchronized(jobs.values.drop(since.jobs.toInt).toList)

  /** Jobs started whose end event has not been processed yet. */
  def pending: Long = synchronized(started - ended)

  /**
   * Processes every queued event. A job's end event is posted before its
   * action returns, so one drain normally leaves nothing pending; the
   * bounded re-drain only guards a bus still being fed when it began. A bus
   * that stays busy (a contended host) gets a warning, not an exception:
   * the next action's delta may then include this one's events.
   */
  def drain(): Unit = {
    var busy = true
    var tries = 0
    while (busy && tries < MaxDrains) {
      try {
        ListenerBridge.drain(sc)
        busy = pending > 0
        tries += 1
      } catch { case _: java.util.concurrent.TimeoutException => tries = MaxDrains }
    }
    if (busy) {
      System.err.println(
        s"[bench] WARN settle timeout: $pending job-end event(s) unprocessed; " +
          "next query's metrics may include them")
    }
  }
}

object JobRecorder {

  private val MaxDrains = 100

  /** One job: `start` and `end` are event times in epoch ms (`end` is -1
   * until the job ends); `tasks` counts the task ends of the stages it ran. */
  final case class Job(id: Int, description: String, start: Long, end: Long, tasks: Int) {
    def wallMs: Long = if (end >= 0) end - start else -1L
  }

  /** Jobs started, task ends, input records read and shuffle bytes read and
   * written since the recorder was attached. */
  final case class Snapshot(
      jobs: Long, tasks: Long, recordsRead: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, tasks - o.tasks,
      recordsRead - o.recordsRead, shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes)
  }

  /** A recorder listening on `sc`'s bus from now on. */
  def attach(sc: SparkContext): JobRecorder = {
    val r = new JobRecorder(sc)
    sc.addSparkListener(r)
    r
  }
}
