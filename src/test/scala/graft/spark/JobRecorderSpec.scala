package graft.spark

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class JobRecorderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  test("per-action deltas hold exactly that action's jobs, tasks and shuffle bytes") {
    val recorder = JobRecorder.attach(spark.sparkContext)
    try {
      recorder.drain()
      val s0 = recorder.snapshot
      // 4 map tasks write the repartition shuffle and 3 reducers read it;
      // the count adds a one-task final stage
      assert(spark.range(0, 10000, 1, 4).repartition(3).count() == 10000L)
      recorder.drain()
      val s1 = recorder.snapshot
      // one job, two tasks, no shuffle
      assert(spark.sparkContext.parallelize(1 to 10, 2).count() == 10L)
      recorder.drain()
      val s2 = recorder.snapshot
      assert(recorder.pending == 0L)

      // AQE runs each query stage as its own job
      val first = s1 - s0
      val firstJobs = recorder.jobsSince(s0).take(first.jobs.toInt)
      assert(first.jobs == 3L && firstJobs.map(_.tasks) == Seq(4, 3, 1), firstJobs)
      assert(firstJobs.forall(_.end >= 0L))
      assert(first.tasks == 8L && first.recordsRead == 10000L, first)
      assert(first.shuffleWriteBytes > 0L, first)
      assert(first.shuffleReadBytes == first.shuffleWriteBytes, first)

      val second = s2 - s1
      assert(second == JobRecorder.Snapshot(1L, 2L, 0L, 0L, 0L), second)
      val secondJobs = recorder.jobsSince(s1)
      assert(secondJobs.map(j => (j.tasks, j.end >= j.start)) == Seq((2, true)), secondJobs)
      assert(secondJobs.head.id > firstJobs.last.id)
      // no job description is set: the result stage's call site stands in
      assert(secondJobs.head.description.startsWith("count at JobRecorderSpec.scala"),
        secondJobs)
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("the end of a job started before attach does not hide a pending job") {
    val recorder = JobRecorder.attach(spark.sparkContext)
    try {
      recorder.onJobEnd(SparkListenerJobEnd(-1, 0L, JobSucceeded))
      recorder.onJobStart(SparkListenerJobStart(-2, 0L, Seq.empty))
      assert(recorder.pending == 1L)
      recorder.onJobEnd(SparkListenerJobEnd(-2, 5L, JobSucceeded))
      assert(recorder.pending == 0L)
      assert(recorder.jobsSince(JobRecorder.Snapshot(0L, 0L, 0L, 0L, 0L)) ==
        Seq(JobRecorder.Job(-2, "?", 0L, 5L, 0)))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }
}
