package graft

import graft.spark.JobRecorder

/**
 * The query probe. For each `SparkEntry` query it writes `.explain("formatted")`
 * of the returned frame and the job trace of one pass, run after a warm-up
 * pass and counted as Bench counts it (queries that run internal actions
 * run them while building the frame). The trace gives each job's wall
 * time, tasks and description, then the sum of job walls, the time some
 * job ran, the total and the driver-gap share: what tells a query of many
 * short sequential jobs from a data-bound one. The files are the plan-shape
 * evidence under plans/rNN/.
 *
 * Usage: sbt -batch "runMain graft.PlanDump plans/r07 _after [sfDir [query ...]]"
 * (every query unless some are named; `SPARK_GRAFT_CPUS` defaults to the
 * host's cores).
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [sfDir [query ...]]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(outDir)
    val spark = LocalSession(LocalSession.cpus())
    val recorder = JobRecorder.attach(spark.sparkContext)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val body = try {
        fn(spark, sfDir).count() // warm-up
        recorder.drain()
        val before = recorder.snapshot
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildNs = System.nanoTime() - t0
        // explained before it runs, like the plans/rNN/ files of earlier rounds
        val explain = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val t1 = System.nanoTime()
        df.count()
        val totalMs = (buildNs + System.nanoTime() - t1) / 1e6
        recorder.drain()
        val delta = recorder.snapshot - before
        val jobs = recorder.jobsSince(before)
        System.err.println(s"[plandump] $name: ok (${jobs.size} jobs)")
        s"== $name ($suffix) ==\n\n$explain\n" +
          s"== jobs while building + running the returned frame " +
          s"(${jobs.size} jobs, ${delta.shuffleReadBytes} B shuffle read) ==\n" +
          jobs.map { j =>
            val desc = j.description.replace('\n', ' ').trim.take(80)
            f"  job ${j.id}%3d  ${j.wallMs}%6d ms  ${j.tasks}%4d tasks  $desc"
          }.mkString("\n") + "\n" + gapLine(jobs, totalMs) + "\n"
      } catch {
        case t: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $t")
          s"PLANDUMP FAILED: $t"
      }
      java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"), body.getBytes("UTF-8"))
    }
    spark.stop()
  }

  /** Sum of job walls, time at least one job ran (an AQE query's jobs can
   * overlap), the total, and the share of the total no job covers. */
  private def gapLine(jobs: Seq[JobRecorder.Job], totalMs: Double): String = {
    val done = jobs.filter(_.end >= 0).sortBy(_.start)
    val (busyMs, _) = done.foldLeft((0L, 0L)) { case ((busy, reach), j) =>
      (busy + math.max(0L, j.end - math.max(j.start, reach)), math.max(reach, j.end))
    }
    String.format(java.util.Locale.ROOT,
      "  sum of job walls %.3f s, jobs running %.3f s, total %.3f s, driver gap %.1f%%",
      Double.box(done.map(_.wallMs).sum / 1e3), Double.box(busyMs / 1e3),
      Double.box(totalMs / 1e3), Double.box(100 * math.max(0.0, 1 - busyMs / totalMs)))
  }
}
