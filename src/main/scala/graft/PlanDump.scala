package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/**
 * Writes `.explain("formatted")` of every declared query's returned frame
 * plus a per-query job/shuffle summary (the plan-shape evidence for the
 * optimization-round artifacts under plans/rNN/). Queries whose bodies run
 * internal actions execute them as part of building the frame; their
 * interesting "plan" is the job trace, which is appended after the explain
 * text.
 *
 * Usage: SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.PlanDump plans/r07 _after [sfDir]"
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(desc: String, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobs.put(e.jobId, Job(desc, e.stageInfos.map(_.numTasks).sum))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    })

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        jobs.clear()
        val r0 = shufRead.get()
        val df = fn(spark, sfDir)
        val explain = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        df.write.format("noop").mode("overwrite").save() // run the frame itself
        ListenerBridge.drain(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val trace = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
          f"  job $id%3d  ${j.tasks}%4d tasks  ${j.desc.take(80)}"
        }
        val body =
          s"== ${name} ($suffix) ==\n\n$explain\n" +
            s"== jobs while building + running the returned frame " +
            s"(${trace.size} jobs, ${shufRead.get() - r0} B shuffle read) ==\n" +
            trace.mkString("\n") + "\n"
        java.nio.file.Files.write(
          outDir.resolve(s"$name$suffix.txt"), body.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name: ok (${trace.size} jobs)")
      } catch {
        case t: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $t")
          java.nio.file.Files.write(
            outDir.resolve(s"$name$suffix.txt"),
            s"PLANDUMP FAILED: $t".getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
