package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/**
 * Per-job profiler for a single driver query: runs `SparkEntry.queries(name)`
 * under the Bench session config (warm-up + measured pass) and prints every
 * Spark job's wall time, description, and task count — the tool that tells a
 * fixed-overhead-bound query (many short sequential jobs) apart from a
 * data-bound one, job by job.
 *
 * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.QueryProbe q29_dedup_clustered [sfDir]"
 */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProbe <queryName> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
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

    final case class Job(desc: String, start: Long, var end: Long = -1L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, Job(desc, e.time, tasks = e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    }

    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm-up (JIT, file listing, code cache)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val totalSec = (System.nanoTime() - t0) / 1e9
    ListenerBridge.drain(spark.sparkContext) // trailing job-end events

    import scala.jdk.CollectionConverters._
    val rows = jobs.asScala.toSeq.sortBy(_._1)
    println(f"== $name: ${rows.size} jobs, $totalSec%.2f s total (measured pass) ==")
    var covered = 0L
    rows.foreach { case (id, j) =>
      val ms = if (j.end >= 0) j.end - j.start else -1L
      covered += math.max(0L, ms)
      println(f"  job $id%3d  $ms%6d ms  ${j.tasks}%4d tasks  ${j.desc.take(90)}")
    }
    println(f"  sum of job walls: ${covered / 1000.0}%.2f s " +
      f"(gap to total = driver/planning time between jobs)")
    spark.stop()
  }
}
