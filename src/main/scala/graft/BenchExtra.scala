package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.functions._

/**
 * Supplementary measurements OUTSIDE the frozen driver bench (guide §1.4):
 * per-probe wall time plus exact shuffle read/write bytes from a listener.
 *
 * Probes:
 *  - hll_partials_G: grouped native hll_sketch at G group cardinality —
 *    the partial-aggregation buffers ARE the shuffle payload, so this
 *    measures the partial-buffer encoding (dense 1+2^p bytes vs the sparse
 *    (index-delta, rank) form) at the group cardinalities where it matters.
 *  - cms/bloom partials for the same shape (dense reference points).
 *
 * Usage: SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.BenchExtra"
 * Prints one JSON line; not part of the driver contract.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
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

    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    def measure(name: String)(body: => Unit): String = {
      spark.sparkContext.setJobDescription(name)
      body // warm-up
      ListenerBridge.drain(spark.sparkContext)
      val (r0, w0) = (shufRead.get(), shufWrite.get())
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext) // task-end events
      val json = f"""\"$name\":{\"sec\":$sec%.3f,\"shuffle_read_bytes\":${shufRead
          .get() - r0},\"shuffle_write_bytes\":${shufWrite.get() - w0}}"""
      spark.sparkContext.setJobDescription(null)
      json
    }

    val n = 4000000L
    val out = Seq(100, 10000, 100000).map { g =>
      measure(s"hll_partials_$g") {
        spark
          .range(0, n, 1, cpus.toInt * 2)
          .groupBy(pmod(col("id"), lit(g)).as("g"))
          .agg(graft.spark.expressions.HllSketchAgg(col("id"), 14).as("sk"))
          .write.format("noop").mode("overwrite").save()
      }
    } ++ Seq(
      measure("cms_partials_10000") {
        spark
          .range(0, n, 1, cpus.toInt * 2)
          .groupBy(pmod(col("id"), lit(10000)).as("g"))
          .agg(graft.spark.expressions.CountMinSketchAgg(col("id"), 5, 2048).as("sk"))
          .write.format("noop").mode("overwrite").save()
      },
      measure("hll_string_keys_4") {
        // q04-shaped: few groups, string items — the per-row hashing path
        spark
          .range(0, n, 1, cpus.toInt * 2)
          .select(pmod(col("id"), lit(4)).as("g"),
            concat(lit("user_"), col("id")).cast("string").as("s"))
          .groupBy(col("g"))
          .agg(graft.spark.expressions.HllSketchAgg(col("s"), 14).as("sk"))
          .write.format("noop").mode("overwrite").save()
      })
    println(s"{${out.mkString(",")}}")
    spark.stop()
  }
}
