package graft.spark

import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the flagship transcript job:
 *
 * {{{
 *   spark-submit \
 *     --class graft.spark.TranscriptMain \
 *     --conf spark.sql.extensions=graft.spark.GraftExtensions \
 *     dynahistspark.jar <transcripts.parquet> <outDir>
 * }}}
 *
 * Reads the transcript table (conv_id, turn_idx, role, text, tool, ts), runs
 * [[TranscriptJob.runWithTextFeatures]], and writes:
 *  - `<outDir>/per_role.parquet` — role, per-role sketch-derived stats
 *  - `<outDir>/summary.json`    — global latency/tool-call quantiles
 *  - `<outDir>/metrics.json`    — [[JobRecorder]] job metrics (records read,
 *    shuffle bytes written, tasks completed, wall seconds) for the
 *    observability contract; file-granular lineage is available through
 *    [[Pipeline.CheckpointedSketch]] when checkpoint-resumable execution
 *    is required.
 *
 * The master is taken from spark-submit / the environment; standalone local
 * runs fall back to local[*].
 */
object TranscriptMain {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: TranscriptMain <transcripts.parquet> <outDir>")
    val Array(input, outDir) = args
    val builder = SparkSession
      .builder()
      .appName("graft-transcripts")
      .config("spark.sql.session.timeZone", "UTC")
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
         builder
       else builder.master("local[*]")).getOrCreate()

    val recorder = JobRecorder.attach(spark.sparkContext)
    val t0 = System.nanoTime()

    val transcripts = spark.read.parquet(input)
    val result = TranscriptJob.runWithTextFeatures(spark, transcripts)

    import spark.implicits._
    result.perRole.toSeq
      .toDF("role", "n_turns", "p50_turn_len", "p99_turn_len")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$outDir/per_role.parquet")

    val wallSec = (System.nanoTime() - t0) / 1e9
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def jsonNum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/summary.json"),
      s"""{"turns":${result.turns},"latency_p50_ms":${jsonNum(result.latencyP50)},""" +
        s""""latency_p99_ms":${jsonNum(result.latencyP99)},""" +
        s""""tool_calls_p95":${jsonNum(result.toolCallsP95)}}""")
    // the last job's task-end events may still be queued on the bus
    recorder.drain()
    val m = recorder.snapshot
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/metrics.json"),
      s"""{"records_read":${m.recordsRead},""" +
        s""""shuffle_bytes_written":${m.shuffleWriteBytes},""" +
        s""""tasks_completed":${m.tasks},""" +
        s""""wall_sec":${jsonNum(wallSec)}}""")

    // stop only sessions we effectively own (spark-submit / env-configured
    // masters); in-process callers (tests) keep their shared session alive
    if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")) {
      spark.stop()
    } else {
      spark.sparkContext.removeSparkListener(recorder)
    }
  }
}
