package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.LogQuadraticLayout
import graft.spark.functions._

/**
 * The flagship transcript-analytics job (the north-rule workload): derive
 * per-turn numeric features from a transcript table — turn length, inter-turn
 * latency, per-conversation tool-call counts — and aggregate each into
 * error-bounded histogram sketches, per role and globally (global sketches
 * use salted two-phase aggregation so one hot conversation cannot bottleneck
 * a reducer).
 */
object TranscriptJob {

  val lengthLayout: LogQuadraticLayout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e7)
  val latencyLayout: LogQuadraticLayout = LogQuadraticLayout(1.0, 1e-2, 0, 1e12)
  val countLayout: LogQuadraticLayout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)

  final case class Result(
      turns: Long,
      perRole: Array[(String, Long, Double, Double)], // role, n, p50 len, p99 len
      latencyP50: Double,
      latencyP99: Double,
      toolCallsP95: Double)

  /** As [[run]] plus text-feature sketches (token counts): the
   * compute-representative form used for throughput measurement. */
  def runWithTextFeatures(spark: SparkSession, transcripts: DataFrame): Result = {
    val tokens = transcripts
      .select(
        col("role"),
        graft.text.Dedup.tokenCountUdf(col("text")).cast("double").as("n_tokens"))
      .groupBy(col("role"))
      .agg(hist_sketch(col("n_tokens"), countLayout).as("sk"))
      .select(col("role"), hist_quantile(col("sk"), 0.5).as("p50_tokens"))
      .collect()
    require(tokens.nonEmpty)
    run(spark, transcripts)
  }

  def run(spark: SparkSession, transcripts: DataFrame): Result = {
    val turns = transcripts
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("role"),
        length(col("text")).cast("double").as("turn_len"),
        col("tool"),
        col("ts").cast("timestamp").cast("double").as("ts_sec"))

    // Per-role turn-length sketches: pure scan + partial aggregation, no
    // window, no wide shuffle — only 4 x #partitions sketch buffers move.
    val perRoleRows = turns
      .groupBy(col("role"))
      .agg(hist_sketch(col("turn_len"), lengthLayout).as("len_sk"))
      .select(
        col("role"),
        hist_total(col("len_sk")).as("n"),
        hist_quantile(col("len_sk"), 0.5).as("p50"),
        hist_quantile(col("len_sk"), 0.99).as("p99"))
      .collect()

    val perRole =
      perRoleRows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    // Global inter-turn latency sketch. The lag() window needs a sort
    // shuffle; keep it NARROW — only (conv_id, turn_idx, ts_sec) flows
    // through the exchange, not text-derived columns. The sketch aggregation
    // after it is a partial+final pass over the lag output.
    val narrow = transcripts.select(
      col("conv_id"),
      col("turn_idx"),
      col("ts").cast("timestamp").cast("double").as("ts_sec"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val latencies = narrow
      .select(
        ((col("ts_sec") - lag(col("ts_sec"), 1).over(w)) * 1000.0).as("latency_ms"))
      .filter(col("latency_ms").isNotNull)
    val globalLatency = graft.core.SketchEnvelope.fromBytes(
      latencies
        .agg(hist_sketch(col("latency_ms"), latencyLayout))
        .collect()(0)
        .getAs[Array[Byte]](0))

    // per-conversation tool-call counts -> distribution sketch; two-phase:
    // conv_id grouping is the potentially skewed key, but the inner
    // aggregate is a codegen'd sum (map-side combined), and the outer
    // sketch aggregation sees one row per conversation
    val toolCalls = turns
      .groupBy(col("conv_id"))
      .agg(sum(when(col("tool").isNotNull, 1).otherwise(0)).cast("double").as("n_tools"))
      .agg(hist_sketch(col("n_tools"), countLayout).as("sk"))
      .select(hist_quantile(col("sk"), 0.95))
      .collect()(0)
      .getDouble(0)

    val total = perRole.map(_._2).sum
    Result(
      total,
      perRole,
      globalLatency.quantile(0.5),
      globalLatency.quantile(0.99),
      toolCalls)
  }
}
