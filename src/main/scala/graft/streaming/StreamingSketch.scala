package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{Layout, SketchEnvelope}

/**
 * Structured-streaming surface for the sketches. The aggregators are
 * streaming-ready by construction (bounded state, associative merge), so
 * they compose with windowed streaming aggregation directly; for explicit
 * per-key state we keep the serialized sketch envelope in a
 * `flatMapGroupsWithState` state cell and merge each micro-batch into it.
 */
object StreamingSketch {

  /** Event-time windowed histogram sketches: standard watermark + window
   * grouping with `hist_sketch` as the aggregate. The state store holds
   * each window's V1-serialized aggregation buffer, so a checkpoint is
   * tied to that buffer format. */
  def windowedHistogram(
      events: DataFrame,
      tsCol: String,
      valueCol: String,
      layout: Layout,
      windowDuration: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(graft.spark.functions.hist_sketch(col(valueCol), layout).as("sketch"))
      .select(
        col("window.start").as("window_start"),
        graft.spark.functions.hist_total(col("sketch")).as("n"),
        graft.spark.functions.hist_quantile(col("sketch"), 0.5).as("p50"),
        col("sketch"))

  /** [[statefulPerKeyHistogram]] variant that emits the key's full updated
   * sketch bytes each micro-batch — the shape for downstream sinks that
   * keep the latest per-key sketch row (any histogram query can then run on
   * the final state: total/min/max/quantiles/bins). */
  def statefulPerKeyHistogramSketch(
      rows: Dataset[(String, Double)],
      layout: Layout): Dataset[(String, Long, Array[Byte])] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, values: Iterator[(String, Double)], state: GroupState[Array[Byte]]) => {
          val h =
            if (state.exists) SketchEnvelope.fromBytes(state.get)
            else graft.core.Histogram(layout)
          values.foreach(v => h.addValue(v._2))
          val bytes = SketchEnvelope.toBytes(h)
          state.update(bytes)
          Iterator.single((key, h.totalCount, bytes))
        })
  }

  /** Streaming exact deduplication: canonical-fingerprint `dropDuplicates`
   * whose state — one 8-byte key per distinct document, never the text —
   * carries across micro-batches, so a duplicate arriving any number of
   * batches after its first occurrence is suppressed. This is the
   * streaming form of [[graft.text.Dedup]]'s exact dedup (same canonical
   * 64-bit fingerprint; representative = first-processed occurrence rather
   * than min-id): exactly one output row per distinct canonical text. When
   * event-time retention bounds are acceptable, compose `withWatermark` +
   * `dropDuplicatesWithinWatermark` instead to keep state finite. */
  def streamingExactDedup(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("fp", graft.text.Dedup.fingerprintUdf(col(textCol)))
      .dropDuplicates("fp")

  /** Bounded-state variant of [[streamingExactDedup]]: a duplicate is
   * suppressed only while its first occurrence's dedup state is inside the
   * watermark delay; the state store evicts expired fingerprints as the
   * event-time watermark advances, so state stays finite on an unbounded
   * stream (a re-occurrence after eviction re-emits — the standard
   * retention trade for infinite-stream dedup). */
  def streamingExactDedupWithinWatermark(
      docs: DataFrame,
      textCol: String,
      tsCol: String,
      delay: String): DataFrame =
    docs
      .withWatermark(tsCol, delay)
      .withColumn("fp", graft.text.Dedup.fingerprintUdf(col(textCol)))
      .dropDuplicatesWithinWatermark("fp")

  /** Per-key running sketch state: each micro-batch's values merge into the
   * key's serialized sketch; emits (key, total, p50) after every update. */
  def statefulPerKeyHistogram(
      rows: Dataset[(String, Double)],
      layout: Layout): Dataset[(String, Long, Double)] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, values: Iterator[(String, Double)], state: GroupState[Array[Byte]]) => {
          val h =
            if (state.exists) SketchEnvelope.fromBytes(state.get)
            else graft.core.Histogram(layout)
          values.foreach(v => h.addValue(v._2))
          state.update(SketchEnvelope.toBytes(h))
          Iterator.single((key, h.totalCount, h.quantile(0.5)))
        })
  }
}
