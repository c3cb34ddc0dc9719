package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.core._
import graft.sketches._
import graft.spark.expressions._

/**
 * Column-level sketch API: aggregation functions producing sketch bytes, and
 * scalar functions querying them.
 *
 * Every aggregation is a native `TypedImperativeAggregate`
 * ([[graft.spark.expressions]]): it runs as a partial aggregate per input
 * partition, ships each group's buffer across the shuffle in the sketch's
 * compact wire format, and merges the partials in a final aggregate. The
 * same classes back the SQL names, which [[functions.registerAll]] and
 * [[GraftExtensions]] both install from one table
 * ([[GraftExtensions.functionTable]]). Building a sketch aggregate column
 * installs [[PullOutSketchInputs]] on the active session.
 */
object functions {

  // -------------------------------------------------------------------------
  // aggregation columns
  // -------------------------------------------------------------------------

  /** Error-bounded histogram sketch of a column cast to double. */
  def hist_sketch(c: Column, layout: Layout): Column =
    HistogramSketchAgg(c, layout)

  /** Alias of [[hist_sketch]]: the histogram has one counter store, so
   * this builds the same aggregate, and Spark computes the two over one
   * input once. */
  def hist_sketch_packed(c: Column, layout: Layout): Column = hist_sketch(c, layout)

  /** Alias of [[hist_sketch]]. */
  def hist_sketch_binary(c: Column, layout: Layout): Column = hist_sketch(c, layout)

  /** Count-weighted histogram sketch over (value as double, weight as long). */
  def hist_sketch_weighted(value: Column, weight: Column, layout: Layout): Column =
    HistogramSketchWeightedAgg(value, weight, layout)

  /** Alias of [[hist_sketch_weighted]]. */
  def hist_sketch_weighted_binary(value: Column, weight: Column, layout: Layout): Column =
    hist_sketch_weighted(value, weight, layout)

  /** HyperLogLog sketch of a column cast to string. */
  def hll_sketch(c: Column, precision: Int = Hll.DefaultPrecision): Column =
    HllSketchAgg(c.cast("string"), precision)

  /** HyperLogLog sketch of a column cast to long. */
  def hll_sketch_long(c: Column, precision: Int = Hll.DefaultPrecision): Column =
    HllSketchAgg(c.cast("long"), precision)

  /** Count-min frequency sketch of a column cast to string. */
  def cms_sketch(c: Column, depth: Int = 5, width: Int = 2048): Column =
    CountMinSketchAgg(c.cast("string"), depth, width)

  /** Count-weighted count-min sketch over (item as string, weight as long). */
  def cms_sketch_weighted(
      item: Column,
      weight: Column,
      depth: Int = 5,
      width: Int = 2048): Column =
    CountMinWeightedSketchAgg(item.cast("string"), weight, depth, width)

  /** Bloom filter of a column cast to long. */
  def bloom_sketch(c: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    BloomSketchAgg(c.cast("long"), expectedItems, fpp)

  /** t-digest quantile sketch of a column cast to double. */
  def tdigest_sketch(c: Column, compression: Double = 100.0): Column =
    TDigestSketchAgg(c, compression)

  /** KLL rank/quantile sketch of a column cast to double. */
  def kll_sketch(c: Column, k: Int = 200): Column = KllSketchAgg(c, k)

  /** Re-merge aggregators over stored sketch byte columns — the second
   * level of two-level rollups (per-day sketch tables -> monthly) and of
   * salted aggregation. Null and zero-length blobs are skipped; a group
   * without a sketch yields zero-length bytes. */
  def hist_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.HistMerge)
  def hll_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.HllMerge)
  def cms_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.CmsMerge)
  def bloom_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.BloomMerge)
  def tdigest_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.TDigestMerge)
  def kll_merge(c: Column): Column = SketchMergeAgg(c, MergeKind.KllMerge)

  // -------------------------------------------------------------------------
  // scalar sketch query functions (over sketch bytes)
  // -------------------------------------------------------------------------

  // The histogram scalar query functions are native Catalyst expressions
  // (graft.spark.expressions.HistScalars): a static call inside whole-stage
  // codegen, no UDF boxing/encoding boundary.
  def hist_quantile(sketch: Column, p: Double): Column =
    expressions.HistScalars.quantile(sketch, org.apache.spark.sql.functions.lit(p))

  def hist_quantiles(sketch: Column, ps: Seq[Double]): Column =
    expressions.HistScalars.quantiles(
      sketch,
      org.apache.spark.sql.functions.array(ps.map(org.apache.spark.sql.functions.lit): _*))

  def hist_value_at_rank(sketch: Column, rank: Column): Column =
    expressions.HistScalars.valueAtRank(sketch, rank)

  /** Rank-value estimate under an explicit reconstruction policy (reference
   * `getValue(rank, ValueEstimator)`): uniform | lower_bound | upper_bound |
   * mid_point. lower/upper bracket the true order statistic; mid_point
   * halves the error bounds. Native expression (whole-stage codegen). */
  def hist_value_at_rank(sketch: Column, rank: Column, estimator: String): Column =
    expressions.HistParamScalars.valueAtRank(sketch, rank, estimator)

  /** Quantile under explicit SciPy plotting positions and value estimator
   * (reference `getQuantile(p, QuantileEstimator, ValueEstimator)`).
   * Native expression (whole-stage codegen). */
  def hist_quantile(
      sketch: Column,
      p: Double,
      alphap: Double,
      betap: Double,
      estimator: String = "uniform"): Column =
    expressions.HistParamScalars.quantile(
      sketch, org.apache.spark.sql.functions.lit(p), alphap, betap, estimator)

  def hist_total(sketch: Column): Column =
    expressions.HistScalars.stat(sketch, expressions.HistStat.Total)
  def hist_min(sketch: Column): Column =
    expressions.HistScalars.stat(sketch, expressions.HistStat.Min)
  def hist_max(sketch: Column): Column =
    expressions.HistScalars.stat(sketch, expressions.HistStat.Max)
  def hist_underflow(sketch: Column): Column =
    expressions.HistScalars.stat(sketch, expressions.HistStat.Underflow)
  def hist_overflow(sketch: Column): Column =
    expressions.HistScalars.stat(sketch, expressions.HistStat.Overflow)

  /** Array of (bin_index, cnt, lower, upper) structs; explode() it for rows. */
  def hist_bins(sketch: Column): Column = expressions.HistScalars.bins(sketch)

  /** Lossy re-binning into a different layout — native expression; also
   * SQL-callable as hist_rebin_log_quadratic/log_linear/log_optimal/otel/
   * custom with layout literals. */
  def hist_rebin(sketch: Column, newLayout: Layout): Column =
    expressions.HistParamScalars.rebin(sketch, newLayout)

  /** Converts a histogram blob written by the reference toolchain
   * (`Layout.writeWithTypeInfo` + V1 payload) into this library's sketch
   * envelope — the column-level migration path for existing data. Native
   * expression; SQL-callable as hist_from_reference. */
  def hist_from_reference(c: Column): Column = expressions.HistParamScalars.fromReference(c)

  /** Inverse of [[hist_from_reference]]: emits blobs the reference
   * toolchain reads back with `Layout.readWithTypeInfo` + V1 read. */
  def hist_to_reference(c: Column): Column = expressions.HistParamScalars.toReference(c)

  /** Bin index of a value under a layout — a native Catalyst expression
   * (whole-stage codegen, no boxing); see
   * [[graft.spark.expressions.HistBinIndex]]. */
  def hist_bin_index(value: Column, layout: Layout): Column =
    graft.spark.expressions.HistBinIndex(value, layout)

  val hllEstimateUdf: UserDefinedFunction =
    udf((b: Array[Byte]) => Hll.fromBytes(b).estimate)

  def hll_estimate(sketch: Column): Column = hllEstimateUdf(sketch)

  val cmsEstimateUdf: UserDefinedFunction =
    udf((b: Array[Byte], item: String) => CountMin.fromBytes(b).estimateString(item))

  def cms_estimate(sketch: Column, item: Column): Column = cmsEstimateUdf(sketch, item)

  val cmsTotalUdf: UserDefinedFunction = udf((b: Array[Byte]) => CountMin.fromBytes(b).total)
  def cms_total(sketch: Column): Column = cmsTotalUdf(sketch)

  val bloomMightContainUdf: UserDefinedFunction =
    udf((b: Array[Byte], item: Long) => BloomFilter.fromBytes(b).mightContainLong(item))

  def bloom_might_contain(sketch: Column, item: Column): Column =
    bloomMightContainUdf(sketch, item)

  val tdigestQuantileUdf: UserDefinedFunction =
    udf((b: Array[Byte], p: Double) => TDigest.fromBytes(b).quantile(p))

  def tdigest_quantile(sketch: Column, p: Double): Column =
    tdigestQuantileUdf(sketch, org.apache.spark.sql.functions.lit(p))

  val tdigestCdfUdf: UserDefinedFunction =
    udf((b: Array[Byte], x: Double) => TDigest.fromBytes(b).cdf(x))

  /** The estimated fraction of values <= `x`, a `Double` in [0, 1] (unlike
   * [[kll_rank]], which returns a count). */
  def tdigest_cdf(sketch: Column, x: Column): Column = tdigestCdfUdf(sketch, x)

  val kllQuantileUdf: UserDefinedFunction =
    udf((b: Array[Byte], p: Double) => Kll.fromBytes(b).quantile(p))

  def kll_quantile(sketch: Column, p: Double): Column =
    kllQuantileUdf(sketch, org.apache.spark.sql.functions.lit(p))

  val kllRankUdf: UserDefinedFunction =
    udf((b: Array[Byte], x: Double) => Kll.fromBytes(b).rank(x))

  /** The estimated count of values <= `x`, a `Long` (unlike
   * [[tdigest_cdf]], which returns a fraction). */
  def kll_rank(sketch: Column, x: Column): Column = kllRankUdf(sketch, x)

  // -------------------------------------------------------------------------
  // SQL registration
  // -------------------------------------------------------------------------

  /**
   * Registers the library's SQL functions on an existing session: every
   * entry of [[GraftExtensions.functionTable]], the same list
   * [[GraftExtensions]] injects into new sessions. Sketch aggregates and
   * histogram scalars are native expressions, so `hist_sketch(v)`,
   * `hll_sketch(c, 12)` and `hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0,
   * 1e6)` run on the same aggregates as the Column DSL; the companion
   * scalar queries and the text scalars are the UDF values of this object
   * and of [[graft.text]]. It first installs [[PullOutSketchInputs]], so
   * computed SQL sketch inputs are evaluated once per row below the
   * aggregate. Idempotent: a second call re-registers the same entries.
   */
  def registerAll(spark: SparkSession): Unit = {
    PullOutSketchInputs.install(spark)
    GraftExtensions.functionTable.foreach { f =>
      org.apache.spark.sql.graftbridge.RegistryBridge.register(spark, f.info, f.builder)
    }
  }
}
