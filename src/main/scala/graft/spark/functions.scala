package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{array, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.core._
import graft.sketches._
import graft.spark.expressions._

/**
 * Column-level sketch API: aggregation functions producing sketch bytes, and
 * scalar functions querying them.
 *
 * Every sketch aggregation is one native `TypedImperativeAggregate`,
 * [[graft.spark.expressions.SketchAgg]], whose `kind` names the sketch and
 * holds its parameters (the `*_merge` re-aggregations are
 * [[graft.spark.expressions.SketchMergeAgg]]): it runs as a partial
 * aggregate per input partition, ships each group's buffer across the
 * shuffle in the sketch's compact wire format, and merges the partials in a
 * final aggregate. Every
 * scalar is one [[graft.spark.expressions.SketchScalar]]: a static call of
 * [[graft.spark.expressions.SketchEval]]. The same classes back the SQL
 * names, which [[functions.registerAll]] and
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
    SketchAgg.column(SketchAgg.Hist(layout), c.cast("double"))

  /** Alias of [[hist_sketch]]: the histogram has one counter store, so
   * this builds the same aggregate, and Spark computes the two over one
   * input once. */
  def hist_sketch_packed(c: Column, layout: Layout): Column = hist_sketch(c, layout)

  /** Alias of [[hist_sketch]]. */
  def hist_sketch_binary(c: Column, layout: Layout): Column = hist_sketch(c, layout)

  /** Count-weighted histogram sketch over (value as double, weight as long). */
  def hist_sketch_weighted(value: Column, weight: Column, layout: Layout): Column =
    SketchAgg.column(SketchAgg.Hist(layout), value.cast("double"), weight.cast("long"))

  /** Alias of [[hist_sketch_weighted]]. */
  def hist_sketch_weighted_binary(value: Column, weight: Column, layout: Layout): Column =
    hist_sketch_weighted(value, weight, layout)

  /** HyperLogLog sketch of a column cast to string. */
  def hll_sketch(c: Column, precision: Int = Hll.DefaultPrecision): Column =
    SketchAgg.column(SketchAgg.Hll(precision), c.cast("string"))

  /** HyperLogLog sketch of a column cast to long. */
  def hll_sketch_long(c: Column, precision: Int = Hll.DefaultPrecision): Column =
    SketchAgg.column(SketchAgg.Hll(precision), c.cast("long"))

  /** Count-min frequency sketch of a column cast to string. */
  def cms_sketch(c: Column, depth: Int = 5, width: Int = 2048): Column =
    SketchAgg.column(SketchAgg.Cms(depth, width), c.cast("string"))

  /** Count-weighted count-min sketch over (item as string, weight as long). */
  def cms_sketch_weighted(
      item: Column,
      weight: Column,
      depth: Int = 5,
      width: Int = 2048): Column =
    SketchAgg.column(SketchAgg.Cms(depth, width), item.cast("string"), weight.cast("long"))

  /** Bloom filter of a column cast to long. */
  def bloom_sketch(c: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    SketchAgg.column(SketchAgg.Bloom(expectedItems, fpp), c.cast("long"))

  /** t-digest quantile sketch of a column cast to double. */
  def tdigest_sketch(c: Column, compression: Double = 100.0): Column =
    SketchAgg.column(SketchAgg.TDigest(compression), c.cast("double"))

  /** KLL rank/quantile sketch of a column cast to double. */
  def kll_sketch(c: Column, k: Int = 200): Column =
    SketchAgg.column(SketchAgg.Kll(k), c.cast("double"))

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

  // Every scalar is a native expression (SketchScalar): one static call of
  // SketchEval inside whole-stage codegen, NULL when any argument is NULL.
  private def scalar(fn: SketchScalar.Fn, args: Column*): Column = scalar(fn, Nil, args: _*)

  private def scalar(fn: SketchScalar.Fn, consts: Seq[AnyRef], args: Column*): Column =
    ColumnBridge.column(SketchScalar(fn, args.map(ColumnBridge.expression), consts))

  def hist_quantile(sketch: Column, p: Double): Column =
    scalar(SketchScalar.HistQuantile, sketch, lit(p).cast("double"))

  def hist_quantiles(sketch: Column, ps: Seq[Double]): Column =
    scalar(SketchScalar.HistQuantiles, sketch, array(ps.map(lit): _*))

  def hist_value_at_rank(sketch: Column, rank: Column): Column =
    scalar(SketchScalar.HistValueAtRank, sketch, rank.cast("long"))

  /** Rank-value estimate under an explicit reconstruction policy (reference
   * `getValue(rank, ValueEstimator)`): uniform | lower_bound | upper_bound |
   * mid_point. lower/upper bracket the true order statistic; mid_point
   * halves the error bounds. */
  def hist_value_at_rank(sketch: Column, rank: Column, estimator: String): Column =
    scalar(SketchScalar.HistValueAtRank, Seq(SketchEval.estimator(estimator)),
      sketch, rank.cast("long"))

  /** Quantile under explicit SciPy plotting positions and value estimator
   * (reference `getQuantile(p, QuantileEstimator, ValueEstimator)`). */
  def hist_quantile(
      sketch: Column,
      p: Double,
      alphap: Double,
      betap: Double,
      estimator: String = "uniform"): Column =
    scalar(SketchScalar.HistQuantile,
      Seq(QuantileEstimator(alphap, betap), SketchEval.estimator(estimator)),
      sketch, lit(p).cast("double"))

  def hist_total(sketch: Column): Column = scalar(SketchScalar.HistTotal, sketch)
  def hist_min(sketch: Column): Column = scalar(SketchScalar.HistMin, sketch)
  def hist_max(sketch: Column): Column = scalar(SketchScalar.HistMax, sketch)
  def hist_underflow(sketch: Column): Column = scalar(SketchScalar.HistUnderflow, sketch)
  def hist_overflow(sketch: Column): Column = scalar(SketchScalar.HistOverflow, sketch)

  /** Array of (bin_index, cnt, lower, upper) structs; explode() it for rows. */
  def hist_bins(sketch: Column): Column = scalar(SketchScalar.HistBins, sketch)

  /** Lossy re-binning into a different layout; also SQL-callable as
   * hist_rebin_log_quadratic/log_linear/log_optimal/otel/custom with layout
   * literals. */
  def hist_rebin(sketch: Column, newLayout: Layout): Column =
    scalar(SketchScalar.HistRebin, Seq(newLayout), sketch)

  /** Converts a histogram blob written by the reference toolchain
   * (`Layout.writeWithTypeInfo` + V1 payload) into this library's sketch
   * envelope — the column-level migration path for existing data.
   * SQL-callable as hist_from_reference. */
  def hist_from_reference(c: Column): Column = scalar(SketchScalar.HistFromReference, c)

  /** Inverse of [[hist_from_reference]]: emits blobs the reference
   * toolchain reads back with `Layout.readWithTypeInfo` + V1 read. */
  def hist_to_reference(c: Column): Column = scalar(SketchScalar.HistToReference, c)

  /** Bin index of a value (cast to double) under a layout: the layout's
   * O(1) mapping on the unboxed double. */
  def hist_bin_index(value: Column, layout: Layout): Column =
    scalar(SketchScalar.HistBinIndex, Seq(layout), value.cast("double"))

  def hll_estimate(sketch: Column): Column = scalar(SketchScalar.HllEstimate, sketch)

  /** The count-min estimate of `item`, hashed as a string. */
  def cms_estimate(sketch: Column, item: Column): Column =
    scalar(SketchScalar.CmsEstimate, sketch, item)

  def cms_total(sketch: Column): Column = scalar(SketchScalar.CmsTotal, sketch)

  def bloom_might_contain(sketch: Column, item: Column): Column =
    scalar(SketchScalar.BloomMightContain, sketch, item)

  def tdigest_quantile(sketch: Column, p: Double): Column =
    scalar(SketchScalar.TDigestQuantile, sketch, lit(p))

  /** The estimated fraction of values <= `x`, a `Double` in [0, 1] (unlike
   * [[kll_rank]], which returns a count). */
  def tdigest_cdf(sketch: Column, x: Column): Column =
    scalar(SketchScalar.TDigestCdf, sketch, x)

  def kll_quantile(sketch: Column, p: Double): Column =
    scalar(SketchScalar.KllQuantile, sketch, lit(p))

  /** The estimated count of values <= `x`, a `Long` (unlike
   * [[tdigest_cdf]], which returns a fraction). */
  def kll_rank(sketch: Column, x: Column): Column = scalar(SketchScalar.KllRank, sketch, x)

  // -------------------------------------------------------------------------
  // SQL registration
  // -------------------------------------------------------------------------

  /**
   * Registers the library's SQL functions on an existing session: every
   * entry of [[GraftExtensions.functionTable]], the same list
   * [[GraftExtensions]] injects into new sessions. Sketch aggregates and
   * sketch scalars are native expressions, so `hist_sketch(v)`,
   * `hll_sketch(c, 12)`, `hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0, 1e6)`
   * and `hll_estimate(sk)` run on the same expressions as the Column DSL;
   * the text scalars are the UDF values of [[graft.text]]. It first
   * installs [[PullOutSketchInputs]], so computed SQL sketch inputs are
   * evaluated once per row below the aggregate. Idempotent: a second call re-registers the same entries.
   */
  def registerAll(spark: SparkSession): Unit = {
    PullOutSketchInputs.install(spark)
    GraftExtensions.functionTable.foreach { f =>
      org.apache.spark.sql.graftbridge.RegistryBridge.register(spark, f.info, f.builder)
    }
  }
}
