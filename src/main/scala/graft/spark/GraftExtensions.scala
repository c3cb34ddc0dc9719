package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core._
import graft.spark.expressions._

/**
 * Config-based installation of the sketch function surface:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.spark.GraftExtensions ...
 *   // or
 *   SparkSession.builder().withExtensions(new GraftExtensions) ...
 * }}}
 *
 * Native expressions (every sketch aggregate and the histogram scalar
 * queries) are registered via `injectFunction` with expression builders —
 * SQL-callable with per-call parameters, e.g.
 * `hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0, 1e6)` or `hll_sketch(c, 12)`.
 * The companion scalar queries and text scalars register through the
 * session UDF registry on first use, which also installs
 * [[PullOutSketchInputs]] ([[functions.registerAll]]).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.nativeBuilders.foreach { case (name, builder) =>
      extensions.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[HistQuantile].getName, name),
          builder))
    }
    // A resolution rule runs with a session handle before analysis; use the
    // first invocation to install the UDF/UDAF registry entries idempotently.
    extensions.injectResolutionRule { session =>
      if (!GraftExtensions.installed.contains(session)) {
        GraftExtensions.installed.synchronized {
          if (!GraftExtensions.installed.contains(session)) {
            functions.registerAll(session)
            GraftExtensions.installed.add(session)
          }
        }
      }
      new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
        override def apply(
            plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = plan
      }
    }
  }
}

object GraftExtensions {
  private val installed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Wraps a builder with a proper wrong-number-of-arguments error (raw
   * args(i) indexing would throw an opaque IndexOutOfBoundsException during
   * analysis). */
  private def expectArgs(fn: String, n: Int, atLeast: Boolean = false)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      val ok = if (atLeast) args.length >= n else args.length == n
      if (!ok) {
        val what = if (atLeast) s"at least $n" else s"$n"
        throw new IllegalArgumentException(
          s"$fn expects $what argument(s), got ${args.length}")
      }
      b(args)
    }

  /** Evaluates a foldable argument to a Double (SQL numeric literals may
   * arrive as Decimal/Int/etc). */
  private def litDouble(fn: String, e: Expression): Double = {
    require(e.foldable, s"$fn: layout parameters must be literals")
    e.eval() match {
      case d: java.lang.Double                     => d
      case f: java.lang.Float                      => f.toDouble
      case i: java.lang.Integer                    => i.toDouble
      case l: java.lang.Long                       => l.toDouble
      case s: java.lang.Short                      => s.toDouble
      case d: org.apache.spark.sql.types.Decimal   => d.toDouble
      case other =>
        throw new IllegalArgumentException(s"$fn: expected a numeric literal, got $other")
    }
  }

  private def litInt(fn: String, e: Expression): Int = {
    require(e.foldable, s"$fn: parameters must be literals")
    e.eval() match {
      case i: java.lang.Integer => i.toInt
      case l: java.lang.Long =>
        // silent truncation would wrap e.g. hist_sketch_otel(v, 4294967296)
        // to a wrong small scale; fail analysis instead
        if (!l.toLong.isValidInt) {
          throw new IllegalArgumentException(
            s"$fn: integer literal $l out of Int range")
        }
        l.toInt
      case other =>
        throw new IllegalArgumentException(s"$fn: expected an integer literal, got $other")
    }
  }

  private def litString(fn: String, e: Expression): String = {
    require(e.foldable, s"$fn: parameters must be literals")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String                                   => s
      case other =>
        throw new IllegalArgumentException(s"$fn: expected a string literal, got $other")
    }
  }

  private def sketchAgg(fn: String, mkLayout: Seq[Expression] => Layout)
      : Seq[Expression] => Expression =
    args => HistogramSketchAgg(Cast(args.head, DoubleType), mkLayout(args.tail))
      .toAggregateExpression()

  /** `fn(v, absoluteLimit, relativeLimit, lo, hi)` over a
   * [[LogQuadraticLayout]]. */
  private def logQuadraticSketchAgg(fn: String): Seq[Expression] => Expression =
    expectArgs(fn, 5)(sketchAgg(fn, a => LogQuadraticLayout(
      litDouble(fn, a(0)), litDouble(fn, a(1)), litDouble(fn, a(2)), litDouble(fn, a(3)))))

  /** `fn(v, boundaries...)` over a [[CustomLayout]]. */
  private def customSketchAgg(fn: String): Seq[Expression] => Expression =
    expectArgs(fn, 2, atLeast = true)(
      sketchAgg(fn, a => CustomLayout(a.map(litDouble(fn, _)).toArray)))

  /** (value, weight, layout params...) — the count-weighted native aggregate
   * (reference `addValue(double, long)`, Histogram.java:283-290). */
  private def weightedSketchAgg(fn: String, mkLayout: Seq[Expression] => Layout)
      : Seq[Expression] => Expression =
    args => HistogramSketchWeightedAgg(
      Cast(args(0), DoubleType),
      Cast(args(1), LongType),
      mkLayout(args.drop(2)))
      .toAggregateExpression()

  /** The layout of the parameterless SQL `hist_sketch(v)` and
   * `hist_sketch_weighted(v, w)`. */
  private val SqlDefaultLayout: Layout = LogQuadraticLayout(1e-8, 1e-2, -1e9, 1e9)

  /** Expression builders shared by `injectFunction` (new sessions) and
   * [[functions.registerAll]] (existing sessions). */
  private[spark] val nativeBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
    "hist_sketch" ->
      expectArgs("hist_sketch", 1)(sketchAgg("hist_sketch", _ => SqlDefaultLayout)),
    "hist_sketch_weighted" -> expectArgs("hist_sketch_weighted", 2)(
      weightedSketchAgg("hist_sketch_weighted", _ => SqlDefaultLayout)),
    // scalar sketch queries. hist_quantile also takes the estimator-
    // parameterized forms (sk, p, alphap, betap[, estimator]);
    // hist_value_at_rank takes (sk, rank[, estimator]).
    "hist_quantile" -> { args =>
      args.length match {
        case 2 => HistQuantile(args(0), Cast(args(1), DoubleType))
        case 4 | 5 =>
          val est = if (args.length == 5) litString("hist_quantile", args(4)) else "uniform"
          HistQuantileParam(
            args(0),
            Cast(args(1), DoubleType),
            litDouble("hist_quantile", args(2)),
            litDouble("hist_quantile", args(3)),
            HistParamEval.estimator(est))
        case n => throw new IllegalArgumentException(
          s"hist_quantile expects 2, 4 or 5 arguments, got $n")
      }
    },
    "hist_value_at_rank" -> { args =>
      args.length match {
        case 2 => HistValueAtRank(args(0), Cast(args(1), LongType))
        case 3 => HistValueAtRankEst(
          args(0),
          Cast(args(1), LongType),
          HistParamEval.estimator(litString("hist_value_at_rank", args(2))))
        case n => throw new IllegalArgumentException(
          s"hist_value_at_rank expects 2 or 3 arguments, got $n")
      }
    },
    // sketch-rewriting scalars: cross-layout re-binning with layout literals
    // and reference-blob migration (SQL-only users can reach them too)
    "hist_rebin_log_quadratic" -> expectArgs("hist_rebin_log_quadratic", 5)(args =>
      HistRebin(args(0), LogQuadraticLayout(
        litDouble("hist_rebin_log_quadratic", args(1)),
        litDouble("hist_rebin_log_quadratic", args(2)),
        litDouble("hist_rebin_log_quadratic", args(3)),
        litDouble("hist_rebin_log_quadratic", args(4))))),
    "hist_rebin_log_linear" -> expectArgs("hist_rebin_log_linear", 5)(args =>
      HistRebin(args(0), LogLinearLayout(
        litDouble("hist_rebin_log_linear", args(1)),
        litDouble("hist_rebin_log_linear", args(2)),
        litDouble("hist_rebin_log_linear", args(3)),
        litDouble("hist_rebin_log_linear", args(4))))),
    "hist_rebin_log_optimal" -> expectArgs("hist_rebin_log_optimal", 5)(args =>
      HistRebin(args(0), LogOptimalLayout(
        litDouble("hist_rebin_log_optimal", args(1)),
        litDouble("hist_rebin_log_optimal", args(2)),
        litDouble("hist_rebin_log_optimal", args(3)),
        litDouble("hist_rebin_log_optimal", args(4))))),
    "hist_rebin_otel" -> expectArgs("hist_rebin_otel", 2)(args =>
      HistRebin(args(0), OtelExponentialLayout(litInt("hist_rebin_otel", args(1))))),
    "hist_rebin_custom" -> expectArgs("hist_rebin_custom", 2, atLeast = true)(args =>
      HistRebin(args(0),
        CustomLayout(args.tail.map(litDouble("hist_rebin_custom", _)).toArray))),
    "hist_from_reference" -> expectArgs("hist_from_reference", 1)(args =>
      HistFromReference(args(0))),
    "hist_to_reference" -> expectArgs("hist_to_reference", 1)(args =>
      HistToReference(args(0))),
    "hist_quantiles" -> expectArgs("hist_quantiles", 2)(
      args => HistQuantiles(
        args(0),
        Cast(args(1), org.apache.spark.sql.types.ArrayType(DoubleType)))),
    "hist_total" -> expectArgs("hist_total", 1)(args => HistStat(args(0), HistStat.Total)),
    "hist_min" -> expectArgs("hist_min", 1)(args => HistStat(args(0), HistStat.Min)),
    "hist_max" -> expectArgs("hist_max", 1)(args => HistStat(args(0), HistStat.Max)),
    "hist_underflow" -> expectArgs("hist_underflow", 1)(
      args => HistStat(args(0), HistStat.Underflow)),
    "hist_overflow" -> expectArgs("hist_overflow", 1)(
      args => HistStat(args(0), HistStat.Overflow)),
    "hist_bins" -> expectArgs("hist_bins", 1)(args => HistBins(args(0))),
    // layout-parameterized histogram aggregates (value, layout params...)
    "hist_sketch_log_quadratic" -> logQuadraticSketchAgg("hist_sketch_log_quadratic"),
    "hist_sketch_log_linear" -> expectArgs("hist_sketch_log_linear", 5)(sketchAgg(
      "hist_sketch_log_linear",
      a => LogLinearLayout(
        litDouble("hist_sketch_log_linear", a(0)),
        litDouble("hist_sketch_log_linear", a(1)),
        litDouble("hist_sketch_log_linear", a(2)),
        litDouble("hist_sketch_log_linear", a(3))))),
    "hist_sketch_log_optimal" -> expectArgs("hist_sketch_log_optimal", 5)(sketchAgg(
      "hist_sketch_log_optimal",
      a => LogOptimalLayout(
        litDouble("hist_sketch_log_optimal", a(0)),
        litDouble("hist_sketch_log_optimal", a(1)),
        litDouble("hist_sketch_log_optimal", a(2)),
        litDouble("hist_sketch_log_optimal", a(3))))),
    "hist_sketch_otel" -> expectArgs("hist_sketch_otel", 2)(sketchAgg(
      "hist_sketch_otel",
      a => OtelExponentialLayout(litInt("hist_sketch_otel", a(0))))),
    "hist_sketch_custom" -> customSketchAgg("hist_sketch_custom"),
    // count-weighted variants: (value, weight, layout params...)
    "hist_sketch_weighted_log_quadratic" ->
      expectArgs("hist_sketch_weighted_log_quadratic", 6)(weightedSketchAgg(
        "hist_sketch_weighted_log_quadratic",
        a => LogQuadraticLayout(
          litDouble("hist_sketch_weighted_log_quadratic", a(0)),
          litDouble("hist_sketch_weighted_log_quadratic", a(1)),
          litDouble("hist_sketch_weighted_log_quadratic", a(2)),
          litDouble("hist_sketch_weighted_log_quadratic", a(3))))),
    "hist_sketch_weighted_custom" ->
      expectArgs("hist_sketch_weighted_custom", 3, atLeast = true)(weightedSketchAgg(
        "hist_sketch_weighted_custom",
        a => CustomLayout(a.map(litDouble("hist_sketch_weighted_custom", _)).toArray))),
    // names kept from the removed adaptive-width buffer: the same
    // aggregate as hist_sketch_log_quadratic / hist_sketch_custom
    "hist_sketch_packed_log_quadratic" -> logQuadraticSketchAgg("hist_sketch_packed_log_quadratic"),
    "hist_sketch_packed_custom" -> customSketchAgg("hist_sketch_packed_custom"),
    // parameterized companion-sketch aggregates: accuracy parameters are
    // per-call SQL literals; 1-arg forms use the library defaults, matching
    // the DSL.
    "hll_sketch" -> { args =>
      val p = args.length match {
        case 1 => graft.sketches.Hll.DefaultPrecision
        case 2 => litInt("hll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"hll_sketch expects (item[, precision]), got $n argument(s)")
      }
      HllSketchAgg(args.head, p).toAggregateExpression()
    },
    "cms_sketch" -> { args =>
      val (d, w) = args.length match {
        case 1 => (5, 2048)
        case 3 => (litInt("cms_sketch", args(1)), litInt("cms_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch expects (item[, depth, width]), got $n argument(s)")
      }
      CountMinSketchAgg(args.head, d, w).toAggregateExpression()
    },
    "cms_sketch_weighted" -> { args =>
      val (d, w) = args.length match {
        case 2 => (5, 2048)
        case 4 =>
          (litInt("cms_sketch_weighted", args(2)), litInt("cms_sketch_weighted", args(3)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch_weighted expects (item, weight[, depth, width]), got $n argument(s)")
      }
      CountMinWeightedSketchAgg(args(0), Cast(args(1), LongType), d, w)
        .toAggregateExpression()
    },
    "bloom_sketch" -> { args =>
      val (exp, fpp) = args.length match {
        case 2 => (litDouble("bloom_sketch", args(1)).toLong, 0.01)
        case 3 =>
          (litDouble("bloom_sketch", args(1)).toLong, litDouble("bloom_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"bloom_sketch expects (item, expected_items[, fpp]), got $n argument(s)")
      }
      BloomSketchAgg(args.head, exp, fpp).toAggregateExpression()
    },
    "tdigest_sketch" -> { args =>
      val c = args.length match {
        case 1 => 100.0
        case 2 => litDouble("tdigest_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"tdigest_sketch expects (value[, compression]), got $n argument(s)")
      }
      TDigestSketchAgg(Cast(args.head, DoubleType), c).toAggregateExpression()
    },
    "kll_sketch" -> { args =>
      val k = args.length match {
        case 1 => 200
        case 2 => litInt("kll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"kll_sketch expects (value[, k]), got $n argument(s)")
      }
      KllSketchAgg(Cast(args.head, DoubleType), k).toAggregateExpression()
    },
    // native bin-index scalar with layout literals (whole-stage codegen)
    "hist_bin_index_log_quadratic" -> expectArgs("hist_bin_index_log_quadratic", 5)(args =>
      HistBinIndex(
        Cast(args(0), DoubleType),
        LogQuadraticLayout(
          litDouble("hist_bin_index_log_quadratic", args(1)),
          litDouble("hist_bin_index_log_quadratic", args(2)),
          litDouble("hist_bin_index_log_quadratic", args(3)),
          litDouble("hist_bin_index_log_quadratic", args(4))))),
    "hist_bin_index_otel" -> expectArgs("hist_bin_index_otel", 2)(args =>
      HistBinIndex(
        Cast(args(0), DoubleType),
        OtelExponentialLayout(litInt("hist_bin_index_otel", args(1))))),
    "hist_bin_index_custom" -> expectArgs("hist_bin_index_custom", 2, atLeast = true)(args =>
      HistBinIndex(
        Cast(args(0), DoubleType),
        CustomLayout(args.tail.map(litDouble("hist_bin_index_custom", _)).toArray)))) ++
    // re-merge of stored sketch blobs: hist_merge, hll_merge, ..., kll_merge
    MergeKind.all.map(k => k.name -> expectArgs(k.name, 1)(args =>
      SketchMergeAgg(args.head, k).toAggregateExpression()))
}
