package graft.spark

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graftbridge.RegistryBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.core._
import graft.spark.expressions._
import graft.text.{Dedup, Similarity}

/**
 * Config-based installation of the sketch function surface:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.spark.GraftExtensions ...
 *   // or
 *   SparkSession.builder().withExtensions(new GraftExtensions) ...
 * }}}
 *
 * Injects every entry of [[GraftExtensions.functionTable]], the one list of
 * SQL names that [[functions.registerAll]] registers on an existing session.
 * Its only other hook installs [[PullOutSketchInputs]] (idempotent) when the
 * session builds its analyzer.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.functionTable.foreach { f =>
      extensions.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
    // a resolution rule's builder runs once per session, with the session
    extensions.injectResolutionRule { session =>
      PullOutSketchInputs.install(session)
      new Rule[LogicalPlan] { override def apply(plan: LogicalPlan): LogicalPlan = plan }
    }
  }
}

object GraftExtensions {

  /** One SQL function: its name, the `ExpressionInfo` both install paths
   * register (the `Class:` line of `DESCRIBE FUNCTION`), and the builder
   * of its expression from the call's arguments. */
  private[spark] final case class SqlFunction(
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression)

  private def entry[T: ClassTag](name: String)(builder: Seq[Expression] => Expression) =
    SqlFunction(name, new ExpressionInfo(classTag[T].runtimeClass.getName, name), builder)

  /** A scalar UDF under `name`: the `ScalaUDF` that registering `udf` by
   * name in the session's UDF registry builds. */
  private def udfFn(name: String, udf: UserDefinedFunction): SqlFunction =
    entry[ScalaUDF](name)(RegistryBridge.udfBuilder(name, udf))

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

  /** The layout `kind` from the literals of SQL call `fn`: the log layouts
   * take `(absoluteLimit, relativeLimit, lo, hi)`, `otel` its scale, and
   * `custom` its bin boundaries. */
  private def layoutFrom(fn: String, kind: String, literals: Seq[Expression]): Layout =
    kind match {
      case "otel"   => OtelExponentialLayout(litInt(fn, literals.head))
      case "custom" => CustomLayout(literals.map(litDouble(fn, _)).toArray)
      case log =>
        val Seq(abs, rel, lo, hi) = literals.map(litDouble(fn, _))
        log match {
          case "log_quadratic" => LogQuadraticLayout(abs, rel, lo, hi)
          case "log_linear"    => LogLinearLayout(abs, rel, lo, hi)
          case "log_optimal"   => LogOptimalLayout(abs, rel, lo, hi)
        }
    }

  private val AllLayouts = Seq("log_quadratic", "log_linear", "log_optimal", "otel", "custom")

  /** `<family>_<kind>(leading args..., layout literals...)` for each layout
   * kind the family exposes; `custom` takes at least one boundary. */
  private def layoutFamily[T: ClassTag](family: String, leading: Int, kinds: Seq[String])(
      build: (Seq[Expression], Layout) => Expression): Seq[SqlFunction] =
    kinds.map { kind =>
      val name = s"${family}_$kind"
      val arity = leading + (kind match {
        case "otel" | "custom" => 1
        case _                 => 4
      })
      entry[T](name)(expectArgs(name, arity, atLeast = kind == "custom") { args =>
        build(args.take(leading), layoutFrom(name, kind, args.drop(leading)))
      })
    }

  /** The aggregate of `kind` over `input` and, when given, a count per row
   * (`hist_sketch_weighted`, `cms_sketch_weighted`). */
  private def sketch(kind: SketchAgg.Kind[_ <: AnyRef], input: Expression,
      weight: Option[Expression] = None): Expression =
    SketchAgg(kind, input +: weight.map(Cast(_, LongType)).toSeq).toAggregateExpression()

  private def sketchAgg(args: Seq[Expression], layout: Layout): Expression =
    sketch(SketchAgg.Hist(layout), Cast(args.head, DoubleType))

  /** (value, weight, layout) — the count-weighted histogram (reference
   * `addValue(double, long)`, Histogram.java:283-290). */
  private def weightedSketchAgg(args: Seq[Expression], layout: Layout): Expression =
    sketch(SketchAgg.Hist(layout), Cast(args(0), DoubleType), Some(args(1)))

  /** The layout of the parameterless SQL `hist_sketch(v)` and
   * `hist_sketch_weighted(v, w)`. */
  private val SqlDefaultLayout: Layout = LogQuadraticLayout(1e-8, 1e-2, -1e9, 1e9)

  /** Every SQL name of the library, read by both install paths:
   * `injectFunction` (new sessions) and [[functions.registerAll]]
   * (existing sessions). */
  private[spark] val functionTable: Seq[SqlFunction] = Seq(
    entry[SketchAgg[_]]("hist_sketch")(
      expectArgs("hist_sketch", 1)(sketchAgg(_, SqlDefaultLayout))),
    entry[SketchAgg[_]]("hist_sketch_weighted")(
      expectArgs("hist_sketch_weighted", 2)(weightedSketchAgg(_, SqlDefaultLayout))),
    // scalar sketch queries. hist_quantile also takes the estimator-
    // parameterized forms (sk, p, alphap, betap[, estimator]);
    // hist_value_at_rank takes (sk, rank[, estimator]).
    entry[SketchScalar]("hist_quantile") { args =>
      val consts = args.length match {
        case 2 => Nil
        case 4 | 5 =>
          val est = if (args.length == 5) litString("hist_quantile", args(4)) else "uniform"
          Seq(
            QuantileEstimator(
              litDouble("hist_quantile", args(2)), litDouble("hist_quantile", args(3))),
            SketchEval.estimator(est))
        case n => throw new IllegalArgumentException(
          s"hist_quantile expects 2, 4 or 5 arguments, got $n")
      }
      SketchScalar(SketchScalar.HistQuantile, Seq(args(0), Cast(args(1), DoubleType)), consts)
    },
    entry[SketchScalar]("hist_value_at_rank") { args =>
      val consts = args.length match {
        case 2 => Nil
        case 3 => Seq(SketchEval.estimator(litString("hist_value_at_rank", args(2))))
        case n => throw new IllegalArgumentException(
          s"hist_value_at_rank expects 2 or 3 arguments, got $n")
      }
      SketchScalar(SketchScalar.HistValueAtRank, Seq(args(0), Cast(args(1), LongType)), consts)
    },
    entry[SketchScalar]("hist_quantiles")(expectArgs("hist_quantiles", 2)(args =>
      SketchScalar(
        SketchScalar.HistQuantiles, Seq(args(0), Cast(args(1), ArrayType(DoubleType)))))),
    // parameterized companion-sketch aggregates: accuracy parameters are
    // per-call SQL literals; 1-arg forms use the library defaults, matching
    // the DSL.
    entry[SketchAgg[_]]("hll_sketch") { args =>
      val p = args.length match {
        case 1 => graft.sketches.Hll.DefaultPrecision
        case 2 => litInt("hll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"hll_sketch expects (item[, precision]), got $n argument(s)")
      }
      sketch(SketchAgg.Hll(p), args.head)
    },
    entry[SketchAgg[_]]("cms_sketch") { args =>
      val (d, w) = args.length match {
        case 1 => (5, 2048)
        case 3 => (litInt("cms_sketch", args(1)), litInt("cms_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch expects (item[, depth, width]), got $n argument(s)")
      }
      sketch(SketchAgg.Cms(d, w), args.head)
    },
    entry[SketchAgg[_]]("cms_sketch_weighted") { args =>
      val (d, w) = args.length match {
        case 2 => (5, 2048)
        case 4 =>
          (litInt("cms_sketch_weighted", args(2)), litInt("cms_sketch_weighted", args(3)))
        case n => throw new IllegalArgumentException(
          s"cms_sketch_weighted expects (item, weight[, depth, width]), got $n argument(s)")
      }
      sketch(SketchAgg.Cms(d, w), args(0), Some(args(1)))
    },
    entry[SketchAgg[_]]("bloom_sketch") { args =>
      val (exp, fpp) = args.length match {
        case 2 => (litDouble("bloom_sketch", args(1)).toLong, 0.01)
        case 3 =>
          (litDouble("bloom_sketch", args(1)).toLong, litDouble("bloom_sketch", args(2)))
        case n => throw new IllegalArgumentException(
          s"bloom_sketch expects (item, expected_items[, fpp]), got $n argument(s)")
      }
      sketch(SketchAgg.Bloom(exp, fpp), args.head)
    },
    entry[SketchAgg[_]]("tdigest_sketch") { args =>
      val c = args.length match {
        case 1 => 100.0
        case 2 => litDouble("tdigest_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"tdigest_sketch expects (value[, compression]), got $n argument(s)")
      }
      sketch(SketchAgg.TDigest(c), Cast(args.head, DoubleType))
    },
    entry[SketchAgg[_]]("kll_sketch") { args =>
      val k = args.length match {
        case 1 => 200
        case 2 => litInt("kll_sketch", args(1))
        case n => throw new IllegalArgumentException(
          s"kll_sketch expects (value[, k]), got $n argument(s)")
      }
      sketch(SketchAgg.Kll(k), Cast(args.head, DoubleType))
    }) ++
    // the scalars whose every argument is a row argument
    Seq(SketchScalar.HistTotal, SketchScalar.HistMin, SketchScalar.HistMax,
        SketchScalar.HistUnderflow, SketchScalar.HistOverflow, SketchScalar.HistBins,
        SketchScalar.HistFromReference, SketchScalar.HistToReference, SketchScalar.HllEstimate,
        SketchScalar.CmsEstimate, SketchScalar.CmsTotal, SketchScalar.BloomMightContain,
        SketchScalar.TDigestQuantile, SketchScalar.TDigestCdf, SketchScalar.KllQuantile,
        SketchScalar.KllRank).map { fn =>
      entry[SketchScalar](fn.name)(expectArgs(fn.name, fn.inputTypes.length)(SketchScalar(fn, _)))
    } ++
    // layout-parameterized names: (leading args, layout literals)
    layoutFamily[SketchAgg[_]]("hist_sketch", 1, AllLayouts)(sketchAgg) ++
    layoutFamily[SketchAgg[_]](
      "hist_sketch_weighted", 2, Seq("log_quadratic", "custom"))(weightedSketchAgg) ++
    // names kept from the removed adaptive-width buffer: the same
    // aggregate as hist_sketch_log_quadratic / hist_sketch_custom
    layoutFamily[SketchAgg[_]](
      "hist_sketch_packed", 1, Seq("log_quadratic", "custom"))(sketchAgg) ++
    // cross-layout re-binning of a stored sketch
    layoutFamily[SketchScalar]("hist_rebin", 1, AllLayouts)(
      (a, l) => SketchScalar(SketchScalar.HistRebin, a, Seq(l))) ++
    layoutFamily[SketchScalar]("hist_bin_index", 1, Seq("log_quadratic", "otel", "custom"))(
      (a, l) => SketchScalar(SketchScalar.HistBinIndex, Seq(Cast(a(0), DoubleType)), Seq(l))) ++
    // re-merge of stored sketch blobs: hist_merge, hll_merge, ..., kll_merge
    MergeKind.all.map(k => entry[SketchMergeAgg[_]](k.name)(expectArgs(k.name, 1)(args =>
      SketchMergeAgg(args.head, k).toAggregateExpression()))) ++
    // the text scalars
    Seq(
      "token_count" -> Dedup.tokenCountUdf,
      "bpeish_token_count" -> Dedup.bpeishTokenCountUdf,
      "quality_score" -> Dedup.qualityScoreUdf,
      "lang_id" -> Dedup.langIdUdf,
      "doc_fingerprint" -> Dedup.fingerprintUdf,
      "simhash64" -> Dedup.simhashUdf,
      "hamming64" -> Dedup.hammingUdf,
      "shingle_jaccard" -> Dedup.jaccardUdf,
      "minhash_signature" -> Dedup.minhashUdf,
      "cosine_sim" -> Similarity.fastCosineUdf).map((udfFn _).tupled)
}
