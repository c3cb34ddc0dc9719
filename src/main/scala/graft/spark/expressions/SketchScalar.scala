package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.sketches._

/**
 * The static methods behind every sketch scalar, one per SQL name (the
 * camel-cased name; see [[SketchScalar.Fn]]). Interpreted eval and generated
 * code both call them on the unboxed inputs, so a scalar stays inside its
 * whole-stage codegen span. The trailing policy arguments (a `Layout`, a
 * `ValueEstimator`, a `QuantileEstimator`) are literal objects fixed when the
 * call is built.
 */
object SketchEval {
  def histQuantile(b: Array[Byte], p: Double): Double = SketchEnvelope.fromBytes(b).quantile(p)

  def histQuantile(b: Array[Byte], p: Double, qe: QuantileEstimator, ve: ValueEstimator): Double =
    SketchEnvelope.fromBytes(b).quantile(p, qe, ve)

  def histValueAtRank(b: Array[Byte], r: Long): Double = SketchEnvelope.fromBytes(b).valueAt(r)

  def histValueAtRank(b: Array[Byte], r: Long, est: ValueEstimator): Double =
    SketchEnvelope.fromBytes(b).valueAt(r, est)

  def histTotal(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).totalCount
  def histMin(b: Array[Byte]): Double = SketchEnvelope.fromBytes(b).min
  def histMax(b: Array[Byte]): Double = SketchEnvelope.fromBytes(b).max
  def histUnderflow(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).underflowCount
  def histOverflow(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).overflowCount

  def histQuantiles(b: Array[Byte], ps: ArrayData): ArrayData = {
    val pre = SketchEnvelope.fromBytes(b).preprocessed // O(log bins) per p
    val n = ps.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      // getDouble on a null slot silently reads 0.0 (-> histogram min); fail
      // loudly instead — the declared result type is containsNull = false
      if (ps.isNullAt(i)) {
        throw new IllegalArgumentException("hist_quantiles: p values must not be null")
      }
      out(i) = pre.quantile(ps.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def histBins(b: Array[Byte]): ArrayData = {
    val rows = SketchEnvelope.fromBytes(b).nonEmptyBins.map { bin =>
      InternalRow(bin.binIndex, bin.binCount, bin.lowerBound, bin.upperBound): Any
    }
    new GenericArrayData(rows.toArray)
  }

  /** Re-bins a sketch into `layout` (rank-based cross-layout merge,
   * reference `add(Histogram)`). */
  def histRebin(b: Array[Byte], layout: Layout): Array[Byte] =
    SketchEnvelope.toBytes(Histogram(layout).add(SketchEnvelope.fromBytes(b)))

  /** A reference-toolchain blob (`writeWithTypeInfo` + V1 payload) as this
   * library's sketch envelope. */
  def histFromReference(b: Array[Byte]): Array[Byte] =
    SketchEnvelope.toBytes(ReferenceLayoutSerde.fromBytesWithTypeInfo(b))

  def histToReference(b: Array[Byte]): Array[Byte] =
    ReferenceLayoutSerde.toBytesWithTypeInfo(SketchEnvelope.fromBytes(b))

  def histBinIndex(v: Double, layout: Layout): Int = layout.mapToBinIndex(v)

  def hllEstimate(b: Array[Byte]): Double = Hll.fromBytes(b).estimate
  def cmsEstimate(b: Array[Byte], item: UTF8String): Long =
    CountMin.fromBytes(b).estimateString(item.toString)
  def cmsTotal(b: Array[Byte]): Long = CountMin.fromBytes(b).total
  def bloomMightContain(b: Array[Byte], item: Long): Boolean =
    BloomFilter.fromBytes(b).mightContainLong(item)
  def tdigestQuantile(b: Array[Byte], p: Double): Double = TDigest.fromBytes(b).quantile(p)
  def tdigestCdf(b: Array[Byte], x: Double): Double = TDigest.fromBytes(b).cdf(x)
  def kllQuantile(b: Array[Byte], p: Double): Double = Kll.fromBytes(b).quantile(p)
  def kllRank(b: Array[Byte], x: Double): Long = Kll.fromBytes(b).rank(x)

  /** Spark's `length` of a string, its `numChars`. An all-ASCII string has
   * one character a byte, so it is counted by the word-at-a-time
   * [[SketchAgg.isAscii]] scan; any other string, malformed UTF-8 included,
   * by `numChars` itself. */
  def charCount(s: UTF8String): Int = if (SketchAgg.isAscii(s)) s.numBytes else s.numChars

  /** Parses an estimator name (reference `ValueEstimatorImpls` policies). */
  def estimator(name: String): ValueEstimator = name.toLowerCase match {
    case "uniform"     => ValueEstimator.Uniform
    case "lower_bound" => ValueEstimator.LowerBound
    case "upper_bound" => ValueEstimator.UpperBound
    case "mid_point"   => ValueEstimator.MidPoint
    case other => throw new IllegalArgumentException(
      s"unknown value estimator '$other' (uniform|lower_bound|upper_bound|mid_point)")
  }
}

/**
 * A sketch scalar: `fn`'s [[SketchEval]] method over the row arguments
 * `children`, then the literal policy objects `consts`. The analyzer casts
 * each child to `fn.inputTypes` where an implicit cast exists; eval and
 * codegen are one `StaticInvoke`, which returns NULL when any argument is
 * NULL. The plan and the column header show `fn.name`.
 */
case class SketchScalar(
    fn: SketchScalar.Fn,
    children: Seq[Expression],
    consts: Seq[AnyRef] = Nil)
    extends Expression with ImplicitCastInputTypes {

  @transient private lazy val invoke: StaticInvoke = StaticInvoke(
    SketchEval.getClass, fn.dataType, fn.method, children ++ consts.map(Literal.fromObject),
    returnNullable = false)

  override def inputTypes: Seq[DataType] = fn.inputTypes
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = invoke.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression])
      : SketchScalar = copy(children = newChildren)
}

object SketchScalar {

  /** One SQL name: the types of its row arguments and of its result. Its
   * [[SketchEval]] method is the camel-cased name (`hll_estimate` ->
   * `hllEstimate`). */
  final case class Fn(name: String, inputTypes: Seq[DataType], dataType: DataType) {
    val method: String = name.split('_').reduce(_ + _.capitalize)
  }

  private def onSketch(name: String, dataType: DataType, args: DataType*): Fn =
    Fn(name, BinaryType +: args, dataType)

  private val BinSchema = StructType(Seq(
    StructField("bin_index", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("lower", DoubleType, nullable = false),
    StructField("upper", DoubleType, nullable = false)))

  val HistQuantile: Fn = onSketch("hist_quantile", DoubleType, DoubleType)
  val HistValueAtRank: Fn = onSketch("hist_value_at_rank", DoubleType, LongType)
  val HistQuantiles: Fn =
    onSketch("hist_quantiles", ArrayType(DoubleType, containsNull = false), ArrayType(DoubleType))
  val HistTotal: Fn = onSketch("hist_total", LongType)
  val HistMin: Fn = onSketch("hist_min", DoubleType)
  val HistMax: Fn = onSketch("hist_max", DoubleType)
  val HistUnderflow: Fn = onSketch("hist_underflow", LongType)
  val HistOverflow: Fn = onSketch("hist_overflow", LongType)
  /** One (bin_index, cnt, lower, upper) struct per non-empty bin. */
  val HistBins: Fn = onSketch("hist_bins", ArrayType(BinSchema, containsNull = false))
  val HistRebin: Fn = onSketch("hist_rebin", BinaryType)
  val HistFromReference: Fn = onSketch("hist_from_reference", BinaryType)
  val HistToReference: Fn = onSketch("hist_to_reference", BinaryType)
  val HistBinIndex: Fn = Fn("hist_bin_index", Seq(DoubleType), IntegerType)
  val HllEstimate: Fn = onSketch("hll_estimate", DoubleType)
  val CmsEstimate: Fn = onSketch("cms_estimate", LongType, StringType)
  val CmsTotal: Fn = onSketch("cms_total", LongType)
  val BloomMightContain: Fn = onSketch("bloom_might_contain", BooleanType, LongType)
  val TDigestQuantile: Fn = onSketch("tdigest_quantile", DoubleType, DoubleType)
  val TDigestCdf: Fn = onSketch("tdigest_cdf", DoubleType, DoubleType)
  val KllQuantile: Fn = onSketch("kll_quantile", DoubleType, DoubleType)
  val KllRank: Fn = onSketch("kll_rank", LongType, DoubleType)
  /** `length(s)` of a UTF8_BINARY string; [[graft.spark.PullOutSketchInputs]]
   * puts it in place of Spark's `Length` in sketch inputs (no SQL name). */
  val CharCount: Fn = Fn("char_count", Seq(StringType), IntegerType)
}
