package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.SketchEnvelope

/**
 * Static evaluation helpers shared by interpreted eval and generated code —
 * the codegen for each expression is a single static call on the unboxed
 * inputs, keeping the whole-stage codegen span intact (no Scala UDF
 * boxing/encoding boundary).
 */
object HistEval {
  def quantile(b: Array[Byte], p: Double): Double = SketchEnvelope.fromBytes(b).quantile(p)
  def valueAtRank(b: Array[Byte], r: Long): Double = SketchEnvelope.fromBytes(b).valueAt(r)
  def total(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).totalCount
  def minv(b: Array[Byte]): Double = SketchEnvelope.fromBytes(b).min
  def maxv(b: Array[Byte]): Double = SketchEnvelope.fromBytes(b).max
  def underflow(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).underflowCount
  def overflow(b: Array[Byte]): Long = SketchEnvelope.fromBytes(b).overflowCount

  def quantiles(b: Array[Byte], ps: ArrayData): ArrayData = {
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

  def bins(b: Array[Byte]): ArrayData = {
    val h = SketchEnvelope.fromBytes(b)
    val rows = h.nonEmptyBins.map { bin =>
      InternalRow(bin.binIndex, bin.binCount, bin.lowerBound, bin.upperBound): Any
    }
    new GenericArrayData(rows.toArray)
  }
}

private[expressions] trait SketchInput { self: Expression =>
  protected def sketchChild: Expression
  protected def fnName: String
  def checkSketchType(): TypeCheckResult =
    if (sketchChild.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName requires a BINARY sketch argument, got ${sketchChild.dataType.sql}")
}

/** Native `hist_quantile(sketch, p)`. */
case class HistQuantile(left: Expression, right: Expression)
    extends BinaryExpression with SketchInput {
  override protected def sketchChild: Expression = left
  override protected def fnName: String = prettyName
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val s = checkSketchType()
    if (s != TypeCheckResult.TypeCheckSuccess) s
    else if (right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a DOUBLE p argument, got ${right.dataType.sql}")
  }
  override def nullSafeEval(b: Any, p: Any): Any =
    HistEval.quantile(b.asInstanceOf[Array[Byte]], p.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, p) => s"graft.spark.expressions.HistEval.quantile($b, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HistQuantile =
    copy(left = l, right = r)
  override def prettyName: String = "hist_quantile"
}

/** Native `hist_value_at_rank(sketch, rank)`. */
case class HistValueAtRank(left: Expression, right: Expression)
    extends BinaryExpression with SketchInput {
  override protected def sketchChild: Expression = left
  override protected def fnName: String = prettyName
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val s = checkSketchType()
    if (s != TypeCheckResult.TypeCheckSuccess) s
    else if (right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT rank argument, got ${right.dataType.sql}")
  }
  override def nullSafeEval(b: Any, r: Any): Any =
    HistEval.valueAtRank(b.asInstanceOf[Array[Byte]], r.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, r) => s"graft.spark.expressions.HistEval.valueAtRank($b, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HistValueAtRank =
    copy(left = l, right = r)
  override def prettyName: String = "hist_value_at_rank"
}

/** Native `hist_quantiles(sketch, array<double>)` — one preprocessed pass,
 * O(log bins) per requested quantile. */
case class HistQuantiles(left: Expression, right: Expression)
    extends BinaryExpression with SketchInput {
  override protected def sketchChild: Expression = left
  override protected def fnName: String = prettyName
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    val s = checkSketchType()
    if (s != TypeCheckResult.TypeCheckSuccess) s
    else right.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<DOUBLE> p argument, got ${other.sql}")
    }
  }
  override def nullSafeEval(b: Any, ps: Any): Any =
    HistEval.quantiles(b.asInstanceOf[Array[Byte]], ps.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, ps) => s"graft.spark.expressions.HistEval.quantiles($b, $ps)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HistQuantiles =
    copy(left = l, right = r)
  override def prettyName: String = "hist_quantiles"
}

object HistStat {
  sealed abstract class Stat(val name: String, val dataType: DataType, val helper: String)
  case object Total extends Stat("hist_total", LongType, "total")
  case object Min extends Stat("hist_min", DoubleType, "minv")
  case object Max extends Stat("hist_max", DoubleType, "maxv")
  case object Underflow extends Stat("hist_underflow", LongType, "underflow")
  case object Overflow extends Stat("hist_overflow", LongType, "overflow")
}

/** Native scalar histogram statistic (total/min/max/underflow/overflow). */
case class HistStat(child: Expression, stat: HistStat.Stat)
    extends UnaryExpression with SketchInput {
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def dataType: DataType = stat.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullSafeEval(b: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    stat match {
      case HistStat.Total     => HistEval.total(bytes)
      case HistStat.Min       => HistEval.minv(bytes)
      case HistStat.Max       => HistEval.maxv(bytes)
      case HistStat.Underflow => HistEval.underflow(bytes)
      case HistStat.Overflow  => HistEval.overflow(bytes)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.expressions.HistEval.${stat.helper}($b)")
  override protected def withNewChildInternal(newChild: Expression): HistStat =
    copy(child = newChild)
  override def prettyName: String = stat.name
}

object HistBins {
  /** One (bin_index, cnt, lower, upper) struct per non-empty bin. */
  val schema: StructType = StructType(Seq(
    StructField("bin_index", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("lower", DoubleType, nullable = false),
    StructField("upper", DoubleType, nullable = false)))
}

/** Native `hist_bins(sketch)` -> array of (bin_index, cnt, lower, upper). */
case class HistBins(child: Expression) extends UnaryExpression with SketchInput {
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def dataType: DataType = ArrayType(HistBins.schema, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullSafeEval(b: Any): Any = HistEval.bins(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.expressions.HistEval.bins($b)")
  override protected def withNewChildInternal(newChild: Expression): HistBins =
    copy(child = newChild)
  override def prettyName: String = "hist_bins"
}

/** Column-level constructors for the native sketch-query expressions. */
object HistScalars {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def quantile(sketch: Column, p: Column): Column =
    column(HistQuantile(expression(sketch), expression(p.cast("double"))))
  def valueAtRank(sketch: Column, rank: Column): Column =
    column(HistValueAtRank(expression(sketch), expression(rank.cast("long"))))
  def quantiles(sketch: Column, ps: Column): Column =
    column(HistQuantiles(expression(sketch), expression(ps)))
  def stat(sketch: Column, s: HistStat.Stat): Column =
    column(HistStat(expression(sketch), s))
  def bins(sketch: Column): Column = column(HistBins(expression(sketch)))
}
