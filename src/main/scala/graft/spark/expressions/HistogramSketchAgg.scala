package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

import graft.core.{Histogram, HistogramSerde, Layout, SketchEnvelope}

/**
 * Histogram sketch aggregation (`hist_sketch`) as a native
 * `TypedImperativeAggregate`: recording is `update`, `Histogram.add` is
 * `merge` and the envelope bytes are `eval`.
 *
 * The aggregation buffer crossing the partial->shuffle->final boundary is
 * the V1 wire format: a compact bit-packed payload (dense-or-sparse,
 * whichever is fewer bits) instead of the raw 8-byte-per-bin counter array.
 * At 10^5-10^6 shuffled group buffers that is the difference between KBs
 * and tens of bytes per sketch on the wire.
 *
 * An empty buffer allocates no counters. A buffer keeps its touched bins
 * as a sorted sparse list until more than 128 are touched, then one counter
 * window (see [[Histogram]]); a partial with no more decodes sparse too, so
 * a 20-row group never builds a window. In the final phase Spark creates
 * one empty buffer per group only to merge the group's partials into it,
 * so `merge` adopts the first partial while the buffer has recorded
 * nothing: `other` is freshly deserialized and owned by this aggregate.
 */
case class HistogramSketchAgg(
    child: Expression,
    layout: Layout,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Histogram] with GeneratedUpdate {

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Histogram = Histogram(layout)

  /** Unboxed hot path: after Spark binds references, a plain double column
   * arrives as a BoundReference — read it with getDouble instead of eval()
   * (which boxes a java.lang.Double per row; at 10^8-row rates the boxing
   * garbage alone drives young-GC pauses, measured on multi-executor runs).
   * A computed input such as `cast(length(text) as double)` arrives bound
   * too once [[graft.spark.PullOutSketchInputs]] has projected it below the
   * aggregate; `eval()` serves only inputs the rule leaves in place. */
  @transient private lazy val boundOrdinal: Int = child match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == org.apache.spark.sql.types.DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: Histogram, input: InternalRow): Histogram = {
    val ord = boundOrdinal
    if (ord >= 0) {
      if (!input.isNullAt(ord)) buffer.addValue(input.getDouble(ord))
    } else {
      val v = child.eval(input)
      if (v != null) buffer.addValue(v.asInstanceOf[Double])
    }
    buffer
  }

  override def generatesUpdate: Boolean = child.dataType == DoubleType

  override def updateCode(buffer: String, in: Seq[ExprCode]): String =
    s"if (!(${in(0).isNull})) ((${classOf[Histogram].getName}) $buffer).addValue(${in(0).value});"

  override def merge(buffer: Histogram, other: Histogram): Histogram =
    if (buffer.totalCount == 0L) other else buffer.add(other)

  override def eval(buffer: Histogram): Any = SketchEnvelope.toBytes(buffer)

  override def serialize(buffer: Histogram): Array[Byte] = HistogramSerde.toBytes(buffer)

  override def deserialize(bytes: Array[Byte]): Histogram =
    HistogramSerde.fromBytes(layout, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HistogramSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramSketchAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "hist_sketch"
}

object HistogramSketchAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor over `c` cast to double. */
  def apply(c: Column, layout: Layout): Column =
    PullOutSketchInputs.column(
      HistogramSketchAgg(ColumnBridge.expression(c.cast("double")), layout))
}

/**
 * Count-weighted histogram aggregation (`hist_sketch_weighted`) with the
 * same V1-wire aggregation buffer as [[HistogramSketchAgg]] (reference
 * semantics `addValue(double, long)`, Histogram.java:283-290): compact
 * shuffle buffers plus an unboxed (getDouble/getLong) per-row update, and
 * the same adoption of the first partial into an empty buffer.
 */
case class HistogramSketchWeightedAgg(
    value: Expression,
    weight: Expression,
    layout: Layout,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Histogram] with GeneratedUpdate {

  override def children: Seq[Expression] = Seq(value, weight)

  override def nullable: Boolean = false

  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Histogram = Histogram(layout)

  /** Unboxed hot path for BOTH children (see HistogramSketchAgg.boundOrdinal,
   * including its note on [[graft.spark.PullOutSketchInputs]]): eval() boxes
   * a java.lang.Double + java.lang.Long per row otherwise. */
  @transient private lazy val valueOrdinal: Int = value match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }
  @transient private lazy val weightOrdinal: Int = weight match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference
        if b.dataType == LongType => b.ordinal
    case _ => -1
  }

  override def update(buffer: Histogram, input: InternalRow): Histogram = {
    val vOrd = valueOrdinal
    val wOrd = weightOrdinal
    if (vOrd >= 0 && wOrd >= 0) {
      if (!input.isNullAt(vOrd) && !input.isNullAt(wOrd)) {
        buffer.addValue(input.getDouble(vOrd), input.getLong(wOrd))
      }
    } else {
      val v = value.eval(input)
      val w = weight.eval(input)
      if (v != null && w != null) {
        buffer.addValue(v.asInstanceOf[Double], w.asInstanceOf[Long])
      }
    }
    buffer
  }

  override def generatesUpdate: Boolean =
    value.dataType == DoubleType && weight.dataType == LongType

  override def updateCode(buffer: String, in: Seq[ExprCode]): String =
    s"if (!(${in(0).isNull}) && !(${in(1).isNull})) " +
      s"((${classOf[Histogram].getName}) $buffer).addValue(${in(0).value}, ${in(1).value});"

  override def merge(buffer: Histogram, other: Histogram): Histogram =
    if (buffer.totalCount == 0L) other else buffer.add(other)

  override def eval(buffer: Histogram): Any = SketchEnvelope.toBytes(buffer)

  override def serialize(buffer: Histogram): Array[Byte] = HistogramSerde.toBytes(buffer)

  override def deserialize(bytes: Array[Byte]): Histogram =
    HistogramSerde.fromBytes(layout, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramSketchWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HistogramSketchWeightedAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramSketchWeightedAgg =
    copy(value = newChildren(0), weight = newChildren(1))

  override def prettyName: String = "hist_sketch_weighted"
}

object HistogramSketchWeightedAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor over (value cast to double, weight cast to long). */
  def apply(value: Column, weight: Column, layout: Layout): Column =
    PullOutSketchInputs.column(HistogramSketchWeightedAgg(
      ColumnBridge.expression(value.cast("double")),
      ColumnBridge.expression(weight.cast("long")),
      layout))
}
