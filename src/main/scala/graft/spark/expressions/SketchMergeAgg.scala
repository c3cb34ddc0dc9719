package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.core.{Histogram, SketchEnvelope}
import graft.sketches._

/** One stored sketch format, as the `*_merge` aggregate sees it: decode a
 * stored blob, merge two sketches (into the first), and encode the result
 * (stored format) or a partial buffer (shuffle format, which `decode` also
 * reads). */
final class MergeKind[S <: AnyRef](
    val name: String,
    val decode: Array[Byte] => S,
    val merge: (S, S) => S,
    val encode: S => Array[Byte],
    val encodePartial: S => Array[Byte])
    extends Serializable

object MergeKind {
  /** Envelope bytes carry their layout; the first non-empty blob fixes the
   * group's layout and `Histogram.add` re-bins any other layout into it. */
  val HistMerge = new MergeKind[Histogram](
    "hist_merge", SketchEnvelope.fromBytes, (a, b) => a.add(b), SketchEnvelope.toBytes,
    SketchEnvelope.toBytes)
  val HllMerge = new MergeKind[Hll](
    "hll_merge", Hll.fromBytes, (a, b) => a.merge(b), _.toBytes, Hll.toCompactBytes)
  val CmsMerge = new MergeKind[CountMin](
    "cms_merge", CountMin.fromBytes, (a, b) => a.merge(b), _.toBytes, CountMin.toCompactBytes)
  val BloomMerge = new MergeKind[BloomFilter](
    "bloom_merge", BloomFilter.fromBytes, (a, b) => a.merge(b), _.toBytes,
    BloomFilter.toCompactBytes)
  val TDigestMerge = new MergeKind[TDigest](
    "tdigest_merge", TDigest.fromBytes, (a, b) => a.merge(b), _.toBytes, _.toBytes)
  val KllMerge = new MergeKind[Kll](
    "kll_merge", Kll.fromBytes, (a, b) => a.merge(b), _.toBytes, _.toBytes)

  val all: Seq[MergeKind[_ <: AnyRef]] =
    Seq(HistMerge, HllMerge, CmsMerge, BloomMerge, TDigestMerge, KllMerge)
}

/**
 * Re-merges a column of stored sketch blobs into one sketch per group: the
 * second level of a two-level rollup (per-day sketch tables merged into
 * monthly ones) and of salted aggregation. One native aggregate serves all
 * six `*_merge` functions; `kind` picks the format.
 *
 * Null and zero-length rows are skipped, and a group without a sketch
 * yields zero-length bytes. HLL register-max, CMS counter addition, Bloom
 * bit-OR and histogram count addition are merge-order invariant; t-digest
 * and KLL merges depend on merge order in their bytes but keep their error
 * bounds under any merge tree.
 */
case class SketchMergeAgg[S <: AnyRef](
    child: Expression,
    kind: MergeKind[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Option[S]] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(BinaryType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Option[S] = None

  override def update(buffer: Option[S], input: InternalRow): Option[S] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null || bytes.isEmpty) buffer else merge(buffer, Some(kind.decode(bytes)))
  }

  override def merge(buffer: Option[S], other: Option[S]): Option[S] = (buffer, other) match {
    case (Some(a), Some(b)) => Some(kind.merge(a, b))
    case (Some(_), None)    => buffer
    case _                  => other
  }

  override def eval(buffer: Option[S]): Any = buffer.fold(Array.emptyByteArray)(kind.encode)

  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.fold(Array.emptyByteArray)(kind.encodePartial)

  override def deserialize(bytes: Array[Byte]): Option[S] =
    if (bytes.isEmpty) None else Some(kind.decode(bytes))

  override def withNewMutableAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg[S] =
    copy(child = c.head)
  override def prettyName: String = kind.name
}

object SketchMergeAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column constructor: native re-merge of a binary sketch column. */
  def apply[S <: AnyRef](c: Column, kind: MergeKind[S]): Column =
    ColumnBridge.column(SketchMergeAgg(ColumnBridge.expression(c), kind).toAggregateExpression())
}
