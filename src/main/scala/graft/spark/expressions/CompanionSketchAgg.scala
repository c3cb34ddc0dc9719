package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches._

/**
 * Native `TypedImperativeAggregate` forms of the companion sketches
 * (HLL / count-min / Bloom / t-digest / KLL), parameterized per call —
 * the builders behind the SQL registry's `hll_sketch(c, precision)`,
 * `cms_sketch(c, depth, width)`, `bloom_sketch(c, expected, fpp)`,
 * `tdigest_sketch(v, compression)`, `kll_sketch(v, k)` forms (reference
 * analogy: the sketch-family constructors take their accuracy parameters at
 * creation; dynahist `Histogram.createDynamic(layout)` is the histogram
 * instance of the same pattern).
 *
 * They also back the `graft.spark.functions` DSL, which casts its input
 * first (string for `hll_sketch`/`cms_sketch`, long for `hll_sketch_long`/
 * `bloom_sketch`, double for `tdigest_sketch`/`kll_sketch`). The aggregation
 * buffer crossing the partial->shuffle->final boundary is each sketch's
 * compact wire format, and the per-row update path is unboxed for
 * primitive inputs (getDouble/getLong on the bound ordinal).
 *
 * An empty buffer allocates nothing. HLL and count-min keep the cells a
 * group touched in a small sparse list and build their dense register or
 * counter array only past [[graft.sketches.SparseCells.cap]] entries, so a
 * small group's buffer never holds one: not in `update`, not decoded from
 * a compact partial, not merged in the final phase. Bloom words are
 * created on the first write, and a t-digest's insertion buffer on the
 * first `add`. Spark creates one buffer per group in the final phase only
 * to merge the group's partials into it, so HLL, CMS and Bloom `merge`
 * adopt the first partial when the buffer is still pristine
 * (`other` is freshly deserialized and owned by this aggregate — the rule
 * `SketchMergeAgg.merge` applies). T-digest and KLL keep merging into the
 * fresh buffer: KLL's merge mixes its coin state, and a t-digest's flush
 * points would move once a group has several partials.
 */
abstract class CompanionSketchAgg[S <: AnyRef] extends TypedImperativeAggregate[S] {
  def child: Expression

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  protected def toBytes(s: S): Array[Byte]
  protected def fromBytes(b: Array[Byte]): S

  override def eval(buffer: S): Any = toBytes(buffer)
  override def serialize(buffer: S): Array[Byte] = toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S = fromBytes(bytes)
}

private[spark] object ItemSketchAgg {
  /** Hash of a string input, bit-identical to
   * `Hashing.hashString(s.toString)` on EVERY input: valid UTF-8 hashes
   * its bytes directly (no per-row `java.lang.String` — `hashString` is
   * defined as the hash of the UTF-8 encoding, and valid bytes round-trip
   * `toString.getBytes` unchanged); malformed sequences fall back to the
   * String path so they hash the same U+FFFD-replaced encoding
   * `toString` would have produced. `isValid` caches per UTF8String.
   *
   * Every string is hashed in place with word loads, from whatever base
   * holds it: a `byte[]`, the `long[]` pages an `UnsafeRow` lives in after
   * the sort-based aggregation fallback, or off-heap memory. ASCII strings
   * (see [[isAscii]]) skip the byte-by-byte `isValid` scan. */
  def utf8Hash(s: UTF8String): Long =
    if (!isAscii(s) && !s.isValid) Hashing.hashString(s.toString)
    else Hashing.hashBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)

  /** True when no byte of `s` has its high bit set, so it is valid UTF-8.
   * Reads eight bytes at a time. */
  def isAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & 0x8080808080808080L) != 0L) return false
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) return false
      i += 1
    }
    true
  }

  /** True for the item types `update` reads: string, long and int. */
  def isItemType(t: DataType): Boolean = t match {
    case LongType | IntegerType | _: StringType => true
    case _ => false
  }

  /** The generated form of `update`'s item call on a `cls` buffer: skip a
   * null item, else `addHash(utf8Hash(s)` or `addLong((long) v`, then
   * `args` (the trailing arguments, with their leading comma) and `)`. */
  def itemUpdateCode(
      cls: Class[_], buffer: String, item: ExprCode, itemType: DataType, args: String): String = {
    val b = s"((${cls.getName}) $buffer)"
    val call = itemType match {
      case _: StringType => s"$b.addHash(${getClass.getName}.MODULE$$.utf8Hash(${item.value})$args)"
      case _ => s"$b.addLong((long) ${item.value}$args)"
    }
    s"if (!(${item.isNull})) $call;"
  }
}

/** Item-keyed sketches (HLL / CMS / Bloom): string inputs hash as strings,
 * integral inputs as longs, dispatched on the child's type at bind time.
 *
 * String rows hash through [[ItemSketchAgg.utf8Hash]] (no per-row
 * `java.lang.String` for valid UTF-8 — the 100 TB string-key path); both
 * string and long bound-reference children take an unboxed ordinal read. */
abstract class ItemSketchAgg[S <: AnyRef] extends CompanionSketchAgg[S] with GeneratedUpdate {
  protected def addHash(buffer: S, h: Long): Unit
  protected def addLong(buffer: S, v: Long): Unit

  /** The buffer class and the trailing arguments (count-min's count) of
   * the `addHash`/`addLong` calls behind [[addHash]] and [[addLong]]. */
  protected def bufferClass: Class[S]
  protected def countArgument: String = ""

  override def generatesUpdate: Boolean = ItemSketchAgg.isItemType(child.dataType)

  override def updateCode(buffer: String, in: Seq[ExprCode]): String =
    ItemSketchAgg.itemUpdateCode(bufferClass, buffer, in.head, child.dataType, countArgument)

  /** Ordinal of a bound long (or string) input column, else -1. A plain
   * column binds to a `BoundReference`, and so does a computed input once
   * [[graft.spark.PullOutSketchInputs]] has projected it below the
   * aggregate; `update` then reads it unboxed. The `child.eval` branch
   * serves inputs the rule leaves in place (no rule installed, a `FILTER`
   * or `DISTINCT` aggregate). */
  @transient private lazy val longOrdinal: Int = child match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }
  @transient private lazy val stringOrdinal: Int = child match {
    case b: BoundReference if b.dataType == StringType => b.ordinal
    case _ => -1
  }

  override def update(buffer: S, input: InternalRow): S = {
    val lOrd = longOrdinal
    if (lOrd >= 0) {
      if (!input.isNullAt(lOrd)) addLong(buffer, input.getLong(lOrd))
    } else if (stringOrdinal >= 0) {
      val sOrd = stringOrdinal
      if (!input.isNullAt(sOrd))
        addHash(buffer, ItemSketchAgg.utf8Hash(input.getUTF8String(sOrd)))
    } else {
      val v = child.eval(input)
      if (v != null) v match {
        case s: UTF8String =>
          addHash(buffer, ItemSketchAgg.utf8Hash(s))
        case l: java.lang.Long                           => addLong(buffer, l.longValue())
        case i: java.lang.Integer                        => addLong(buffer, i.longValue())
        case other =>
          throw new IllegalArgumentException(
            s"$prettyName: unsupported input ${other.getClass.getSimpleName} " +
              "(expected string or integral)")
      }
    }
    buffer
  }
}

/** Double-valued sketches (t-digest / KLL): unboxed getDouble update. */
abstract class DoubleSketchAgg[S <: AnyRef] extends CompanionSketchAgg[S] {
  protected def addDouble(buffer: S, v: Double): Unit

  /** Ordinal of a bound double input column, else -1: the unboxed path,
   * as for [[ItemSketchAgg]]'s ordinals (computed inputs arrive bound once
   * [[graft.spark.PullOutSketchInputs]] has projected them). */
  @transient private lazy val boundOrdinal: Int = child match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: S, input: InternalRow): S = {
    val ord = boundOrdinal
    if (ord >= 0) {
      if (!input.isNullAt(ord)) addDouble(buffer, input.getDouble(ord))
    } else {
      val v = child.eval(input)
      if (v != null) addDouble(buffer, v.asInstanceOf[Double])
    }
    buffer
  }
}

case class HllSketchAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[Hll] {
  override def createAggregationBuffer(): Hll = Hll(precision)
  override protected def bufferClass: Class[Hll] = classOf[Hll]
  override protected def addHash(b: Hll, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: Hll, v: Long): Unit = b.addLong(v)
  override def merge(buffer: Hll, other: Hll): Hll =
    if (buffer.isPristine) other else buffer.merge(other)
  override protected def toBytes(s: Hll): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): Hll = Hll.fromBytes(b)
  // shuffle buffers take the compact (sparse) form: a group that saw few
  // items ships ~3 B per set register instead of the dense 2^p array; the
  // result bytes (eval -> toBytes) stay dense wire format
  override def serialize(buffer: Hll): Array[Byte] = Hll.toCompactBytes(buffer)
  override def withNewMutableAggBufferOffset(n: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "hll_sketch"
}

object HllSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor (the [[graft.spark.expressions.HistogramSketchAgg]]
   * DSL pattern): native aggregate with the compact wire-format buffer. */
  def apply(c: Column, precision: Int): Column =
    PullOutSketchInputs.column(HllSketchAgg(ColumnBridge.expression(c), precision))
}

case class CountMinSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[CountMin] {
  override def createAggregationBuffer(): CountMin = CountMin(depth, width)
  override protected def bufferClass: Class[CountMin] = classOf[CountMin]
  override protected def countArgument: String = ", 1L"
  override protected def addHash(b: CountMin, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: CountMin, v: Long): Unit = b.addLong(v)
  override def merge(buffer: CountMin, other: CountMin): CountMin =
    if (buffer.isPristine) other else buffer.merge(other)
  override protected def toBytes(s: CountMin): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): CountMin = CountMin.fromBytes(b)
  // shuffle buffers varint-encode the counter matrix (zero counters cost
  // 1 byte, not 8); result bytes stay the dense wire format
  override def serialize(buffer: CountMin): Array[Byte] = CountMin.toCompactBytes(buffer)
  override def withNewMutableAggBufferOffset(n: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CountMinSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "cms_sketch"
}

object CountMinSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor — native aggregate, compact wire-format buffer. */
  def apply(c: Column, depth: Int, width: Int): Column =
    PullOutSketchInputs.column(CountMinSketchAgg(ColumnBridge.expression(c), depth, width))
}

/** (item, weight) count-min: each row adds `weight` to its item's counters —
 * byte-identical to `weight` repetitions (CountMin addString(v, count)). */
case class CountMinWeightedSketchAgg(
    item: Expression,
    weight: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CompanionSketchAgg[CountMin] with GeneratedUpdate {
  override def child: Expression = item
  override def children: Seq[Expression] = Seq(item, weight)
  override def createAggregationBuffer(): CountMin = CountMin(depth, width)

  override def update(buffer: CountMin, input: InternalRow): CountMin = {
    val v = item.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val cnt = w match { // Int weight columns are valid DSL inputs too
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other =>
          throw new IllegalArgumentException(
            s"cms_sketch_weighted: unsupported weight ${other.getClass.getSimpleName}")
      }
      v match {
        case s: UTF8String =>
          buffer.addHash(ItemSketchAgg.utf8Hash(s), cnt)
        case l: java.lang.Long                           => buffer.addLong(l.longValue(), cnt)
        case i: java.lang.Integer                        => buffer.addLong(i.longValue(), cnt)
        case other =>
          throw new IllegalArgumentException(
            s"cms_sketch_weighted: unsupported input ${other.getClass.getSimpleName}")
      }
    }
    buffer
  }
  override def generatesUpdate: Boolean = ItemSketchAgg.isItemType(item.dataType) &&
    (weight.dataType == LongType || weight.dataType == IntegerType)
  override def updateCode(buffer: String, in: Seq[ExprCode]): String =
    s"if (!(${in(1).isNull})) " + ItemSketchAgg.itemUpdateCode(
      classOf[CountMin], buffer, in(0), item.dataType, s", (long) ${in(1).value}")
  override def merge(buffer: CountMin, other: CountMin): CountMin =
    if (buffer.isPristine) other else buffer.merge(other)
  override protected def toBytes(s: CountMin): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): CountMin = CountMin.fromBytes(b)
  override def serialize(buffer: CountMin): Array[Byte] = CountMin.toCompactBytes(buffer)
  override def withNewMutableAggBufferOffset(n: Int): CountMinWeightedSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinWeightedSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinWeightedSketchAgg =
    copy(item = c(0), weight = c(1))
  override def prettyName: String = "cms_sketch_weighted"
}

object CountMinWeightedSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor — native aggregate, compact wire-format buffer. */
  def apply(item: Column, weight: Column, depth: Int, width: Int): Column =
    PullOutSketchInputs.column(CountMinWeightedSketchAgg(
      ColumnBridge.expression(item),
      ColumnBridge.expression(weight.cast("long")),
      depth, width))
}

case class BloomSketchAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[BloomFilter] {
  override def createAggregationBuffer(): BloomFilter = BloomFilter(expectedItems, fpp)
  override protected def bufferClass: Class[BloomFilter] = classOf[BloomFilter]
  override protected def addHash(b: BloomFilter, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: BloomFilter, v: Long): Unit = b.addLong(v)
  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter =
    if (buffer.isPristine) other else buffer.merge(other)
  override protected def toBytes(s: BloomFilter): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): BloomFilter = BloomFilter.fromBytes(b)
  // shuffle buffers take the sparse nonzero-word form; result bytes stay
  // the dense wire format
  override def serialize(buffer: BloomFilter): Array[Byte] = BloomFilter.toCompactBytes(buffer)
  override def withNewMutableAggBufferOffset(n: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "bloom_sketch"
}

object BloomSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor — native aggregate, compact wire-format buffer. */
  def apply(c: Column, expectedItems: Long, fpp: Double): Column =
    PullOutSketchInputs.column(BloomSketchAgg(ColumnBridge.expression(c), expectedItems, fpp))
}

case class TDigestSketchAgg(
    child: Expression,
    compression: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleSketchAgg[TDigest] {
  override def createAggregationBuffer(): TDigest = TDigest(compression)
  override protected def addDouble(b: TDigest, v: Double): Unit = b.add(v)
  override def merge(buffer: TDigest, other: TDigest): TDigest = buffer.merge(other)
  override protected def toBytes(s: TDigest): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): TDigest = TDigest.fromBytes(b)
  override def withNewMutableAggBufferOffset(n: Int): TDigestSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "tdigest_sketch"
}

object TDigestSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor over `c` cast to double. */
  def apply(c: Column, compression: Double): Column =
    PullOutSketchInputs.column(
      TDigestSketchAgg(ColumnBridge.expression(c.cast("double")), compression))
}

case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleSketchAgg[Kll] {
  override def createAggregationBuffer(): Kll = Kll(k)
  override protected def addDouble(b: Kll, v: Double): Unit = b.add(v)
  override def merge(buffer: Kll, other: Kll): Kll = buffer.merge(other)
  override protected def toBytes(s: Kll): Array[Byte] = s.toBytes
  override protected def fromBytes(b: Array[Byte]): Kll = Kll.fromBytes(b)
  override def withNewMutableAggBufferOffset(n: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "kll_sketch"
}

object KllSketchAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import graft.spark.PullOutSketchInputs

  /** Column constructor over `c` cast to double. */
  def apply(c: Column, k: Int): Column =
    PullOutSketchInputs.column(KllSketchAgg(ColumnBridge.expression(c.cast("double")), k))
}
