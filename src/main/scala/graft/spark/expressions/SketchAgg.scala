package graft.spark.expressions

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{
  BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.{sketches => sk}
import graft.core.{Histogram, HistogramSerde, Layout, SketchEnvelope}
import graft.sketches.Hashing

/**
 * Every sketch aggregation (`hist_sketch`, `hll_sketch`, `cms_sketch`,
 * `bloom_sketch`, `tdigest_sketch`, `kll_sketch` and the weighted forms) as
 * one native `TypedImperativeAggregate`: recording is `update`, the
 * sketch's own merge is `merge`, and the stored bytes are `eval`. `kind`
 * picks the sketch and carries its accuracy parameters, so equal calls
 * compare equal. `children` are the input and, for `hist_sketch_weighted`
 * and `cms_sketch_weighted`, a count per row.
 *
 * The buffer crossing the partial->shuffle->final boundary is each
 * sketch's compact partial encoding (`serialize`), not its stored one. An
 * empty buffer allocates nothing: a histogram, HLL or count-min keeps the
 * cells a small group touched in a sparse list, Bloom words come with the
 * first write, and a t-digest's insertion buffer with the first `add`.
 * Spark creates one buffer per group in the final phase only to merge the
 * group's partials into it, so [[SketchAgg.Kind.merge]] adopts the first
 * partial while the buffer is still empty (`other` is freshly deserialized
 * and owned by this aggregate). T-digest and KLL keep merging into the
 * fresh buffer: KLL's merge mixes its coin state, and a t-digest's flush
 * points would move once a group has several partials.
 *
 * `update` reads a bound input column unboxed from its ordinal: a plain
 * column binds to a `BoundReference`, and so does a computed input once
 * [[graft.spark.PullOutSketchInputs]] has projected it below the aggregate.
 * The `child.eval` branch serves inputs the rule leaves in place (no rule
 * installed, a `FILTER` or `DISTINCT` aggregate). String items hash their
 * UTF-8 bytes in place ([[SketchAgg.utf8Hash]]); integral items hash as
 * longs.
 */
case class SketchAgg[S <: AnyRef](
    kind: SketchAgg.Kind[S],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[S] {
  import SketchAgg._

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = if (weighted) s"${kind.name}_weighted" else kind.name
  override protected def stringArgs: Iterator[Any] = (children :+ kind).iterator

  private val weighted: Boolean = children.length == 2

  /** True for the types `update` reads unboxed: a double value, a long or
   * string item, a long count. */
  private def unboxed(child: Int, t: DataType): Boolean =
    if (child == 1) t == LongType
    else if (kind.isInstanceOf[ValueKind[_]]) t == DoubleType
    else t == LongType || t == StringType

  /** The children's ordinals when every child is a bound column of a type
   * `update` reads unboxed, else null: `update` then evaluates them. */
  @transient private lazy val ordinals: Array[Int] = {
    val read = children.zipWithIndex.collect {
      case (b: BoundReference, i) if unboxed(i, b.dataType) => b.ordinal
    }
    if (read.length == children.length) read.toArray else null
  }
  @transient private lazy val stringItem: Boolean = children.head.dataType == StringType

  override def createAggregationBuffer(): S = kind.create()

  override def update(buffer: S, input: InternalRow): S = {
    val ord = ordinals
    if (ord != null) {
      if (input.isNullAt(ord(0)) || weighted && input.isNullAt(ord(1))) return buffer
      val n = if (weighted) input.getLong(ord(1)) else 1L
      kind match {
        case k: ValueKind[S @unchecked] => k.record(buffer, input.getDouble(ord(0)), n)
        case k: ItemKind[S @unchecked] =>
          val h =
            if (stringItem) utf8Hash(input.getUTF8String(ord(0)))
            else Hashing.hashLong(input.getLong(ord(0)))
          k.record(buffer, h, n)
      }
    } else {
      val v = children.head.eval(input)
      val w = if (weighted) children(1).eval(input) else null
      if (v == null || weighted && w == null) return buffer
      val n = w match {
        case null                 => 1L
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other => throw new IllegalArgumentException(
          s"$prettyName: unsupported weight ${other.getClass.getSimpleName}")
      }
      kind match {
        case k: ValueKind[S @unchecked] => k.record(buffer, v.asInstanceOf[Double], n)
        case k: ItemKind[S @unchecked] =>
          val h = v match {
            case s: UTF8String        => utf8Hash(s)
            case l: java.lang.Long    => Hashing.hashLong(l.longValue())
            case i: java.lang.Integer => Hashing.hashLong(i.longValue())
            case other => throw new IllegalArgumentException(
              s"$prettyName: unsupported input ${other.getClass.getSimpleName}" +
                (if (weighted) "" else " (expected string or integral)"))
          }
          k.record(buffer, h, n)
      }
    }
    buffer
  }

  /** The Java expression of what the kind records from the first child's
   * generated value `v`: the double itself or the item's hash; None for an
   * input type only the interpreted `update` reads. */
  private def recordedCode(v: String): Option[String] = (kind, children.head.dataType) match {
    case (_: ValueKind[_], DoubleType) => Some(v)
    case (_: ItemKind[_], _: StringType) =>
      Some(s"${SketchAgg.getClass.getName}.MODULE$$.utf8Hash($v)")
    case (_: ItemKind[_], LongType | IntegerType) =>
      Some(s"${Hashing.getClass.getName}.MODULE$$.hashLong((long) $v, 0L)")
    case _ => None
  }

  /** True when [[graft.spark.PartialSketchAggregateExec]] can emit this
   * aggregate's update into its whole-stage loop ([[updateCode]]): the kind
   * has a generated record call and the children have types it covers.
   * Other types keep the interpreted `update` and its error for an
   * unsupported type. */
  def generatesUpdate: Boolean = kind.recordCode.isDefined && recordedCode("").isDefined &&
    (!weighted || children(1).dataType == LongType || children(1).dataType == IntegerType)

  /** Java statements that record one row into `buffer`, a Java expression
   * of type `Object` holding this aggregate's buffer, from `in`, the
   * generated values of the children: the calls the bound-ordinal `update`
   * makes, with the same null handling. */
  def updateCode(buffer: String, in: Seq[ExprCode]): String = {
    val b = s"((${kind.bufferClass.getName}) $buffer)"
    val n = if (weighted) s"(long) ${in(1).value}" else "1L"
    val call = kind.recordCode.get(b, recordedCode(in.head.value.toString).get, n)
    in.map(e => s"!(${e.isNull})").mkString("if (", " && ", s") $call;")
  }

  override def merge(buffer: S, other: S): S = kind.merge(buffer, other)
  override def eval(buffer: S): Any = kind.encode(buffer)
  override def serialize(buffer: S): Array[Byte] = kind.encodePartial(buffer)
  override def deserialize(bytes: Array[Byte]): S = kind.decodePartial(bytes)

  override def withNewMutableAggBufferOffset(n: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchAgg[S] =
    copy(children = c)
}

object SketchAgg {

  /** DSL column of `kind` over `inputs` (installs
   * [[graft.spark.PullOutSketchInputs]] on the active session). */
  def column(kind: Kind[_ <: AnyRef], inputs: Column*): Column =
    graft.spark.PullOutSketchInputs.column(
      SketchAgg(kind, inputs.map(ColumnBridge.expression)))

  /** A generated record call: (typed buffer, recorded value, count) => Java. */
  type RecordCode = (String, String, String) => String

  /** One sketch and its accuracy parameters: how its buffer is created,
   * merged, and encoded for storage (`encode`) and for the shuffle
   * (`encodePartial`, read back by `decodePartial`). A kind whose factory
   * checks parameters calls it when the kind is built, so a bad parameter
   * fails when the call is analyzed, not in a task. */
  sealed abstract class Kind[S <: AnyRef](val name: String)(implicit tag: ClassTag[S])
      extends Product with Serializable {
    def bufferClass: Class[_] = tag.runtimeClass
    def create(): S
    def merge(buffer: S, other: S): S
    def encode(s: S): Array[Byte]
    def encodePartial(s: S): Array[Byte]
    def decodePartial(b: Array[Byte]): S

    /** The Java of the record call, from the typed buffer, the recorded
     * value and the count; None for t-digest and KLL, whose bytes depend on
     * the order partials merge in, so they keep Spark's own aggregate. */
    def recordCode: Option[RecordCode] = None
  }

  /** A sketch of double values; each row records a value with a count. */
  sealed abstract class ValueKind[S <: AnyRef: ClassTag](name: String) extends Kind[S](name) {
    def record(buffer: S, v: Double, n: Long): Unit
  }

  /** A sketch of items; each row records an item's hash with a count. */
  sealed abstract class ItemKind[S <: AnyRef: ClassTag](name: String) extends Kind[S](name) {
    def record(buffer: S, h: Long, n: Long): Unit
  }

  /** Histogram: stored as the sketch envelope, shuffled as the V1 payload. */
  final case class Hist(layout: Layout) extends ValueKind[Histogram]("hist_sketch") {
    def create(): Histogram = Histogram(layout)
    def record(b: Histogram, v: Double, n: Long): Unit = b.addValue(v, n)
    override def recordCode: Option[RecordCode] = Some((b, v, n) => s"$b.addValue($v, $n)")
    def merge(b: Histogram, o: Histogram): Histogram = if (b.totalCount == 0L) o else b.add(o)
    def encode(s: Histogram): Array[Byte] = SketchEnvelope.toBytes(s)
    def encodePartial(s: Histogram): Array[Byte] = HistogramSerde.toBytes(s)
    def decodePartial(b: Array[Byte]): Histogram = HistogramSerde.fromBytes(layout, b)
  }

  final case class Hll(precision: Int) extends ItemKind[sk.Hll]("hll_sketch") {
    sk.Hll(precision)
    def create(): sk.Hll = sk.Hll(precision)
    def record(b: sk.Hll, h: Long, n: Long): Unit = b.addHash(h)
    override def recordCode: Option[RecordCode] = Some((b, h, _) => s"$b.addHash($h)")
    def merge(b: sk.Hll, o: sk.Hll): sk.Hll = if (b.isPristine) o else b.merge(o)
    def encode(s: sk.Hll): Array[Byte] = s.toBytes
    def encodePartial(s: sk.Hll): Array[Byte] = sk.Hll.toCompactBytes(s)
    def decodePartial(b: Array[Byte]): sk.Hll = sk.Hll.fromBytes(b)
  }

  /** Count-min: a row adds its count to the item's counters, byte-identical
   * to that many rows of count one. */
  final case class Cms(depth: Int, width: Int) extends ItemKind[sk.CountMin]("cms_sketch") {
    sk.CountMin(depth, width)
    def create(): sk.CountMin = sk.CountMin(depth, width)
    def record(b: sk.CountMin, h: Long, n: Long): Unit = b.addHash(h, n)
    override def recordCode: Option[RecordCode] = Some((b, h, n) => s"$b.addHash($h, $n)")
    def merge(b: sk.CountMin, o: sk.CountMin): sk.CountMin = if (b.isPristine) o else b.merge(o)
    def encode(s: sk.CountMin): Array[Byte] = s.toBytes
    def encodePartial(s: sk.CountMin): Array[Byte] = sk.CountMin.toCompactBytes(s)
    def decodePartial(b: Array[Byte]): sk.CountMin = sk.CountMin.fromBytes(b)
  }

  final case class Bloom(expectedItems: Long, fpp: Double)
      extends ItemKind[sk.BloomFilter]("bloom_sketch") {
    sk.BloomFilter(expectedItems, fpp)
    def create(): sk.BloomFilter = sk.BloomFilter(expectedItems, fpp)
    def record(b: sk.BloomFilter, h: Long, n: Long): Unit = b.addHash(h)
    override def recordCode: Option[RecordCode] = Some((b, h, _) => s"$b.addHash($h)")
    def merge(b: sk.BloomFilter, o: sk.BloomFilter): sk.BloomFilter =
      if (b.isPristine) o else b.merge(o)
    def encode(s: sk.BloomFilter): Array[Byte] = s.toBytes
    def encodePartial(s: sk.BloomFilter): Array[Byte] = sk.BloomFilter.toCompactBytes(s)
    def decodePartial(b: Array[Byte]): sk.BloomFilter = sk.BloomFilter.fromBytes(b)
  }

  final case class TDigest(compression: Double) extends ValueKind[sk.TDigest]("tdigest_sketch") {
    sk.TDigest(compression)
    def create(): sk.TDigest = sk.TDigest(compression)
    def record(b: sk.TDigest, v: Double, n: Long): Unit = b.add(v)
    def merge(b: sk.TDigest, o: sk.TDigest): sk.TDigest = b.merge(o)
    def encode(s: sk.TDigest): Array[Byte] = s.toBytes
    def encodePartial(s: sk.TDigest): Array[Byte] = s.toBytes
    def decodePartial(b: Array[Byte]): sk.TDigest = sk.TDigest.fromBytes(b)
  }

  final case class Kll(k: Int) extends ValueKind[sk.Kll]("kll_sketch") {
    sk.Kll(k)
    def create(): sk.Kll = sk.Kll(k)
    def record(b: sk.Kll, v: Double, n: Long): Unit = b.add(v)
    def merge(b: sk.Kll, o: sk.Kll): sk.Kll = b.merge(o)
    def encode(s: sk.Kll): Array[Byte] = s.toBytes
    def encodePartial(s: sk.Kll): Array[Byte] = s.toBytes
    def decodePartial(b: Array[Byte]): sk.Kll = sk.Kll.fromBytes(b)
  }

  /** Hash of a string item, bit-identical to `Hashing.hashString(s.toString)`
   * on EVERY input: valid UTF-8 hashes its bytes directly (no per-row
   * `java.lang.String` — `hashString` is defined as the hash of the UTF-8
   * encoding, and valid bytes round-trip `toString.getBytes` unchanged);
   * malformed sequences fall back to the String path so they hash the same
   * U+FFFD-replaced encoding `toString` would have produced. `isValid`
   * caches per UTF8String.
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
}
