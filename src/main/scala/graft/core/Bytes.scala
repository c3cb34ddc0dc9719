package graft.core

import java.lang.invoke.{MethodHandles, VarHandle}
import java.nio.ByteOrder.BIG_ENDIAN

/** A sketch blob that does not decode: `what` names the payload
 * ("histogram", "count-min", ...), `offset` is the reader's position when
 * the fault was found, and `reason` says what was wrong. The message is
 * `corrupt <what> payload (<reason>)`. */
final class SketchFormatException(val what: String, val offset: Int, val reason: String)
    extends IllegalArgumentException(s"corrupt $what payload ($reason)")

/**
 * The one byte codec of every sketch blob: big-endian `Int`, `Long` and
 * `Double`, single bytes, unsigned and zigzag LEB128 varints, and the V0/V1
 * bit packing, over a plain `Array[Byte]`. The varints and bit packing are
 * wire-compatible with the reference (dynahist
 * `serialization/SerializationUtil.java:64-155`, `BitOutput.java:33-50`,
 * `BitInput.java:34-53`).
 *
 * Every read past the end of the array and every malformed value fails
 * through [[Reader.fail]], as one [[SketchFormatException]].
 */
private[graft] object Bytes {

  // Big-endian views of a byte array: one load or store per value. The
  // result types of the calls below fix their descriptors, so nothing boxes.
  private val Ints: VarHandle =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Int]], BIG_ENDIAN)
  private val Longs: VarHandle =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], BIG_ENDIAN)

  /** Encoded length of the unsigned varint `v` in bytes (1..10). */
  def varSize(v: Long): Int = {
    var n = 1
    var r = v >>> 7
    while (r != 0L) { n += 1; r >>>= 7 }
    n
  }

  /** Appends to an array of `capacity` bytes, growing it when a write
   * does not fit. A writer sized exactly hands back its array uncopied.
   * Nothing is written past the current position, so the bytes there are
   * zero. */
  final class Writer(capacity: Int) {
    private var buf = new Array[Byte](capacity)
    private var pos = 0

    /** Position of the next `n` bytes, after making room for them. */
    private def claim(n: Int): Int = {
      val p = pos
      if (p + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(p + n, 2 * buf.length))
      pos = p + n
      p
    }

    def putByte(v: Int): Unit = {
      val p = claim(1)
      buf(p) = v.toByte
    }

    def putInt(v: Int): Unit = {
      val p = claim(4) // may replace buf
      Ints.set(buf, p, v)
    }

    def putLong(v: Long): Unit = {
      val p = claim(8)
      Longs.set(buf, p, v)
    }

    /** The raw IEEE bits of `v`, as `putLong`. */
    def putDouble(v: Double): Unit = putLong(java.lang.Double.doubleToRawLongBits(v))

    /** `n` zero bytes. */
    def putZeros(n: Int): Unit = claim(n)

    /** Unsigned LEB128 varint. */
    def putVarLong(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) {
        putByte((v.toInt & 0x7f) | 0x80)
        v >>>= 7
      }
      putByte(v.toInt)
    }

    /** Zigzag varint of a signed `Int`. */
    def putZigzag(v: Int): Unit = putVarLong(((v << 1) ^ (v >> 31)) & 0xffffffffL)

    /** The bytes written: the array itself when it is exactly full. */
    def result: Array[Byte] = if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
  }

  /** Reads from `bytes` at `pos` on; `what` names the payload in errors. */
  final class Reader(bytes: Array[Byte], private var pos: Int, what: String) {

    /** The one failure of a decode. */
    def fail(reason: String): Nothing = throw new SketchFormatException(what, pos, reason)

    def check(cond: Boolean, reason: String): Unit = if (!cond) fail(reason)

    def remaining: Int = bytes.length - pos

    /** `n` items of `width` bytes each fit in the bytes left; returns `n`.
     * Checked before anything sized by `n` is allocated. */
    def fits(n: Long, width: Int): Int = {
      if (n < 0 || n > remaining / width) fail("truncated")
      n.toInt
    }

    /** Position of the next `n` bytes, which must be present. */
    private def take(n: Int): Int = {
      val p = pos
      if (n > bytes.length - p) fail("truncated")
      pos = p + n
      p
    }

    def readByte(): Byte = bytes(take(1))

    def readUnsignedByte(): Int = bytes(take(1)) & 0xff

    def readInt(): Int = Ints.get(bytes, take(4))

    def readLong(): Long = Longs.get(bytes, take(8))

    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())

    /** Unsigned LEB128 varint of at most 10 bytes. */
    def readVarLong(): Long = {
      var shift = 0
      var acc = 0L
      var b = 0
      do {
        if (shift >= 70) fail("varint too long")
        b = readUnsignedByte()
        acc |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      acc
    }

    /** Zigzag varint of a signed `Int`, at most 5 bytes long. */
    def readZigzag(): Int = {
      val start = pos
      val raw = readVarLong()
      if (pos - start > 5 || (raw >>> 32) != 0L) fail("varint too long")
      val u = raw.toInt
      (u >>> 1) ^ -(u & 1)
    }
  }

  /** Packs values of 0 to 64 bits most significant bit first: whole 64-bit
   * words as they fill, then the last bits rounded up to whole bytes. */
  final class BitWriter(w: Writer) {
    private var buffer = 0L
    private var bitCount = 0

    def writeBits(numBits: Int, value: Long): Unit = {
      if (numBits == 0) return
      buffer |= (value << (-numBits)) >>> bitCount
      bitCount += numBits
      if (bitCount >= 64) {
        w.putLong(buffer)
        buffer = value << 1 << ~bitCount
        bitCount -= 64
      }
    }

    def finish(): Unit =
      while (bitCount > 0) {
        w.putByte((buffer >>> 56).toInt)
        buffer <<= 8
        bitCount -= 8
      }
  }

  /** Reads what [[BitWriter]] packs, a byte at a time. */
  final class BitReader(r: Reader) {
    private var buffer = 0L
    private var bitCount = 0

    def readBits(numBits0: Int): Long = {
      var numBits = numBits0
      if (numBits == 0) return 0L
      var result = 0L
      if (bitCount < numBits) {
        result = buffer
        numBits -= bitCount
        while (numBits > 8) {
          result <<= 8
          result |= r.readUnsignedByte().toLong
          numBits -= 8
        }
        result <<= numBits
        buffer = r.readUnsignedByte().toLong
        bitCount = 8
      }
      bitCount -= numBits
      result |= buffer >>> bitCount
      buffer &= (1L << bitCount) - 1
      result
    }
  }
}
