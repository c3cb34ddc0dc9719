package graft.sketches

import org.apache.spark.unsafe.Platform

/**
 * xxHash64 (Yann Collet's public-domain XXH64 algorithm) — the 64-bit hash
 * kernel shared by the distinct-count / frequency / membership sketches.
 * Seeded variants give the independent hash functions those sketches need.
 */
object Hashing {

  private val Prime1 = 0x9e3779b185ebca87L
  private val Prime2 = 0xc2b2ae3d27d4eb4fL
  private val Prime3 = 0x165667b19e3779f9L
  private val Prime4 = 0x85ebca77c2b2ae63L
  private val Prime5 = 0x27d4eb2f165667c5L

  def hashLong(value: Long, seed: Long = 0L): Long = {
    var h = seed + Prime5 + 8L
    val k = java.lang.Long.rotateLeft(value * Prime2, 31) * Prime1
    h ^= k
    h = java.lang.Long.rotateLeft(h, 27) * Prime1 + Prime4
    avalanche(h)
  }

  def hashDouble(value: Double, seed: Long = 0L): Long =
    hashLong(java.lang.Double.doubleToLongBits(value), seed)

  def hashString(s: String, seed: Long = 0L): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  def hashBytes(data: Array[Byte], seed: Long = 0L): Long =
    hashBytes(data, 0, data.length, seed)

  /** Hash of the `len` bytes of `data` starting at `from`, read in place:
   * equal to `hashBytes` of a copy of that range. */
  def hashBytes(data: Array[Byte], from: Int, len: Int, seed: Long): Long = {
    require(from >= 0 && len >= 0 && from.toLong + len <= data.length, "byte range out of bounds")
    hashBytes(data, Platform.BYTE_ARRAY_OFFSET + from.toLong, len, seed)
  }

  /** Hash of the `len` bytes at `offset` of `base`, read in place with
   * word loads: `base` is an array (and `offset` includes its base offset,
   * as in a `UTF8String` or an `UnsafeRow`), or null for an off-heap
   * address. Equal to `hashBytes` of a copy of those bytes. The caller
   * guarantees the range is readable. */
  def hashBytes(base: AnyRef, offset: Long, len: Int, seed: Long): Long = {
    val end = offset + len
    var h = 0L
    var i = offset
    if (len >= 32) {
      var v1 = seed + Prime1 + Prime2
      var v2 = seed + Prime2
      var v3 = seed
      var v4 = seed - Prime1
      while (i + 32 <= end) {
        v1 = round(v1, readLong(base, i))
        v2 = round(v2, readLong(base, i + 8))
        v3 = round(v3, readLong(base, i + 16))
        v4 = round(v4, readLong(base, i + 24))
        i += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      h = mergeRound(h, v1)
      h = mergeRound(h, v2)
      h = mergeRound(h, v3)
      h = mergeRound(h, v4)
    } else {
      h = seed + Prime5
    }
    h += len.toLong
    while (i + 8 <= end) {
      h ^= round(0L, readLong(base, i))
      h = java.lang.Long.rotateLeft(h, 27) * Prime1 + Prime4
      i += 8
    }
    if (i + 4 <= end) {
      h ^= (readInt(base, i) & 0xffffffffL) * Prime1
      h = java.lang.Long.rotateLeft(h, 23) * Prime2 + Prime3
      i += 4
    }
    while (i < end) {
      h ^= (Platform.getByte(base, i) & 0xffL) * Prime5
      h = java.lang.Long.rotateLeft(h, 11) * Prime1
      i += 1
    }
    avalanche(h)
  }

  private def round(acc: Long, input: Long): Long =
    java.lang.Long.rotateLeft(acc + input * Prime2, 31) * Prime1

  private def mergeRound(acc: Long, v: Long): Long =
    (acc ^ round(0L, v)) * Prime1 + Prime4

  private def avalanche(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= Prime2
    h ^= h >>> 29
    h *= Prime3
    h ^= h >>> 32
    h
  }

  private val BigEndian = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  // XXH64 reads its input as little-endian words
  private def readLong(base: AnyRef, at: Long): Long = {
    val v = Platform.getLong(base, at)
    if (BigEndian) java.lang.Long.reverseBytes(v) else v
  }

  private def readInt(base: AnyRef, at: Long): Int = {
    val v = Platform.getInt(base, at)
    if (BigEndian) Integer.reverseBytes(v) else v
  }
}
