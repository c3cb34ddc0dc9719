package graft.sketches

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
    val end = from + len
    var h = 0L
    var i = from
    if (len >= 32) {
      var v1 = seed + Prime1 + Prime2
      var v2 = seed + Prime2
      var v3 = seed
      var v4 = seed - Prime1
      while (i + 32 <= end) {
        v1 = round(v1, readLong(data, i))
        v2 = round(v2, readLong(data, i + 8))
        v3 = round(v3, readLong(data, i + 16))
        v4 = round(v4, readLong(data, i + 24))
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
      h ^= round(0L, readLong(data, i))
      h = java.lang.Long.rotateLeft(h, 27) * Prime1 + Prime4
      i += 8
    }
    if (i + 4 <= end) {
      h ^= (readInt(data, i) & 0xffffffffL) * Prime1
      h = java.lang.Long.rotateLeft(h, 23) * Prime2 + Prime3
      i += 4
    }
    while (i < end) {
      h ^= (data(i) & 0xffL) * Prime5
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

  private def readLong(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) | ((d(i + 1) & 0xffL) << 8) | ((d(i + 2) & 0xffL) << 16) |
      ((d(i + 3) & 0xffL) << 24) | ((d(i + 4) & 0xffL) << 32) |
      ((d(i + 5) & 0xffL) << 40) | ((d(i + 6) & 0xffL) << 48) |
      ((d(i + 7) & 0xffL) << 56)

  private def readInt(d: Array[Byte], i: Int): Int =
    (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8) | ((d(i + 2) & 0xff) << 16) |
      ((d(i + 3) & 0xff) << 24)
}
