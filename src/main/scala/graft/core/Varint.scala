package graft.core

/**
 * LEB128 unsigned varints for the COMPACT aggregation-buffer encodings of
 * the companion sketches (the histogram V1 payload's sparse form applied
 * to the partial buffers crossing the shuffle: a group that saw 3 distinct
 * items ships ~10 bytes, not a dense 2^p register array). The STORED wire
 * formats (`toBytes`) stay dense; each sketch's `fromBytes` dispatches on
 * a marker byte, so both forms decode to identical state.
 *
 * Encoders size their output exactly with [[size]] in the pass that counts
 * the nonzero cells, then [[write]] into that one array.
 */
private[graft] object Varint {

  /** Encoded length of `v` in bytes (1..10). */
  def size(v: Long): Int = {
    var n = 1
    var r = v >>> 7
    while (r != 0L) { n += 1; r >>>= 7 }
    n
  }

  /** Writes `v` at `pos`; returns the position after it. */
  def write(out: Array[Byte], pos: Int, v0: Long): Int = {
    var v = v0
    var p = pos
    while ((v & ~0x7fL) != 0L) {
      out(p) = ((v & 0x7fL) | 0x80L).toByte
      p += 1
      v >>>= 7
    }
    out(p) = v.toByte
    p + 1
  }

  /** Reads varints and raw bytes from `pos` on. Running past the end of
   * `bytes`, or a varint longer than 10 bytes, fails with
   * `require` "corrupt `what` payload (...)". */
  final class Reader(val bytes: Array[Byte], var pos: Int, val what: String) {
    def read(): Long = {
      var shift = 0
      var acc = 0L
      var b = 0
      do {
        require(shift < 70, s"corrupt $what payload (varint too long)")
        b = readByte() & 0xff
        acc |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      acc
    }
    def readByte(): Byte = {
      require(pos < bytes.length, s"corrupt $what payload (truncated)")
      val b = bytes(pos)
      pos += 1
      b
    }
  }
}
