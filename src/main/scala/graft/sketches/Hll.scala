package graft.sketches

/**
 * HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier 2007)
 * with 64-bit hashing and linear-counting small-range correction (the
 * HyperLogLog++ refinement that removes the large-range correction).
 *
 * m = 2^precision registers; standard error ~ 1.04 / sqrt(m). Merge is the
 * register-wise max — associative, commutative, idempotent — so partial
 * aggregation over any partitioning yields the identical sketch.
 */
final class Hll private (val precision: Int, private var regs: Array[Byte])
    extends Serializable {
  require(precision >= 4 && precision <= 18, "precision must be in [4, 18]")

  private def m: Int = 1 << precision

  /** True until the first register is written: no register array exists
   * yet, so an unused aggregation buffer costs only this object. */
  def isPristine: Boolean = regs == null

  /** The 2^precision registers, allocated (all zero) on first access. */
  def registers: Array[Byte] = {
    if (regs == null) regs = new Array[Byte](m)
    regs
  }

  def addHash(hash: Long): this.type = {
    val r = registers
    val idx = (hash >>> (64 - precision)).toInt
    val w = hash << precision
    // rank: position of the leftmost 1-bit in the remaining 64-p bits, 1-based;
    // all-zero remainder gets the max rank 64-p+1
    val rank = (if (w == 0L) 64 - precision else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > r(idx)) r(idx) = rank.toByte
    this
  }

  def addLong(v: Long): this.type = addHash(Hashing.hashLong(v))
  def addDouble(v: Double): this.type = addHash(Hashing.hashDouble(v))
  def addString(v: String): this.type = addHash(Hashing.hashString(v))

  def merge(other: Hll): this.type = {
    require(precision == other.precision, "precision mismatch")
    val o = other.regs
    if (o == null) return this
    val r = registers
    var i = 0
    while (i < r.length) {
      if (o(i) > r(i)) r(i) = o(i)
      i += 1
    }
    this
  }

  /** Cardinality estimate. */
  def estimate: Double = {
    val r = registers
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < r.length) {
      sum += java.lang.Double.longBitsToDouble((1023L - r(i)) << 52) // 2^-reg
      if (r(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m.toDouble * m.toDouble / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
    else raw
  }

  /** Published standard error for this precision. */
  def standardError: Double = 1.04 / math.sqrt(m.toDouble)

  private def alpha: Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }

  def toBytes: Array[Byte] = {
    val out = new Array[Byte](1 + m)
    out(0) = precision.toByte
    if (regs != null) System.arraycopy(regs, 0, out, 1, m)
    out
  }
}

object Hll {
  val DefaultPrecision = 14 // 16384 registers, ~0.81% standard error

  def apply(precision: Int = DefaultPrecision): Hll =
    new Hll(precision, null)

  /**
   * Compact aggregation-buffer encoding for partial aggregation at extreme
   * group cardinality (the adaptive-width idea behind the packed histogram
   * buffers, applied to HLL): when few registers are set, emit
   * [-(precision), varint nSet, (varint indexGap, rank byte)*] — about 3
   * bytes per SET register instead of the dense 1 + 2^p array, so a group
   * that saw a handful of items ships tens of bytes across the shuffle
   * instead of 16 KiB at precision 14. Falls back to the dense form when
   * sparse would not be smaller. [[fromBytes]] dispatches on the sign of
   * the first byte (dense payloads start with the positive precision), so
   * both encodings decode to identical registers and identical estimates.
   * The STORED wire format ([[Hll.toBytes]]) is unchanged — this form only
   * ever crosses the partial->final shuffle inside an aggregation.
   */
  def toCompactBytes(h: Hll): Array[Byte] = {
    val regs = h.regs
    val m = 1 << h.precision
    var nSet = 0
    var pairBytes = 0
    var prev = -1
    var i = 0
    if (regs != null) while (i < m) {
      if (regs(i) != 0) {
        nSet += 1
        pairBytes += Varint.size((i - prev).toLong) + 1
        prev = i
      }
      i += 1
    }
    // conservative sparse upper bound: 1 marker + 5 count + nSet * (5 + 1)
    if (6L + nSet.toLong * 6L >= 1L + m) return h.toBytes
    val out = new Array[Byte](1 + Varint.size(nSet.toLong) + pairBytes)
    out(0) = (-h.precision).toByte
    var pos = Varint.write(out, 1, nSet.toLong)
    prev = -1
    i = 0
    if (regs != null) while (i < m) {
      if (regs(i) != 0) {
        pos = Varint.write(out, pos, (i - prev).toLong)
        out(pos) = regs(i)
        pos += 1
        prev = i
      }
      i += 1
    }
    out
  }

  def fromBytes(bytes: Array[Byte]): Hll = {
    require(bytes.length > 0, "corrupt HLL payload (empty)")
    val first = bytes(0).toInt
    if (first < 0) { // compact (sparse) aggregation-buffer form
      val p = -first
      require(p >= 4 && p <= 18, "corrupt HLL payload (sparse precision)")
      val m = 1 << p
      val r = new Varint.Reader(bytes, 1, "HLL")
      val nSet = r.read().toInt
      require(nSet >= 0 && nSet <= m, "corrupt HLL payload (sparse count)")
      val regs = if (nSet == 0) null else new Array[Byte](m)
      var idx = -1
      var k = 0
      while (k < nSet) {
        idx += r.read().toInt
        require(idx >= 0 && idx < m, "corrupt HLL payload (sparse index)")
        regs(idx) = r.readByte()
        k += 1
      }
      new Hll(p, regs)
    } else {
      val p = first
      require(bytes.length == 1 + (1 << p), "corrupt HLL payload")
      new Hll(p, java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
    }
  }
}
