package graft.sketches

import graft.core.SparseCells

/**
 * HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier 2007)
 * with 64-bit hashing and linear-counting small-range correction (the
 * HyperLogLog++ refinement that removes the large-range correction).
 *
 * m = 2^precision registers; standard error ~ 1.04 / sqrt(m). Merge is the
 * register-wise max — associative, commutative, idempotent — so partial
 * aggregation over any partitioning yields the identical sketch.
 *
 * Registers are stored sparse first (HyperLogLog++'s sparse form, see
 * [[SparseCells]]): the set registers as (index, rank) pairs sorted by
 * index, until more than [[SparseCells.cap]] are set; then the dense
 * 2^precision array. A new sketch holds the empty list and allocates
 * nothing. Both forms give the same bytes and estimates.
 */
final class Hll private (
    val precision: Int,
    private var regs: Array[Byte], // dense registers; null while sparse
    private var keys: Array[Int], // sparse: set register indices, ascending
    private var ranks: Array[Byte], // sparse: their ranks
    private var n: Int) // sparse: entries in use
    extends Serializable {
  require(precision >= 4 && precision <= 18, "precision must be in [4, 18]")

  private def m: Int = 1 << precision

  /** True until the first register is set: the sparse list is empty, so
   * an unused aggregation buffer costs only this object. */
  def isPristine: Boolean = regs == null && n == 0

  /** A copy of the 2^precision registers, in index order. */
  def registers: Array[Byte] = if (regs != null) regs.clone() else scatter(new Array[Byte](m), 0)

  /** True once the sketch has moved to its dense array. */
  private[graft] def isDense: Boolean = regs != null

  /** Moves to the dense register array (a no-op once dense). */
  private[graft] def densify(): this.type = {
    if (regs == null) {
      regs = scatter(new Array[Byte](m), 0)
      keys = SparseCells.NoKeys
      ranks = Hll.NoRanks
      n = 0
    }
    this
  }

  /** Writes the sparse entries into `out`, register i at `out(base + i)`. */
  private def scatter(out: Array[Byte], base: Int): Array[Byte] = {
    var k = 0
    while (k < n) {
      out(base + keys(k)) = ranks(k)
      k += 1
    }
    out
  }

  /** Raises register `idx` to `rank`. */
  private def update(idx: Int, rank: Byte): Unit =
    if (regs != null) {
      if (rank > regs(idx)) regs(idx) = rank
    } else {
      val k = java.util.Arrays.binarySearch(keys, 0, n, idx)
      if (k >= 0) {
        if (rank > ranks(k)) ranks(k) = rank
      } else if (n == SparseCells.cap(m)) {
        densify()
        regs(idx) = rank
      } else {
        val at = -k - 1
        if (n == keys.length) {
          val len = SparseCells.grown(n, SparseCells.cap(m))
          keys = java.util.Arrays.copyOf(keys, len)
          ranks = java.util.Arrays.copyOf(ranks, len)
        }
        System.arraycopy(keys, at, keys, at + 1, n - at)
        System.arraycopy(ranks, at, ranks, at + 1, n - at)
        keys(at) = idx
        ranks(at) = rank
        n += 1
      }
    }

  def addHash(hash: Long): this.type = {
    val idx = (hash >>> (64 - precision)).toInt
    val w = hash << precision
    // rank: position of the leftmost 1-bit in the remaining 64-p bits, 1-based;
    // all-zero remainder gets the max rank 64-p+1
    val rank = (if (w == 0L) 64 - precision else java.lang.Long.numberOfLeadingZeros(w)) + 1
    update(idx, rank.toByte)
    this
  }

  def addLong(v: Long): this.type = addHash(Hashing.hashLong(v))
  def addDouble(v: Double): this.type = addHash(Hashing.hashDouble(v))
  def addString(v: String): this.type = addHash(Hashing.hashString(v))

  /** Register-wise max of `other` into this sketch. A sparse `other` is
   * merged entry by entry; a dense one makes this sketch dense. */
  def merge(other: Hll): this.type = {
    require(precision == other.precision, "precision mismatch")
    val o = other.regs
    if (o != null) {
      val r = densify().regs
      var i = 0
      while (i < r.length) {
        if (o(i) > r(i)) r(i) = o(i)
        i += 1
      }
    } else {
      var k = 0
      while (k < other.n) {
        update(other.keys(k), other.ranks(k))
        k += 1
      }
    }
    this
  }

  /** Cardinality estimate. Sums the registers in index order in either
   * form, so the sparse and dense forms give bit-identical estimates. */
  def estimate: Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    if (regs != null) {
      while (i < m) {
        sum += java.lang.Double.longBitsToDouble((1023L - regs(i)) << 52) // 2^-reg
        if (regs(i) == 0) zeros += 1
        i += 1
      }
    } else {
      var k = 0
      while (k <= n) {
        val next = if (k < n) keys(k) else m
        zeros += next - i
        while (i < next) { // unset registers: 2^-0 each
          sum += 1.0
          i += 1
        }
        if (k < n) {
          sum += java.lang.Double.longBitsToDouble((1023L - ranks(k)) << 52)
          i += 1
        }
        k += 1
      }
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

  /** Stored format: [precision, register 0 .. register m-1]. */
  def toBytes: Array[Byte] = {
    val out = new Array[Byte](1 + m)
    out(0) = precision.toByte
    if (regs != null) System.arraycopy(regs, 0, out, 1, m) else scatter(out, 1)
    out
  }
}

object Hll {
  val DefaultPrecision = 14 // 16384 registers, ~0.81% standard error

  private val NoRanks = new Array[Byte](0)

  def apply(precision: Int = DefaultPrecision): Hll =
    new Hll(precision, null, SparseCells.NoKeys, NoRanks, 0)

  /**
   * Compact aggregation-buffer encoding for partial aggregation at extreme
   * group cardinality (the histogram V1 payload's sparse form, applied to
   * HLL): when few registers are set, emit
   * [-(precision), varint nSet, (varint indexGap, rank byte)*] — about 3
   * bytes per SET register instead of the dense 1 + 2^p array, so a group
   * that saw a handful of items ships tens of bytes across the shuffle
   * instead of 16 KiB at precision 14. Falls back to the dense form when
   * sparse would not be smaller. [[fromBytes]] dispatches on the sign of
   * the first byte (dense payloads start with the positive precision), so
   * both encodings decode to identical registers and identical estimates.
   * The STORED wire format ([[Hll.toBytes]]) is unchanged — this form only
   * ever crosses the partial->final shuffle inside an aggregation.
   *
   * A sparse sketch writes its list as it stands; a dense one is scanned
   * for its set registers.
   */
  def toCompactBytes(h: Hll): Array[Byte] = {
    val regs = h.regs
    val m = 1 << h.precision
    var nSet = h.n
    if (regs != null) {
      nSet = 0
      var i = 0
      while (i < m) {
        if (regs(i) != 0) nSet += 1
        i += 1
      }
    }
    // conservative sparse upper bound: 1 marker + 5 count + nSet * (5 + 1)
    if (6L + nSet.toLong * 6L >= 1L + m) return h.toBytes
    var keys = h.keys
    var ranks = h.ranks
    if (regs != null) {
      keys = new Array[Int](nSet)
      ranks = new Array[Byte](nSet)
      var i = 0
      var k = 0
      while (i < m) {
        if (regs(i) != 0) {
          keys(k) = i
          ranks(k) = regs(i)
          k += 1
        }
        i += 1
      }
    }
    var pairBytes = 0
    var prev = -1
    var k = 0
    while (k < nSet) {
      pairBytes += Varint.size((keys(k) - prev).toLong) + 1
      prev = keys(k)
      k += 1
    }
    val out = new Array[Byte](1 + Varint.size(nSet.toLong) + pairBytes)
    out(0) = (-h.precision).toByte
    var pos = Varint.write(out, 1, nSet.toLong)
    prev = -1
    k = 0
    while (k < nSet) {
      pos = Varint.write(out, pos, (keys(k) - prev).toLong)
      out(pos) = ranks(k)
      pos += 1
      prev = keys(k)
      k += 1
    }
    out
  }

  /** Decodes the stored or the compact form. A compact blob with at most
   * [[SparseCells.cap]] set registers decodes to a sparse sketch; a fuller
   * one, and the stored form, to a dense sketch (copying the stored
   * registers, one byte each, is cheaper than scanning them for the set
   * ones). Compact register indices must ascend and their ranks lie in
   * [1, 65 - precision]. */
  def fromBytes(bytes: Array[Byte]): Hll = {
    require(bytes.length > 0, "corrupt HLL payload (empty)")
    val first = bytes(0).toInt
    val p = math.abs(first)
    require(p >= 4 && p <= 18, "corrupt HLL payload (precision)")
    val m = 1 << p
    if (first < 0) { // compact (sparse) aggregation-buffer form
      val maxRank = 65 - p
      val r = new Varint.Reader(bytes, 1, "HLL")
      val nSet = r.read()
      require(nSet >= 0 && nSet <= m, "corrupt HLL payload (sparse count)")
      val dense = nSet > SparseCells.cap(m)
      val regs = if (dense) new Array[Byte](m) else null
      val keys = if (dense || nSet == 0) SparseCells.NoKeys else new Array[Int](nSet.toInt)
      val ranks = if (dense || nSet == 0) NoRanks else new Array[Byte](nSet.toInt)
      var idx = -1L
      var k = 0
      while (k < nSet) {
        val gap = r.read()
        require(gap >= 1 && gap < m - idx, "corrupt HLL payload (sparse index)")
        idx += gap
        val rank = r.readByte()
        require(rank >= 1 && rank <= maxRank, "corrupt HLL payload (sparse rank)")
        if (dense) regs(idx.toInt) = rank
        else {
          keys(k) = idx.toInt
          ranks(k) = rank
        }
        k += 1
      }
      if (dense) new Hll(p, regs, SparseCells.NoKeys, NoRanks, 0)
      else new Hll(p, null, keys, ranks, nSet.toInt)
    } else {
      require(bytes.length == 1 + m, "corrupt HLL payload")
      new Hll(p, java.util.Arrays.copyOfRange(bytes, 1, bytes.length), SparseCells.NoKeys,
        NoRanks, 0)
    }
  }
}
