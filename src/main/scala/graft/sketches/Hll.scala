package graft.sketches

import graft.core.{Bytes, SparseCells}

/**
 * HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier 2007)
 * with 64-bit hashing and linear-counting small-range correction (the
 * HyperLogLog++ refinement that removes the large-range correction).
 *
 * m = 2^precision registers; standard error ~ 1.04 / sqrt(m). Merge is the
 * register-wise max — associative, commutative, idempotent — so partial
 * aggregation over any partitioning yields the identical sketch.
 *
 * Registers are stored sparse first (HyperLogLog++'s sparse form): the
 * set registers as (index, rank) entries of a [[SparseCells]] list, until
 * more than [[SparseCells.cap]] are set; then the dense 2^precision byte
 * array. A new sketch holds the empty list and no register array. Both
 * forms give the same bytes and estimates.
 */
final class Hll private (
    val precision: Int,
    private var regs: Array[Byte], // dense registers; null while sparse
    expected: Int) // set registers a new sparse list makes room for
    extends Serializable {
  require(precision >= 4 && precision <= 18, "precision must be in [4, 18]")

  // set registers; null once dense
  private var sparse: SparseCells = if (regs == null) SparseCells(m, expected) else null

  private def m: Int = 1 << precision

  /** True until the first register is set: the sparse list is empty, so
   * an unused aggregation buffer costs only this object and its empty list. */
  def isPristine: Boolean = sparse != null && sparse.size == 0

  /** A copy of the 2^precision registers, in index order. */
  def registers: Array[Byte] = if (regs != null) regs.clone() else scatter(new Array[Byte](m), 0)

  /** True once the sketch has moved to its dense array. */
  private[graft] def isDense: Boolean = sparse == null

  /** Moves to the dense register array (a no-op once dense). */
  private[graft] def densify(): this.type = {
    if (sparse != null) {
      regs = scatter(new Array[Byte](m), 0)
      sparse = null
    }
    this
  }

  /** Writes the sparse entries into `out`, register i at `out(base + i)`. */
  private def scatter(out: Array[Byte], base: Int): Array[Byte] = {
    var k = 0
    while (k < sparse.size) {
      out(base + sparse.key(k)) = sparse.value(k).toByte
      k += 1
    }
    out
  }

  /** Raises register `idx` to `rank`. */
  private def update(idx: Int, rank: Byte): Unit =
    if (sparse == null) {
      if (rank > regs(idx)) regs(idx) = rank
    } else {
      val k = sparse.slot(idx)
      if (k < 0) {
        densify()
        regs(idx) = rank
      } else if (rank > sparse.value(k)) sparse.setValue(k, rank)
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
      val s = other.sparse
      var k = 0
      while (k < s.size) {
        update(s.key(k), s.value(k).toByte)
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
      val n = sparse.size
      var k = 0
      while (k <= n) {
        val next = if (k < n) sparse.key(k) else m
        zeros += next - i
        while (i < next) { // unset registers: 2^-0 each
          sum += 1.0
          i += 1
        }
        if (k < n) {
          sum += java.lang.Double.longBitsToDouble((1023L - sparse.value(k)) << 52)
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

  def apply(precision: Int = DefaultPrecision): Hll =
    new Hll(precision, null, 0)

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
    var nSet = 0
    if (h.sparse != null) nSet = h.sparse.size
    else {
      var i = 0
      while (i < m) {
        if (regs(i) != 0) nSet += 1
        i += 1
      }
    }
    // conservative sparse upper bound: 1 marker + 5 count + nSet * (5 + 1)
    if (6L + nSet.toLong * 6L >= 1L + m) return h.toBytes
    val set = if (h.sparse != null) h.sparse else SparseCells.nonzero(m, nSet)(regs(_))
    set.toGapCoded(1, byteValues = true)(_.putByte(-h.precision))
  }

  /** Decodes the stored or the compact form. The compact form's registers
   * go in one by one, as adds do, so a blob with at most
   * [[SparseCells.cap]] set registers decodes to a sparse sketch and a
   * fuller one to a dense sketch. The stored form decodes dense (copying
   * the stored registers, one byte each, is cheaper than scanning them for
   * the set ones). Compact register indices must ascend and their ranks lie
   * in [1, 65 - precision]. */
  def fromBytes(bytes: Array[Byte]): Hll = {
    val r = new Bytes.Reader(bytes, 0, "HLL")
    val first = r.readByte().toInt
    val p = math.abs(first)
    r.check(p >= 4 && p <= 18, "precision")
    val m = 1 << p
    if (first < 0) { // compact (sparse) aggregation-buffer form
      val maxRank = 65 - p
      val nSet = SparseCells.readCount(r, m)
      val h = new Hll(p, null, nSet)
      SparseCells.readGapCoded(r, nSet, m, byteValues = true) { (idx, rank) =>
        r.check(rank >= 1 && rank <= maxRank, "sparse rank")
        h.update(idx, rank.toByte)
      }
      h
    } else {
      r.check(r.remaining == m, "length")
      new Hll(p, java.util.Arrays.copyOfRange(bytes, 1, bytes.length), 0)
    }
  }
}
