package graft.sketches

import graft.core.{Bytes, SparseCells}

/**
 * Count-min frequency sketch (Cormode & Muthukrishnan 2005). depth x width
 * counter matrix; row i uses the seeded hash family i. Point estimate is the
 * row minimum: always >= the true count, and <= true + eps*N with probability
 * 1 - delta, for eps = e/width and delta = e^-depth. Merge is element-wise
 * addition — associative and commutative.
 *
 * Counters are stored sparse first: the touched cells as (index, count)
 * entries of a [[SparseCells]] list, until more than [[SparseCells.cap]]
 * are touched; then the dense depth x width matrix. A new sketch holds the
 * empty list and no counter array. Both forms give the same bytes and
 * estimates.
 */
final class CountMin private (
    val depth: Int,
    val width: Int,
    private var cells: Array[Long], // dense depth * width, row-major; null while sparse
    private var sparse: SparseCells, // touched cells; null once dense
    private var totalVar: Long)
    extends Serializable {

  def total: Long = totalVar

  private def numCells: Int = depth * width

  /** True until the first count is added: the sparse list is empty, so an
   * unused aggregation buffer costs only this object and its empty list. */
  def isPristine: Boolean = sparse != null && sparse.size == 0 && totalVar == 0L

  /** A copy of the depth x width counters, row-major. */
  def counters: Array[Long] =
    if (cells != null) cells.clone()
    else {
      val out = new Array[Long](numCells)
      var k = 0
      while (k < sparse.size) {
        out(sparse.key(k)) = sparse.value(k)
        k += 1
      }
      out
    }

  /** True once the sketch has moved to its dense array. */
  private[graft] def isDense: Boolean = sparse == null

  /** Moves to the dense counter matrix (a no-op once dense). */
  private[graft] def densify(): this.type = {
    if (sparse != null) {
      cells = counters
      sparse = null
    }
    this
  }

  def epsilon: Double = math.E / width
  def delta: Double = math.exp(-depth.toDouble)

  private def bucket(hash: Long, row: Int): Int = {
    val h = Hashing.hashLong(hash, seed = row.toLong + 1)
    ((h % width + width) % width).toInt
  }

  /** Counter `i`. */
  private def cell(i: Int): Long = if (cells != null) cells(i) else sparse.get(i)

  /** Adds `v` to counter `i`. */
  private def addCell(i: Int, v: Long): Unit =
    if (cells != null) cells(i) += v
    else {
      val k = sparse.slot(i)
      if (k < 0) {
        densify()
        cells(i) += v
      } else sparse.setValue(k, sparse.value(k) + v)
    }

  def addHash(hash: Long, count: Long = 1L): this.type = {
    require(count >= 0)
    if (count != 0L) {
      var row = 0
      while (row < depth) {
        addCell(row * width + bucket(hash, row), count)
        row += 1
      }
    }
    totalVar += count
    this
  }

  def addLong(v: Long, count: Long = 1L): this.type = addHash(Hashing.hashLong(v), count)
  def addString(v: String, count: Long = 1L): this.type = addHash(Hashing.hashString(v), count)

  def estimateHash(hash: Long): Long = {
    var est = Long.MaxValue
    var row = 0
    while (row < depth) {
      val c = cell(row * width + bucket(hash, row))
      if (c < est) est = c
      row += 1
    }
    est
  }

  def estimateLong(v: Long): Long = estimateHash(Hashing.hashLong(v))
  def estimateString(v: String): Long = estimateHash(Hashing.hashString(v))

  /** Counter-wise sum of `other` into this sketch. A sparse `other` is
   * added entry by entry; a dense one makes this sketch dense. */
  def merge(other: CountMin): this.type = {
    require(depth == other.depth && width == other.width, "dimension mismatch")
    val o = other.cells
    if (o != null) {
      val c = densify().cells
      var i = 0
      while (i < c.length) {
        c(i) += o(i)
        i += 1
      }
    } else {
      val s = other.sparse
      var k = 0
      while (k < s.size) {
        addCell(s.key(k), s.value(k))
        k += 1
      }
    }
    totalVar += other.totalVar
    this
  }

  /** Stored format: [int32 depth, int32 width, int64 total, int64 counter*],
   * big-endian, counters row-major. */
  def toBytes: Array[Byte] = {
    val w = new Bytes.Writer(16 + numCells * 8)
    w.putInt(depth)
    w.putInt(width)
    w.putLong(totalVar)
    if (cells != null) {
      var i = 0
      while (i < cells.length) {
        w.putLong(cells(i))
        i += 1
      }
    } else {
      var next = 0 // first counter not yet written
      var k = 0
      while (k < sparse.size) {
        w.putZeros((sparse.key(k) - next) * 8)
        w.putLong(sparse.value(k))
        next = sparse.key(k) + 1
        k += 1
      }
      w.putZeros((numCells - next) * 8)
    }
    w.result
  }
}

object CountMin {

  /** Largest depth x width whose dense encoding (16-byte header, 8 bytes
   * a counter) still fits in one JVM array. */
  val MaxCells: Long = (Int.MaxValue - 8 - 16) / 8

  def apply(depth: Int = 5, width: Int = 2048): CountMin = {
    require(depth > 0 && width > 0)
    val cells = depth.toLong * width
    require(cells <= MaxCells,
      s"count-min $depth x $width = $cells counters exceeds the $MaxCells an encoding can hold")
    new CountMin(depth, width, null, SparseCells(depth * width), 0L)
  }

  /** Sizes the sketch for the published (eps, delta) guarantee. */
  def forGuarantee(eps: Double, delta: Double): CountMin =
    apply(math.ceil(math.log(1 / delta)).toInt, math.ceil(math.E / eps).toInt)

  /**
   * Compact aggregation-buffer encoding (see [[Hll.toCompactBytes]]):
   * sparse (indexGap varint, value varint) pairs over the NONZERO counters
   * only — a partial buffer that saw a handful of items ships (and costs
   * encode CPU for) just those counters, not the whole depth x width
   * matrix. Marker byte -1 (dense payloads start with the high byte of a
   * positive int32 depth, i.e. 0); dense fallback when not clearly
   * smaller. Only ever crosses the partial->final shuffle; the stored
   * wire format is unchanged.
   *
   * A sparse sketch writes its list as it stands; a dense one is scanned
   * for its nonzero counters.
   */
  def toCompactBytes(c: CountMin): Array[Byte] = {
    val cells = c.cells
    val n = c.numCells
    // a sparse list (at most one entry in eight counters) is always smaller
    var list = c.sparse
    if (list == null) {
      var len = 0
      var i = 0
      while (i < n) {
        if (cells(i) != 0L) len += 1
        i += 1
      }
      // conservative sparse bound: ~5 B gap + ~10 B value per pair + header
      if (20L + len.toLong * 15L >= 16L + n * 8L) return c.toBytes
      list = SparseCells.nonzero(n, len)(cells(_))
    }
    // a sparse counter that wrapped to zero is not written, as in the dense scan
    list.toGapCoded(1 + Bytes.varSize(c.depth.toLong) + Bytes.varSize(c.width.toLong) +
        Bytes.varSize(c.total), byteValues = false) { w =>
      w.putByte(-1)
      w.putVarLong(c.depth.toLong)
      w.putVarLong(c.width.toLong)
      w.putVarLong(c.total)
    }
  }

  /** Decodes the stored or the compact form. Nonzero counters go in one by
   * one, as adds do, so a blob with at most [[SparseCells.cap]] of them
   * decodes to a sparse sketch and a fuller one to a dense sketch. Compact
   * counter indices must ascend. */
  def fromBytes(bytes: Array[Byte]): CountMin = {
    if (bytes.length > 0 && bytes(0) == -1.toByte) { // compact sparse-pair form
      val r = new Bytes.Reader(bytes, 1, "count-min")
      val depth = r.readVarLong()
      val width = r.readVarLong()
      r.check(depth > 0 && width > 0 && depth <= MaxCells && width <= MaxCells &&
        depth * width <= MaxCells, "sparse dims")
      val total = r.readVarLong()
      val n = (depth * width).toInt
      val nNonzero = SparseCells.readCount(r, n)
      val c = new CountMin(depth.toInt, width.toInt, null, SparseCells(n, nNonzero), total)
      SparseCells.readGapCoded(r, nNonzero, n, byteValues = false)(c.addCell)
      return c
    }
    val r = new Bytes.Reader(bytes, 0, "count-min")
    val depth = r.readInt()
    val width = r.readInt()
    r.check(depth > 0 && width > 0 && depth.toLong * width <= MaxCells, "dims")
    val total = r.readLong()
    val n = r.fits(depth * width, 8)
    val c = new CountMin(depth, width, null, SparseCells(n), total)
    // nonzero counters one by one until the list fills up; then straight
    // into the dense array
    var i = 0
    while (i < n && c.sparse != null) {
      val v = r.readLong()
      if (v != 0L) c.addCell(i, v)
      i += 1
    }
    while (i < n) {
      c.cells(i) = r.readLong()
      i += 1
    }
    c
  }
}

/**
 * Bloom membership filter (Bloom 1970) using Kirsch-Mitzenmacher double
 * hashing: bit positions h1 + i*h2 mod m for i in [0, k). Merge is bit-wise
 * OR (same dimensions) — associative, commutative, idempotent.
 */
final class BloomFilter private (
    val numBits: Long,
    val numHashes: Int,
    private var words: Array[Long]) // numBits / 64 words; null until first write
    extends Serializable {

  private def numWords: Int = (numBits >>> 6).toInt

  /** True until the first bit is set: no bitset exists yet, so an unused
   * aggregation buffer costs only this object. */
  def isPristine: Boolean = words == null

  /** The bitset as 64-bit words, allocated (all zero) on first access. */
  def bits: Array[Long] = {
    if (words == null) words = new Array[Long](numWords)
    words
  }

  def addHash(hash: Long): this.type = {
    val w = bits
    val h1 = hash
    val h2 = Hashing.hashLong(hash, seed = 0x5bf03635L)
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, numBits)
      w((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
    this
  }

  def mightContainHash(hash: Long): Boolean = {
    if (words == null) return false
    val h1 = hash
    val h2 = Hashing.hashLong(hash, seed = 0x5bf03635L)
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, numBits)
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def addLong(v: Long): this.type = addHash(Hashing.hashLong(v))
  def addString(v: String): this.type = addHash(Hashing.hashString(v))
  def mightContainLong(v: Long): Boolean = mightContainHash(Hashing.hashLong(v))
  def mightContainString(v: String): Boolean = mightContainHash(Hashing.hashString(v))

  def merge(other: BloomFilter): this.type = {
    require(numBits == other.numBits && numHashes == other.numHashes, "dimension mismatch")
    val o = other.words
    if (o == null) return this
    val w = bits
    var i = 0
    while (i < w.length) {
      w(i) |= o(i)
      i += 1
    }
    this
  }

  /** Expected false-positive probability at the current fill ratio. */
  def expectedFpp: Double = {
    var ones = 0L
    if (words != null) words.foreach(w => ones += java.lang.Long.bitCount(w))
    math.pow(ones.toDouble / numBits, numHashes.toDouble)
  }

  def toBytes: Array[Byte] = {
    val n = numWords
    val w = new Bytes.Writer(8 + 4 + n * 8)
    w.putLong(numBits)
    w.putInt(numHashes)
    if (words != null) {
      var i = 0
      while (i < n) {
        w.putLong(words(i))
        i += 1
      }
    } else w.putZeros(n * 8)
    w.result
  }
}

object BloomFilter {

  /** Largest bitset, in 64-bit words, whose dense encoding (12-byte header,
   * 8 bytes a word) still fits in one JVM array. */
  val MaxWords: Long = (Int.MaxValue - 8 - 12) / 8

  /** Sizes for expected insertions at the target false-positive probability. */
  def apply(expectedItems: Long, fpp: Double): BloomFilter = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1)
    val ln2 = math.log(2)
    val m = math.max(64L, math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong)
    val mWords = (m + 63) >>> 6
    require(mWords <= MaxWords,
      s"bloom filter for $expectedItems items at fpp $fpp needs $mWords words, " +
        s"over the $MaxWords an encoding can hold")
    val k = math.max(1, math.round(ln2 * m / expectedItems).toInt)
    new BloomFilter(mWords * 64L, k, null)
  }

  /**
   * Compact aggregation-buffer encoding (see [[Hll.toCompactBytes]]):
   * sparse nonzero-word list [-1, varint numBits, varint numHashes,
   * varint nNonzero, (varint wordIndexGap, 8-byte word)*] — a partial
   * buffer holding a handful of items ships tens of bytes instead of the
   * full bitset. Marker -1 (dense payloads start with the high byte of a
   * positive int64 numBits, i.e. 0); dense fallback when not smaller.
   * Shuffle-internal only; the stored wire format is unchanged.
   */
  def toCompactBytes(f: BloomFilter): Array[Byte] = {
    val words = f.words
    val n = f.numWords
    var nNonzero = 0
    var gapBytes = 0
    var prev = -1
    var i = 0
    if (words != null) while (i < n) {
      if (words(i) != 0L) {
        nNonzero += 1
        gapBytes += Bytes.varSize((i - prev).toLong)
        prev = i
      }
      i += 1
    }
    val dense = 12L + n * 8L
    if (16L + nNonzero.toLong * 13L >= dense) return f.toBytes
    val w = new Bytes.Writer(1 + Bytes.varSize(f.numBits) + Bytes.varSize(f.numHashes.toLong) +
      Bytes.varSize(nNonzero.toLong) + gapBytes + nNonzero * 8)
    w.putByte(-1)
    w.putVarLong(f.numBits)
    w.putVarLong(f.numHashes.toLong)
    w.putVarLong(nNonzero.toLong)
    prev = -1
    i = 0
    if (words != null) while (i < n) {
      if (words(i) != 0L) {
        w.putVarLong((i - prev).toLong)
        w.putLong(words(i))
        prev = i
      }
      i += 1
    }
    w.result
  }

  def fromBytes(bytes: Array[Byte]): BloomFilter = {
    if (bytes.length > 0 && bytes(0) == -1.toByte) { // compact sparse-word form
      val r = new Bytes.Reader(bytes, 1, "bloom")
      val numBits = r.readVarLong()
      val numHashes = r.readVarLong().toInt
      r.check(numBits > 0 && (numBits & 63L) == 0L && (numBits >>> 6) <= MaxWords &&
        numHashes > 0, "sparse dims")
      val nWords = (numBits >>> 6).toInt
      val nNonzero = r.readVarLong().toInt
      r.check(nNonzero >= 0 && nNonzero <= nWords, "sparse count")
      val words = if (nNonzero == 0) null else new Array[Long](nWords)
      var idx = -1
      var k = 0
      while (k < nNonzero) {
        idx += r.readVarLong().toInt
        r.check(idx >= 0 && idx < nWords, "sparse index")
        words(idx) = r.readLong()
        k += 1
      }
      return new BloomFilter(numBits, numHashes, words)
    }
    val r = new Bytes.Reader(bytes, 0, "bloom")
    val numBits = r.readLong()
    val numHashes = r.readInt()
    r.check(numBits > 0 && (numBits & 63L) == 0L && (numBits >>> 6) <= MaxWords &&
      numHashes > 0, "dims")
    val n = r.fits(numBits >>> 6, 8)
    val bits = new Array[Long](n)
    var i = 0
    while (i < n) {
      bits(i) = r.readLong()
      i += 1
    }
    new BloomFilter(numBits, numHashes, bits)
  }
}
