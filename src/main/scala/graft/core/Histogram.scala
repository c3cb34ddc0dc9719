package graft.core

/**
 * Mutable error-bounded histogram sketch over IEEE-754 doubles.
 *
 * State: the regular bins' 64-bit counters, plus exact underflow/overflow/
 * total counts and exact min/max (signed zero respected). The counters are
 * stored sparse first, as in DynaHist's dynamic histogram, which spends
 * memory only on the bins it has seen: the touched bins as (bin index,
 * count) entries of a [[SparseCells]] list, until more than
 * [[SparseCells.cap]] (at most 128) are touched; then one dense counter
 * window over the touched span, grown geometrically by >= 25% as values
 * land outside it. A new histogram allocates no counter array, and a
 * 20-value group never builds a window. Both forms answer every read and
 * write the same bytes. Recording is
 * O(log 128) sparse and O(1) dense; merge of equal-layout histograms is
 * bin-wise counter addition and therefore associative and commutative —
 * the property that makes this a valid distributed aggregation buffer
 * (partial aggregation + shuffle merge in any order yields identical state).
 *
 * Behavior matches the reference semantics
 * (dynahist `AbstractMutableHistogram.java:30-255`, `DynamicHistogram.java:28-310`):
 * NaN rejected, +-inf allowed (land in under/overflow bins), counter overflow
 * raises ArithmeticException, -0.0 ordered below 0.0 for min/max.
 */
final class Histogram private (val layout: Layout) extends Serializable {

  // Sparse phase: the touched regular bins with their counts (each > 0);
  // null once the histogram is dense.
  private var sparse: SparseCells =
    SparseCells(math.min(layout.regularBinCount, Int.MaxValue.toLong).toInt)

  // Dense phase: a window of `windowLen` plain 64-bit counters starting at
  // bin index `windowStart` (the reference's StaticHistogram-style buffer).
  private var counts: Array[Long] = Array.emptyLongArray
  private var windowStart: Int = 0 // bin index of counter 0; meaningful iff windowLen > 0
  private var windowLen: Int = 0

  private var underflowCountVar: Long = 0L
  private var overflowCountVar: Long = 0L
  private var totalCountVar: Long = 0L
  private var minVar: Double = Double.PositiveInfinity
  private var maxVar: Double = Double.NegativeInfinity

  def underflowCount: Long = underflowCountVar
  def overflowCount: Long = overflowCountVar
  def totalCount: Long = totalCountVar
  def min: Double = minVar
  def max: Double = maxVar
  def isEmpty: Boolean = totalCountVar == 0L

  private def updateMin(m: Double): Unit = {
    if (m <= minVar &&
      (m < minVar || java.lang.Double.doubleToRawLongBits(m) == 0x8000000000000000L)) {
      minVar = m
    }
  }

  private def updateMax(m: Double): Unit = {
    if (m >= maxVar &&
      (m > maxVar || java.lang.Double.doubleToRawLongBits(m) == 0L)) {
      maxVar = m
    }
  }

  /** Records `value` once. */
  def addValue(value: Double): this.type = addValue(value, 1L)

  /** Records `value` with multiplicity `count`. A histogram still in its
   * sparse phase records through [[addValueSparse]], so this method holds
   * only the dense path: with the sparse insert inlined into it, C2
   * compiled the dense path about 1 ns a value slower. */
  def addValue(value: Double, count: Long): this.type = {
    if (sparse != null) return addValueSparse(value, count)
    val idx = record(value, count)
    if (idx != Histogram.NotRegular) {
      if (idx < windowStart || idx >= windowStart + windowLen) growWindow(idx)
      addToCounterAt(idx - windowStart, count)
    }
    this
  }

  /** [[addValue]] in the sparse phase, out of line. */
  private def addValueSparse(value: Double, count: Long): this.type = {
    val idx = record(value, count)
    if (idx != Histogram.NotRegular) incrementSparse(idx, count, idx, idx)
    this
  }

  /** Checks `value` and `count`, adds them to the total, extremes and
   * under/overflow counts, and returns the regular bin to add `count` to,
   * or [[Histogram.NotRegular]]. */
  private def record(value: Double, count: Long): Int = {
    if (count == 0) return Histogram.NotRegular
    require(count > 0, s"count must be non-negative, but was $count")
    if (value != value) throw new IllegalArgumentException("value must not be NaN")
    if (count > Long.MaxValue - totalCountVar) throw new ArithmeticException("count overflow")
    val idx = layout.mapToBinIndex(value)
    totalCountVar += count
    updateMin(value)
    updateMax(value)
    if (idx <= layout.underflowBinIndex) { underflowCountVar += count; Histogram.NotRegular }
    else if (idx >= layout.overflowBinIndex) { overflowCountVar += count; Histogram.NotRegular }
    else idx
  }

  // ---------------------------------------------------------------------
  // sparse list
  // ---------------------------------------------------------------------

  /** Adds `count` (> 0) to regular bin `idx`. */
  private[core] def incrementRegular(idx: Int, count: Long): Unit =
    if (sparse == null) {
      if (idx < windowStart || idx >= windowStart + windowLen) growWindow(idx)
      addToCounterAt(idx - windowStart, count)
    } else incrementSparse(idx, count, idx, idx)

  /** Adds `count` (> 0) to regular bin `idx` of the list. A full list moves
   * to one counter window over its span and [lo, hi], which holds `idx`. */
  private def incrementSparse(idx: Int, count: Long, lo: Int, hi: Int): Unit = {
    val k = sparse.slot(idx)
    if (k < 0) {
      densify(lo, hi)
      addToCounterAt(idx - windowStart, count)
    } else {
      val updated = sparse.value(k) + count
      if (updated < 0) throw new ArithmeticException("counter overflow")
      sparse.setValue(k, updated)
    }
  }

  /** Moves to the dense phase (a no-op once dense), with a window over the
   * list's span. */
  private[graft] def densify(): this.type = {
    if (sparse != null) {
      if (sparse.size == 0) installWindow(0, 0)
      else densify(sparse.key(0), sparse.key(sparse.size - 1))
    }
    this
  }

  /** Moves the list into one counter window over its span and [lo, hi]. */
  private def densify(lo: Int, hi: Int): Unit = {
    val n = sparse.size
    val from = if (n > 0) math.min(lo, sparse.key(0)) else lo
    val to = if (n > 0) math.max(hi, sparse.key(n - 1)) else hi
    installWindow(from, to - from + 1)
  }

  /** Replaces the list with a counter window of `len` counters from bin
   * `start` holding the list's counts. */
  private def installWindow(start: Int, len: Int): Unit = {
    val s = sparse
    counts = new Array[Long](len)
    windowStart = start
    windowLen = len
    sparse = null
    var k = 0
    while (k < s.size) {
      counts(s.key(k) - start) = s.value(k)
      k += 1
    }
  }

  /** True once the histogram has moved to its counter window. */
  private[graft] def isDense: Boolean = sparse == null

  /** Adds `delta` to the counter at window position `pos`. */
  private def addToCounterAt(pos: Int, delta: Long): Unit = {
    val updated = counts(pos) + delta
    if (updated < 0) throw new ArithmeticException("counter overflow")
    counts(pos) = updated
  }

  private def growWindow(idx: Int): Unit = {
    if (windowLen == 0) {
      counts = new Array[Long](1)
      windowStart = idx
      windowLen = 1
      return
    }
    val curStart = windowStart
    val curEnd = windowStart + windowLen // exclusive
    var newStart = math.min(curStart, idx)
    var newEnd = math.max(curEnd, idx + 1)
    // grow by at least 25% to amortize repeated extension
    val needed = newEnd - newStart
    val desired = math.max(needed, windowLen + (windowLen >> 2) + 1)
    val loRoom = curStart - layout.underflowBinIndex - 1
    val hiRoom = layout.overflowBinIndex - curEnd
    val extra = desired - needed
    if (extra > 0) {
      if (idx < curStart) {
        val take = math.min(extra.toLong, loRoom - (curStart - newStart)).toInt
        if (take > 0) newStart -= take
      } else {
        val take = math.min(extra.toLong, hiRoom - (newEnd - curEnd)).toInt
        if (take > 0) newEnd += take
      }
    }
    val newLen = newEnd - newStart
    val fresh = new Array[Long](newLen)
    System.arraycopy(counts, 0, fresh, curStart - newStart, windowLen)
    counts = fresh
    windowStart = newStart
    windowLen = newLen
  }

  /** Counter of the given bin index (under/overflow totals at their indices). */
  def countAt(binIndex: Int): Long = {
    if (binIndex <= layout.underflowBinIndex) {
      if (binIndex == layout.underflowBinIndex) underflowCountVar else 0L
    } else if (binIndex >= layout.overflowBinIndex) {
      if (binIndex == layout.overflowBinIndex) overflowCountVar else 0L
    } else regularCountAt(binIndex)
  }

  private def regularCountAt(binIndex: Int): Long =
    if (sparse == null) {
      val pos = binIndex - windowStart
      if (pos >= 0 && pos < windowLen) counts(pos) else 0L
    } else sparse.get(binIndex)

  /** Smallest non-empty regular bin above `idx`; there must be one. */
  private def nextNonEmptyRegular(idx: Int): Int =
    if (sparse == null) {
      var pos = math.max(idx + 1, windowStart) - windowStart
      while (counts(pos) == 0L) pos += 1
      windowStart + pos
    } else sparse.ceiling(idx + 1)

  /** Largest non-empty regular bin below `idx`; there must be one. */
  private def previousNonEmptyRegular(idx: Int): Int =
    if (sparse == null) {
      var pos = math.min(idx - 1, windowStart + windowLen - 1) - windowStart
      while (counts(pos) == 0L) pos -= 1
      windowStart + pos
    } else sparse.floor(idx - 1)

  /** True when some regular bin is non-empty. */
  private def hasRegularCounts: Boolean =
    totalCountVar - underflowCountVar - overflowCountVar > 0L

  /**
   * Merges another histogram into this one. Equal layouts merge exactly
   * (bin-wise addition); differing layouts are lossily re-binned through the
   * other histogram's rank-value estimates
   * (dynahist `AbstractMutableHistogram.java:86-124`).
   */
  def add(other: Histogram, estimator: ValueEstimator = ValueEstimator.Uniform): this.type = {
    if (other.isEmpty) return this
    if (other.totalCountVar > Long.MaxValue - totalCountVar)
      throw new ArithmeticException("count overflow")
    if (layout == other.layout) {
      totalCountVar += other.totalCountVar
      underflowCountVar += other.underflowCountVar
      overflowCountVar += other.overflowCountVar
      updateMin(other.minVar)
      updateMax(other.maxVar)
      val o = other.sparse
      if (o != null) {
        if (o.size > 0) {
          val lo = o.key(0)
          val hi = o.key(o.size - 1)
          // into the list while it has room; one that fills up goes dense
          // over o's span too, and the rest go into the window
          var k = 0
          while (k < o.size && sparse != null) {
            incrementSparse(o.key(k), o.value(k), lo, hi)
            k += 1
          }
          if (k < o.size) {
            ensureWindow(lo, hi)
            while (k < o.size) {
              addToCounterAt(o.key(k) - windowStart, o.value(k))
              k += 1
            }
          }
        }
      } else if (other.windowLen > 0) {
        // locate other's non-empty span to avoid over-allocating
        var lo = 0
        while (lo < other.windowLen && other.counts(lo) == 0L) lo += 1
        var hi = other.windowLen - 1
        while (hi >= lo && other.counts(hi) == 0L) hi -= 1
        if (lo <= hi) {
          // a dense side with counts densifies this one
          if (sparse == null) ensureWindow(other.windowStart + lo, other.windowStart + hi)
          else densify(other.windowStart + lo, other.windowStart + hi)
          var i = lo
          while (i <= hi) {
            val c = other.counts(i)
            if (c != 0L) addToCounterAt(other.windowStart + i - windowStart, c)
            i += 1
          }
        }
      }
      this
    } else {
      val pre = new PreprocessedHistogram(other)
      addAscendingSequence(rank => pre.valueAt(rank, estimator), other.totalCountVar)
    }
  }

  /** Grows the dense window to cover [fromIdx, toIdx]. */
  private def ensureWindow(fromIdx: Int, toIdx: Int): Unit = {
    if (windowLen == 0) {
      windowLen = toIdx - fromIdx + 1
      counts = new Array[Long](windowLen)
      windowStart = fromIdx
    } else {
      if (fromIdx < windowStart) growWindow(fromIdx)
      if (toIdx >= windowStart + windowLen) growWindow(toIdx)
    }
  }

  /**
   * Bulk-inserts a monotone non-decreasing sequence `f(0..n-1)` in O(#bins)
   * using galloping search to find runs mapping to the same bin
   * (dynahist `AbstractMutableHistogram.java:363-397`).
   */
  def addAscendingSequence(f: Long => Double, n: Long): this.type = {
    if (n == 0) return this
    if (n > Long.MaxValue - totalCountVar) throw new ArithmeticException("count overflow")
    var rank = 0L
    var lastRun = 1L
    while (rank < n) {
      val v = f(rank)
      val idx = layout.mapToBinIndex(v)
      val next =
        if (rank + 1 == n) n
        else {
          val guess = math.min(n, rank + lastRun)
          Algorithms.findFirst(
            r => r == n || layout.mapToBinIndex(f(r)) > idx,
            rank + 1,
            n,
            guess)
        }
      lastRun = next - rank
      addValue(v, lastRun)
      // min/max correctness: addValue(v, k) sets min/max to v; also fold the
      // run's true extremes (first value already v; last value of run):
      if (next - 1 > rank) updateMax(f(next - 1))
      rank = next
    }
    this
  }

  // -------------------------------------------------------------------------
  // Bin iteration
  // -------------------------------------------------------------------------

  /** Cursor over non-empty bins in ascending order, with running less/greater
   * counts and [min,max]-clamped bounds. */
  final class BinCursor private[Histogram] (
      private var binIndexVar: Int,
      private var lessCountVar: Long,
      private var greaterCountVar: Long,
      private var countVar: Long) {

    def binIndex: Int = binIndexVar
    def binCount: Long = countVar
    def lessCount: Long = lessCountVar
    def greaterCount: Long = greaterCountVar
    def isUnderflowBin: Boolean = binIndexVar == layout.underflowBinIndex
    def isOverflowBin: Boolean = binIndexVar == layout.overflowBinIndex
    def isFirstNonEmptyBin: Boolean = lessCountVar == 0L
    def isLastNonEmptyBin: Boolean = greaterCountVar == 0L
    def lowerBound: Double = math.max(minVar, layout.binLowerBound(binIndexVar))
    def upperBound: Double = math.min(maxVar, layout.binUpperBound(binIndexVar))

    def hasNext: Boolean = greaterCountVar > 0L
    def hasPrevious: Boolean = lessCountVar > 0L

    def next(): this.type = {
      if (greaterCountVar <= 0) throw new NoSuchElementException
      lessCountVar += countVar
      if (greaterCountVar != overflowCountVar) {
        binIndexVar = nextNonEmptyRegular(binIndexVar)
        countVar = regularCountAt(binIndexVar)
        greaterCountVar -= countVar
      } else {
        binIndexVar = layout.overflowBinIndex
        countVar = greaterCountVar
        greaterCountVar = 0L
      }
      this
    }

    def previous(): this.type = {
      if (lessCountVar <= 0) throw new NoSuchElementException
      greaterCountVar += countVar
      if (lessCountVar != underflowCountVar) {
        binIndexVar = previousNonEmptyRegular(binIndexVar)
        countVar = regularCountAt(binIndexVar)
        lessCountVar -= countVar
      } else {
        binIndexVar = layout.underflowBinIndex
        countVar = lessCountVar
        lessCountVar = 0L
      }
      this
    }

    def copy(): BinCursor = new BinCursor(binIndexVar, lessCountVar, greaterCountVar, countVar)

    def toBin: Bin = Bin(
      binIndexVar,
      countVar,
      lessCountVar,
      greaterCountVar,
      lowerBound,
      upperBound,
      isUnderflowBin,
      isOverflowBin)
  }

  def firstNonEmptyBin: BinCursor = {
    if (isEmpty) throw new NoSuchElementException("histogram is empty")
    if (underflowCountVar > 0L) {
      new BinCursor(
        layout.underflowBinIndex,
        0L,
        totalCountVar - underflowCountVar,
        underflowCountVar)
    } else if (!hasRegularCounts) {
      // only overflow is populated
      new BinCursor(layout.overflowBinIndex, 0L, 0L, overflowCountVar)
    } else {
      val idx = nextNonEmptyRegular(layout.underflowBinIndex)
      val c = regularCountAt(idx)
      new BinCursor(idx, 0L, totalCountVar - c, c)
    }
  }

  def lastNonEmptyBin: BinCursor = {
    if (isEmpty) throw new NoSuchElementException("histogram is empty")
    if (overflowCountVar > 0L) {
      new BinCursor(
        layout.overflowBinIndex,
        totalCountVar - overflowCountVar,
        0L,
        overflowCountVar)
    } else if (!hasRegularCounts) {
      new BinCursor(layout.underflowBinIndex, 0L, 0L, underflowCountVar)
    } else {
      val idx = previousNonEmptyRegular(layout.overflowBinIndex)
      val c = regularCountAt(idx)
      new BinCursor(idx, totalCountVar - c, 0L, c)
    }
  }

  /** All non-empty bins ascending (materialized; for explode/debug). */
  def nonEmptyBins: Vector[Bin] = {
    if (isEmpty) return Vector.empty
    val b = Vector.newBuilder[Bin]
    val cur = firstNonEmptyBin
    b += cur.toBin
    while (cur.hasNext) {
      cur.next()
      b += cur.toBin
    }
    b.result()
  }

  // -------------------------------------------------------------------------
  // Order statistics
  // -------------------------------------------------------------------------

  /** Bin containing the value of the given zero-based rank; scans from the
   * nearer end (dynahist `AbstractHistogram.java:190-209`). */
  def binByRank(rank: Long): BinCursor = {
    require(rank >= 0 && rank < totalCountVar, s"rank $rank out of [0, $totalCountVar)")
    if (rank < (totalCountVar >>> 1)) {
      val it = firstNonEmptyBin
      while (it.greaterCount >= totalCountVar - rank) it.next()
      it
    } else {
      val it = lastNonEmptyBin
      while (it.lessCount > rank) it.previous()
      it
    }
  }

  /** Estimate of the k-th (zero-based) smallest recorded value. Exact at
   * rank 0 (min) and rank n-1 (max). */
  def valueAt(rank: Long, estimator: ValueEstimator = ValueEstimator.Uniform): Double = {
    require(rank >= 0 && rank < totalCountVar, s"rank $rank out of [0, $totalCountVar)")
    if (rank <= 0) minVar
    else if (rank + 1 == totalCountVar) maxVar
    else estimator.estimateFromBin(binByRank(rank).toBin, rank)
  }

  /** Quantile estimate with SciPy-mquantiles interpolation; error bounded by
   * the layout's bin-width limits. */
  def quantile(
      p: Double,
      quantileEstimator: QuantileEstimator = QuantileEstimator.SciPyDefault,
      valueEstimator: ValueEstimator = ValueEstimator.Uniform): Double =
    quantileEstimator.estimate(p, rank => valueAt(rank, valueEstimator), totalCountVar)

  /** Immutable O(log bins) rank-query view. */
  def preprocessed: PreprocessedHistogram = new PreprocessedHistogram(this)

  // -------------------------------------------------------------------------

  override def equals(o: Any): Boolean = o match {
    case h: Histogram =>
      if (!(layout == h.layout &&
          totalCountVar == h.totalCountVar &&
          underflowCountVar == h.underflowCountVar &&
          overflowCountVar == h.overflowCountVar &&
          java.lang.Double.compare(minVar, h.minVar) == 0 &&
          java.lang.Double.compare(maxVar, h.maxVar) == 0)) false
      else regularCountsIn(h) && h.regularCountsIn(this)
    case _ => false
  }

  /** True when `h` holds each of this histogram's stored regular counts
   * (the stored bins are bounded by actual use, so this iterates them
   * rather than the full index range). */
  private def regularCountsIn(h: Histogram): Boolean =
    if (sparse == null)
      (0 until windowLen).forall(i => counts(i) == h.regularCountAt(windowStart + i))
    else (0 until sparse.size).forall(k => sparse.value(k) == h.regularCountAt(sparse.key(k)))

  override def hashCode(): Int = {
    var result = layout.hashCode()
    result = 31 * result + java.lang.Long.hashCode(totalCountVar)
    result = 31 * result + java.lang.Double.hashCode(minVar)
    result = 31 * result + java.lang.Double.hashCode(maxVar)
    result
  }

  override def toString: String =
    s"Histogram(layout=$layout, total=$totalCountVar, min=$minVar, max=$maxVar, " +
      s"underflow=$underflowCountVar, overflow=$overflowCountVar)"

  /** Rough in-memory footprint: the object with its fields, and the sparse
   * list or the counter window (8 bytes a counter), each array with its
   * header. */
  def estimatedFootprintBytes: Long =
    16L + (if (sparse != null) sparse.footprintBytes else 0L) +
      SparseCells.arrayBytes(counts.length, 8) + 4L + 3L * 8L + 2L * 8L

  /** Sets the non-regular state of a histogram whose regular counts a
   * decoder has recorded. */
  private[core] def setTotalsForDeserialization(
      underflow: Long,
      overflow: Long,
      total: Long,
      newMin: Double,
      newMax: Double): Unit = {
    underflowCountVar = underflow
    overflowCountVar = overflow
    totalCountVar = total
    minVar = newMin
    maxVar = newMax
  }

  /** Preallocates the window over the layout's whole regular range. */
  private def preallocateFullRange(): Unit =
    installWindow(layout.underflowBinIndex + 1, layout.regularBinCount.toInt)
}

object Histogram {

  /** No regular bin: regular bins lie above the underflow bin. */
  private final val NotRegular = Int.MinValue

  /** An empty histogram: sparse until more than [[SparseCells.cap]] bins
   * are touched, then one window of plain 64-bit counters grown on demand. */
  def apply(layout: Layout): Histogram = new Histogram(layout)

  /** A histogram whose window is preallocated over the layout's ENTIRE
   * regular bin range (dynahist `StaticHistogram.java:26-66`): it is dense
   * from the start and the window never grows, trading memory (8 bytes x
   * regularBinCount up front) for growth-free recording; `addValue` still
   * checks the window bounds. Only sensible for layouts with a bounded
   * regular range. */
  def static(layout: Layout): Histogram = {
    require(
      layout.regularBinCount <= Int.MaxValue / 8,
      s"regular bin range too large to preallocate: ${layout.regularBinCount}")
    val h = new Histogram(layout)
    h.preallocateFullRange()
    h
  }

  /** Alias of [[apply]]: the histogram has one counter store, with no
   * separate bit-packed form. */
  def packed(layout: Layout): Histogram = apply(layout)
}

/** Immutable snapshot of one histogram bin. */
final case class Bin(
    binIndex: Int,
    binCount: Long,
    lessCount: Long,
    greaterCount: Long,
    lowerBound: Double,
    upperBound: Double,
    isUnderflowBin: Boolean,
    isOverflowBin: Boolean) {
  def isFirstNonEmptyBin: Boolean = lessCount == 0L
  def isLastNonEmptyBin: Boolean = greaterCount == 0L
}

/**
 * Prefix-summed immutable view for O(log #non-empty-bins) rank queries
 * (dynahist `PreprocessedHistogram.java:32-112`).
 */
final class PreprocessedHistogram(h: Histogram) extends Serializable {
  val layout: Layout = h.layout
  val totalCount: Long = h.totalCount
  val min: Double = h.min
  val max: Double = h.max

  private val (binIndices: Array[Int], cumulative: Array[Long]) = {
    if (h.isEmpty) (Array.empty[Int], Array.empty[Long])
    else {
      val idxB = Array.newBuilder[Int]
      val cumB = Array.newBuilder[Long]
      val cur = h.firstNonEmptyBin
      var running = 0L
      var done = false
      while (!done) {
        running += cur.binCount
        idxB += cur.binIndex
        cumB += running
        if (cur.hasNext) cur.next() else done = true
      }
      (idxB.result(), cumB.result())
    }
  }

  /** Bin containing the given zero-based rank, via binary search. */
  def binByRank(rank: Long): Bin = {
    require(rank >= 0 && rank < totalCount)
    // first position with cumulative > rank
    var lo = 0
    var hi = cumulative.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cumulative(mid) > rank) hi = mid else lo = mid + 1
    }
    val less = if (lo == 0) 0L else cumulative(lo - 1)
    val count = cumulative(lo) - less
    val idx = binIndices(lo)
    Bin(
      idx,
      count,
      less,
      totalCount - cumulative(lo),
      math.max(min, layout.binLowerBound(idx)),
      math.min(max, layout.binUpperBound(idx)),
      idx == layout.underflowBinIndex,
      idx == layout.overflowBinIndex)
  }

  def valueAt(rank: Long, estimator: ValueEstimator = ValueEstimator.Uniform): Double = {
    require(rank >= 0 && rank < totalCount)
    if (rank <= 0) min
    else if (rank + 1 == totalCount) max
    else estimator.estimateFromBin(binByRank(rank), rank)
  }

  def quantile(
      p: Double,
      quantileEstimator: QuantileEstimator = QuantileEstimator.SciPyDefault,
      valueEstimator: ValueEstimator = ValueEstimator.Uniform): Double =
    quantileEstimator.estimate(p, rank => valueAt(rank, valueEstimator), totalCount)
}
