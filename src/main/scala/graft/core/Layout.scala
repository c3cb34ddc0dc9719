package graft.core

import Algorithms._

/**
 * An immutable histogram bin layout: a monotone mapping from double values to
 * signed bin indices, with designated underflow/overflow index ranges and
 * exact inverse mappings from bin index to bin boundaries.
 *
 * Semantics follow the reference layout contract
 * (dynahist `layout/Layout.java:36-189`):
 *  - `mapToBinIndex` is monotonically increasing (w.r.t. Double.compare order);
 *  - all indices <= `underflowBinIndex` belong to the underflow bin, all
 *    indices >= `overflowBinIndex` to the overflow bin;
 *  - `binLowerBound(i)` is the smallest value mapped to bin i, and
 *    `binUpperBound(i)` the largest, found exactly by one galloping search
 *    over the order-preserving double<->long bijection, started at
 *    [[binLowerBoundApproximation]].
 */
trait Layout extends Serializable {

  def mapToBinIndex(value: Double): Int

  def underflowBinIndex: Int

  def overflowBinIndex: Int

  /** Approximation of the lower bound of bin `binIndex`, where the exact
   * bound search starts; defined for indices in (underflowBinIndex,
   * overflowBinIndex] and never NaN. A layout with a fast approximate
   * inverse overrides it (dynahist `layout/AbstractLayout.java:30-58`). */
  protected def binLowerBoundApproximation(binIndex: Int): Double = 0.0

  /** Smallest value mapped to bin `binIndex` (-inf for underflow bins). */
  def binLowerBound(binIndex: Int): Double = {
    if (binIndex <= underflowBinIndex) return Double.NegativeInfinity
    val effective = math.min(overflowBinIndex, binIndex)
    longToDouble(
      findFirst(
        l => mapToBinIndex(longToDouble(l)) >= effective,
        NegInfAsLong,
        PosInfAsLong,
        doubleToLong(binLowerBoundApproximation(effective))))
  }

  /** Largest value mapped to bin `binIndex` (+inf for overflow bins). */
  def binUpperBound(binIndex: Int): Double = {
    if (binIndex >= overflowBinIndex) return Double.PositiveInfinity
    val effective = math.max(underflowBinIndex, binIndex)
    longToDouble(
      ~findFirst(
        l => mapToBinIndex(longToDouble(~l)) <= effective,
        ~PosInfAsLong,
        ~NegInfAsLong,
        ~doubleToLong(binLowerBoundApproximation(effective + 1))))
  }

  /** Number of regular (non-under/overflow) bins. */
  final def regularBinCount: Long = overflowBinIndex.toLong - underflowBinIndex - 1
}

/**
 * Explicit-boundary layout: `boundaries` (sorted strictly ascending) define
 * bins (-inf, b0), [b0, b1), ..., [b_{n-1}, +inf). Index 0 is the underflow
 * bin, index n the overflow bin (dynahist `layout/CustomLayout.java:32-113`).
 */
final case class CustomLayout(boundaries: Array[Double]) extends Layout {
  require(boundaries.nonEmpty, "at least one boundary required")
  require(boundaries(0) > Double.NegativeInfinity)
  require(
    boundaries.iterator.map(doubleToLong).sliding(2).forall(s => s.size < 2 || s.head < s.last),
    "boundaries must be strictly ascending")

  override def mapToBinIndex(value: Double): Int = {
    val mapped = doubleToLong(value)
    // first index whose boundary exceeds the value
    var lo = 0
    var hi = boundaries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (doubleToLong(boundaries(mid)) > mapped) hi = mid else lo = mid + 1
    }
    lo
  }

  override def underflowBinIndex: Int = 0

  override def overflowBinIndex: Int = boundaries.length

  override def binLowerBound(binIndex: Int): Double =
    if (binIndex > 0) boundaries(math.min(binIndex, boundaries.length) - 1)
    else Double.NegativeInfinity

  override def binUpperBound(binIndex: Int): Double =
    if (binIndex < boundaries.length)
      longToDouble(doubleToLong(boundaries(math.max(0, binIndex))) - 1)
    else Double.PositiveInfinity

  override def equals(o: Any): Boolean = o match {
    case c: CustomLayout => java.util.Arrays.equals(boundaries, c.boundaries)
    case _               => false
  }

  override def hashCode(): Int = java.util.Arrays.hashCode(boundaries)

  override def toString: String = s"CustomLayout(${boundaries.mkString(",")})"
}

object CustomLayout {
  def apply(first: Double, rest: Double*): CustomLayout =
    CustomLayout((first +: rest).toArray)
}

/**
 * Trivial integer layout for tests: bin index = round(value) clipped into
 * [minIndex+1, maxIndex-1]; indices at/past the clip points are under/overflow.
 */
final case class IntegerLayout(minRegular: Int, maxRegular: Int) extends Layout {
  require(minRegular <= maxRegular)
  override def mapToBinIndex(value: Double): Int = {
    val r = math.round(value)
    if (r < minRegular) minRegular - 1
    else if (r > maxRegular) maxRegular + 1
    else r.toInt
  }
  override def underflowBinIndex: Int = minRegular - 1
  override def overflowBinIndex: Int = maxRegular + 1
}
