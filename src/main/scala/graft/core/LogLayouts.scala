package graft.core

import Algorithms._

/**
 * Error-limiting log layouts: every bin covering the configured value range is
 * either narrower than `absoluteLimit` or narrower than `relativeLimit`
 * relative to its magnitude. Values map to indices in O(1) via bit twiddling;
 * negative values are folded by index complement (perfect sign symmetry).
 *
 * The three shapes trade mapping cost against bin-count overhead versus the
 * information-theoretic optimum (reference README.md:108-140):
 *  - [[LogLinearLayout]]    — piecewise linear per octave, ~44% overhead, fastest;
 *  - [[LogQuadraticLayout]] — piecewise quadratic per octave, ~8% overhead;
 *  - [[LogOptimalLayout]]   — exact logarithm, 0% overhead, slowest mapping.
 *
 * A shape is its monotone `indexHelper`, the `scale` that makes one
 * `log1p(relativeLimit)` step of it one bin, and its approximate inverse
 * `normalBound`. Everything else is shared here: below the normal limit
 * values map linearly (`value / absoluteLimit`), above it through the
 * shape. Construction calibrates the hand-over exactly by predicate search
 * so the mapping is continuous and index-exact at the boundary (dynahist
 * `layout/LogLinearLayout.java:145-187`, same machinery in the quadratic
 * and optimal variants).
 */
sealed abstract class ErrorLimitingLayout(
    val absoluteLimit: Double,
    val relativeLimit: Double,
    val underflowBinIndex: Int,
    val overflowBinIndex: Int)
    extends Layout {

  /** Monotone per-octave shape function of the unsigned value bits. */
  protected def indexHelper(unsignedValueBits: Long): Double

  /** Bins per shape unit, times `log1p(relativeLimit)`: 1.0, or 0.25 for
   * the quadratic shape. */
  protected def scale: Double

  /** Approximate inverse of the shape: the value whose helper is `s`. */
  protected def normalBound(s: Double): Double

  private def firstNormalIdx: Int = math.ceil(1.0 / relativeLimit).toInt

  private val factorNormal: Double = scale / math.log1p(relativeLimit)
  private val factorSubnormal: Double = 1.0 / absoluteLimit

  /** Exact bit threshold where the linear (subnormal) regime hands over to
   * the shape (normal) regime, so every subnormal index stays below
   * `firstNormalIdx`. */
  protected final val normalLimitBits: Long =
    findFirst(
      l => (factorSubnormal * java.lang.Double.longBitsToDouble(l)).toInt >= firstNormalIdx,
      0L,
      java.lang.Double.doubleToRawLongBits(Double.PositiveInfinity),
      doubleToLong(firstNormalIdx / factorSubnormal))

  /** Smallest offset making the normal mapping start at `firstNormalIdx` at
   * the normal limit. */
  private val offset: Double = {
    val helperAtLimit = indexHelper(normalLimitBits)
    longToDouble(
      findFirst(
        l => (factorNormal * helperAtLimit + longToDouble(l)).toInt >= firstNormalIdx,
        NegInfAsLong,
        PosInfAsLong,
        doubleToLong(firstNormalIdx - factorNormal * helperAtLimit)))
  }

  protected final def normalIdx(unsignedValueBits: Long): Int =
    (factorNormal * indexHelper(unsignedValueBits) + offset).toInt

  protected final def subnormalIdx(unsignedValueBits: Long): Int =
    (factorSubnormal * java.lang.Double.longBitsToDouble(unsignedValueBits)).toInt

  override def mapToBinIndex(value: Double): Int = {
    val valueBits = java.lang.Double.doubleToRawLongBits(value)
    val unsignedBits = valueBits & 0x7fffffffffffffffL
    val idx =
      if (unsignedBits >= normalLimitBits) normalIdx(unsignedBits)
      else subnormalIdx(unsignedBits)
    if (valueBits >= 0) idx else ~idx
  }

  override protected def binLowerBoundApproximation(binIndex: Int): Double =
    if (binIndex >= 0) positiveBoundApprox(binIndex) else -positiveBoundApprox(-binIndex)

  /** Approximate inverse on the positive half-axis. */
  private def positiveBoundApprox(idx: Int): Double = {
    val x = idx * absoluteLimit
    if (x < java.lang.Double.longBitsToDouble(normalLimitBits)) x
    else normalBound((idx - offset) / factorNormal)
  }

  override def equals(o: Any): Boolean = o match {
    case l: ErrorLimitingLayout =>
      l.getClass == getClass &&
        java.lang.Double.doubleToLongBits(absoluteLimit) ==
          java.lang.Double.doubleToLongBits(l.absoluteLimit) &&
        java.lang.Double.doubleToLongBits(relativeLimit) ==
          java.lang.Double.doubleToLongBits(l.relativeLimit) &&
        underflowBinIndex == l.underflowBinIndex && overflowBinIndex == l.overflowBinIndex
    case _ => false
  }

  override def hashCode(): Int =
    (absoluteLimit, relativeLimit, underflowBinIndex, overflowBinIndex).hashCode()

  override def toString: String =
    s"${getClass.getSimpleName}(abs=$absoluteLimit, rel=$relativeLimit, " +
      s"underflow=$underflowBinIndex, overflow=$overflowBinIndex)"
}

object ErrorLimitingLayout {

  /** The layout `make(absoluteLimit, relativeLimit, underflow, overflow)`
   * whose regular bins cover `[lo, hi]`. */
  private[core] def covering[L <: ErrorLimitingLayout](make: (Double, Double, Int, Int) => L)(
      absoluteLimit: Double,
      relativeLimit: Double,
      lo: Double,
      hi: Double): L = {
    require(java.lang.Double.isFinite(lo), s"valueRangeLowerBound must be finite, got $lo")
    require(java.lang.Double.isFinite(hi), s"valueRangeUpperBound must be finite, got $hi")
    require(hi >= lo, s"valueRangeLowerBound $lo exceeds valueRangeUpperBound $hi")
    checkLimits(absoluteLimit, relativeLimit)
    val probe = make(absoluteLimit, relativeLimit, 0, 0)
    val under = probe.mapToBinIndex(lo).toLong - 1
    val over = probe.mapToBinIndex(hi).toLong + 1
    require(
      under >= Int.MinValue && over <= Int.MaxValue && over - under - 1 <= Int.MaxValue,
      s"value range [$lo, $hi] needs more bins than an Int indexes")
    make(absoluteLimit, relativeLimit, under.toInt, over.toInt)
  }

  /** The layout `make(absoluteLimit, relativeLimit, underflow, overflow)`
   * from decoded parameters, which pass the checks [[covering]] makes: the
   * limits' ranges, and an underflow index below the overflow index. */
  private[core] def decoded[L <: ErrorLimitingLayout](make: (Double, Double, Int, Int) => L)(
      absoluteLimit: Double,
      relativeLimit: Double,
      underflow: Int,
      overflow: Int): L = {
    checkLimits(absoluteLimit, relativeLimit)
    require(underflow < overflow,
      s"underflowBinIndex $underflow must be below overflowBinIndex $overflow")
    make(absoluteLimit, relativeLimit, underflow, overflow)
  }

  private def checkLimits(absoluteLimit: Double, relativeLimit: Double): Unit = {
    require(
      absoluteLimit >= java.lang.Double.MIN_NORMAL && absoluteLimit <= Double.MaxValue,
      s"absoluteLimit must be in [${java.lang.Double.MIN_NORMAL}, ${Double.MaxValue}], " +
        s"got $absoluteLimit")
    require(
      relativeLimit >= 0 && relativeLimit <= Double.MaxValue,
      s"relativeLimit must be in [0, ${Double.MaxValue}], got $relativeLimit")
  }
}

/** Piecewise-linear log layout (dynahist `layout/LogLinearLayout.java`). */
final class LogLinearLayout private[core] (abs: Double, rel: Double, under: Int, over: Int)
    extends ErrorLimitingLayout(abs, rel, under, over) {

  /** `(mantissa+1) + exponent`: continuous, monotone, linear per octave. */
  override protected def indexHelper(unsignedValueBits: Long): Double = {
    val exponent = unsignedValueBits >>> 52
    val mantissaPlus1 = java.lang.Double.longBitsToDouble(
      (unsignedValueBits & 0x000fffffffffffffL) | 0x3ff0000000000000L)
    mantissaPlus1 + exponent
  }

  override protected def scale: Double = 1.0

  override protected def normalBound(s: Double): Double = {
    val exponent = math.floor(s).toInt - 1
    val mantissaPlus1 = s - exponent
    math.scalb(mantissaPlus1, exponent - 1023)
  }
}

object LogLinearLayout {
  def apply(absoluteLimit: Double, relativeLimit: Double, valueRangeLowerBound: Double,
      valueRangeUpperBound: Double): LogLinearLayout =
    ErrorLimitingLayout.covering(new LogLinearLayout(_, _, _, _))(
      absoluteLimit, relativeLimit, valueRangeLowerBound, valueRangeUpperBound)
}

/** Piecewise-quadratic log layout (dynahist `layout/LogQuadraticLayout.java`). */
final class LogQuadraticLayout private[core] (abs: Double, rel: Double, under: Int, over: Int)
    extends ErrorLimitingLayout(abs, rel, under, over) {

  /** `(m-1)(5-m) + 3e` with m = mantissa+1: continuous, monotone, quadratic
   * per octave; approximates 4*log2 up to affine transform. */
  override protected def indexHelper(unsignedValueBits: Long): Double = {
    val exponent = unsignedValueBits >>> 52
    val exponentMul3 = (exponent + (exponent << 1)).toDouble
    val mantissaPlus1 = java.lang.Double.longBitsToDouble(
      (unsignedValueBits & 0x000fffffffffffffL) | 0x3ff0000000000000L)
    (mantissaPlus1 - 1d) * (5d - mantissaPlus1) + exponentMul3
  }

  override protected def scale: Double = 0.25

  override protected def normalBound(s: Double): Double = {
    val exponent = math.floor(s).toInt / 3
    val exponentMul3Plus4 = exponent + (exponent << 1) + 4
    val mantissaPlus1 = 3.0 - math.sqrt(exponentMul3Plus4 - s) // in [1, 2)
    math.scalb(mantissaPlus1, exponent - 1023)
  }
}

object LogQuadraticLayout {
  def apply(absoluteLimit: Double, relativeLimit: Double, valueRangeLowerBound: Double,
      valueRangeUpperBound: Double): LogQuadraticLayout =
    ErrorLimitingLayout.covering(new LogQuadraticLayout(_, _, _, _))(
      absoluteLimit, relativeLimit, valueRangeLowerBound, valueRangeUpperBound)
}

/** Exact-log layout with zero bin-count overhead
 * (dynahist `layout/LogOptimalLayout.java`). */
final class LogOptimalLayout private[core] (abs: Double, rel: Double, under: Int, over: Int)
    extends ErrorLimitingLayout(abs, rel, under, over) {
  import LogOptimalLayout.LogMinValue

  /** `log(v) - log(MIN_VALUE)`: always nonnegative for positive v. */
  override protected def indexHelper(unsignedValueBits: Long): Double =
    math.log(java.lang.Double.longBitsToDouble(unsignedValueBits)) - LogMinValue

  override protected def scale: Double = 1.0

  override protected def normalBound(s: Double): Double = math.exp(s + LogMinValue)

  override def mapToBinIndex(value: Double): Int = {
    val valueBits = java.lang.Double.doubleToRawLongBits(value)
    val unsignedBits = valueBits & 0x7fffffffffffffffL
    val idx =
      if (unsignedBits >= 0x7ff0000000000000L) 0x7fffffff // +-inf and NaN
      else if (unsignedBits >= normalLimitBits) normalIdx(unsignedBits)
      else subnormalIdx(unsignedBits)
    if (valueBits >= 0) idx else ~idx
  }
}

object LogOptimalLayout {
  private val LogMinValue: Double = math.log(java.lang.Double.MIN_VALUE)

  def apply(absoluteLimit: Double, relativeLimit: Double, valueRangeLowerBound: Double,
      valueRangeUpperBound: Double): LogOptimalLayout =
    ErrorLimitingLayout.covering(new LogOptimalLayout(_, _, _, _))(
      absoluteLimit, relativeLimit, valueRangeLowerBound, valueRangeUpperBound)
}
