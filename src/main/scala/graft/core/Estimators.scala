package graft.core

/**
 * Reconstruction policies for the value at a given rank inside a bin
 * (dynahist `value/ValueEstimatorImpls.java:28-134`). Ranks 0 and n-1 are
 * handled by the histogram itself (exact min/max) and never reach these.
 *
 * Error bounds for error-limiting layouts: Uniform/LowerBound/UpperBound are
 * within the layout's absolute OR relative bin-width limit; MidPoint halves
 * both bounds.
 */
sealed trait ValueEstimator extends Serializable {
  def estimateFromBin(bin: Bin, rank: Long): Double
}

object ValueEstimator {

  /** Values spread uniformly across the bin, half-step inset at the edges
   * unless the edge is the recorded min/max. */
  case object Uniform extends ValueEstimator {
    override def estimateFromBin(bin: Bin, rank: Long): Double = {
      val relativeRank = rank - bin.lessCount
      Algorithms.interpolate(
        (relativeRank - (bin.binCount - relativeRank - 1L)).toDouble,
        (-bin.binCount + (if (bin.isFirstNonEmptyBin) 1L else 0L)).toDouble,
        bin.lowerBound,
        (bin.binCount - (if (bin.isLastNonEmptyBin) 1L else 0L)).toDouble,
        bin.upperBound)
    }
  }

  /** Everything at the bin lower bound: estimate <= true value. */
  case object LowerBound extends ValueEstimator {
    override def estimateFromBin(bin: Bin, rank: Long): Double = bin.lowerBound
  }

  /** Everything at the bin upper bound: estimate >= true value. */
  case object UpperBound extends ValueEstimator {
    override def estimateFromBin(bin: Bin, rank: Long): Double = bin.upperBound
  }

  /** Everything at the bin midpoint: halved error bounds. */
  case object MidPoint extends ValueEstimator {
    override def estimateFromBin(bin: Bin, rank: Long): Double = {
      val lo = bin.lowerBound
      val hi = bin.upperBound
      math.max(lo, math.min(hi, (lo + hi) * 0.5))
    }
  }
}

/**
 * Quantile definition over a rank->value function
 * (dynahist `quantile/SciPyQuantileEstimator.java:33-99`): SciPy
 * `mstats.mquantiles` plotting-position interpolation, default
 * alphap = betap = 0.4.
 */
final case class QuantileEstimator(alphap: Double, betap: Double) {
  require(alphap >= 0 && alphap <= 1 && betap >= 0 && betap <= 1)

  def estimate(p: Double, sortedValueAt: Long => Double, numValues: Long): Double = {
    if (numValues == 0) return Double.NaN
    if (numValues == 1) return sortedValueAt(0)
    val z = Algorithms.interpolate(p, 0, alphap - 1, 1, numValues - betap)
    if (z <= 0) return sortedValueAt(0)
    if (z >= numValues - 1) return sortedValueAt(numValues - 1)
    val zInt = z.toLong
    val zFrac = z - zInt
    if (zFrac == 0) return sortedValueAt(zInt)
    val y1 = sortedValueAt(zInt)
    val y2 = sortedValueAt(zInt + 1)
    Algorithms.interpolate(zFrac, 0, y1, 1, y2)
  }
}

object QuantileEstimator {

  /** SciPy 1.5.2 default plotting positions. */
  val SciPyDefault: QuantileEstimator = apply(0.4, 0.4)
}
