package graft.core

/**
 * Numeric utility kernel shared by layouts, estimators and serialization.
 *
 * Semantics follow the reference sketch library (dynahist
 * `util/Algorithms.java:44-244`): a strictly symmetric, monotone, range-bounded
 * interpolation; an order-preserving double<->long bijection; and a
 * predicate search `findFirst` that gallops from an initial guess.
 */
object Algorithms {

  /**
   * Interpolates y at x from points (x1,y1), (x2,y2).
   * Symmetric in the two points, monotone in x, and always within
   * [min(y1,y2), max(y1,y2)].
   */
  def interpolate(x: Double, x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    if (java.lang.Double.doubleToLongBits(y1) == java.lang.Double.doubleToLongBits(y2)) return y1
    if ((x <= x1 && x1 < x2) || (x >= x1 && x1 > x2)) return y1
    if ((x <= x2 && x2 < x1) || (x >= x2 && x2 > x1)) return y2
    val r =
      if (x1 != x2 && java.lang.Double.isFinite(y1) && java.lang.Double.isFinite(y2)) {
        val dx = x2 - x1
        val dy = y2 - y1
        val r1 = y1 + dy * ((x - x1) / dx)
        val r2 = y2 + dy * ((x - x2) / dx)
        r1 * 0.5 + r2 * 0.5
      } else {
        y1 * 0.5 + y2 * 0.5
      }
    if (r >= y1 && r >= y2) math.max(y1, y2)
    else if (r <= y1 && r <= y2) math.min(y1, y2)
    else r
  }

  /** Overflow-safe midpoint of two longs, rounded toward negative infinity. */
  def midpoint(a: Long, b: Long): Long = {
    val a2 = (a ^ 0x8000000000000000L) >>> 1
    val b2 = (b ^ 0x8000000000000000L) >>> 1
    ((a2 + b2) + (a & b & 1L)) ^ 0x8000000000000000L
  }

  /**
   * Order-preserving bijection double -> long (w.r.t. Double.compare order,
   * NaN excluded). Inverse is [[longToDouble]].
   */
  def doubleToLong(x: Double): Long = {
    val l = java.lang.Double.doubleToRawLongBits(x)
    ((l >> 62) >>> 1) ^ l
  }

  /** Inverse of [[doubleToLong]]. */
  def longToDouble(l: Long): Double =
    java.lang.Double.longBitsToDouble(((l >> 62) >>> 1) ^ l)

  val NegInfAsLong: Long = doubleToLong(Double.NegativeInfinity)
  val PosInfAsLong: Long = doubleToLong(Double.PositiveInfinity)

  /**
   * Smallest l in [min,max] with pred(l) == true, assuming pred is monotone
   * (false below some threshold X, true at and above X) and true at max. A
   * doubling (galloping) search from `initialGuess` brackets the answer,
   * then bisection finds it: O(log |X - initialGuess|).
   */
  def findFirst(pred: Long => Boolean, min: Long, max: Long, initialGuess: Long): Long = {
    require(min <= initialGuess && initialGuess <= max)
    var low = 0L
    var high = 0L
    var increment = 1L
    if (pred(initialGuess)) {
      low = initialGuess
      var done = false
      while (!done) {
        high = low
        if (high == min) return min
        low = high - increment
        if (low >= high || low < min) low = min
        increment <<= 1
        done = !pred(low)
      }
    } else {
      high = initialGuess
      var done = false
      while (!done) {
        low = high
        require(low != max, s"predicate must hold at max=$max")
        high = low + increment
        if (high <= low || high > max) high = max
        increment <<= 1
        done = pred(high)
      }
    }
    while (low + 1 < high) {
      val mid = midpoint(low, high)
      if (pred(mid)) high = mid else low = mid
    }
    high
  }
}
