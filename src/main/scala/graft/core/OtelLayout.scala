package graft.core

/**
 * OpenTelemetry exponential-histogram bucket layout with base 2^(2^-scale),
 * scale in [0, 10], compatible with the OTel metrics data-model spec and with
 * the reference implementation
 * (dynahist `layout/OpenTelemetryExponentialBucketsLayout.java:39-226`).
 *
 * Bucket boundaries on the positive axis are 2^(k/2^scale). The mapping works
 * on the raw IEEE-754 bits: the mantissa is located within its octave via a
 * precomputed table of the 1024 sub-octave boundary mantissas (the mantissa
 * bits of 2^(i/1024), rounded up). Unlike the reference, the table is not
 * embedded as literals but derived at class load by exact integer arithmetic:
 * the boundary for i is the smallest double d in [1,2) with d^1024 >= 2^i,
 * decided by comparing BigInt mantissa powers exactly.
 *
 * Negative values map to negated indices (the zero bucket index 0 is shared).
 */
final class OtelExponentialLayout private (val scale: Int) extends Layout {
  import OtelExponentialLayout._

  private val boundaries: Array[Long] = calculateBoundaries(scale)
  private val indices: Array[Int] = calculateIndices(boundaries, scale)

  private val (firstNormalValueBits: Long, indexOffset: Int) = {
    var valueBits = 0
    var index = Int.MinValue
    var done = false
    while (!done) {
      val nextValueBits = valueBits + 1
      val nextIndex = mapHelper(nextValueBits.toLong, indices, boundaries, scale, 0L, 0)
      if (index == nextIndex) done = true
      else {
        valueBits = nextValueBits
        index = nextIndex
      }
    }
    (valueBits.toLong, valueBits - index)
  }

  override val overflowBinIndex: Int = {
    val maxIdx = mapHelper(
      java.lang.Double.doubleToRawLongBits(Double.MaxValue),
      indices,
      boundaries,
      scale,
      firstNormalValueBits,
      indexOffset)
    maxIdx + 1
  }

  override val underflowBinIndex: Int = -overflowBinIndex

  override def mapToBinIndex(value: Double): Int = {
    val valueBits = java.lang.Double.doubleToRawLongBits(value)
    val index = mapHelper(valueBits, indices, boundaries, scale, firstNormalValueBits, indexOffset)
    if (valueBits >= 0) index else -index
  }

  private def positiveBoundApprox(absBinIndex: Int): Double = {
    if (absBinIndex < firstNormalValueBits) {
      java.lang.Double.longBitsToDouble(absBinIndex.toLong)
    } else {
      val k = (absBinIndex - indexOffset) & (~(0xffffffff << scale))
      var exponent = (absBinIndex - indexOffset) >> scale
      var mantissa = if (k > 0) boundaries(k - 1) else 0L
      if (exponent <= 0) {
        val shift = 1 - exponent
        mantissa += ~(0xffffffffffffffffL << shift)
        mantissa |= 0x0010000000000000L
        mantissa >>>= shift
        exponent = 0
      }
      java.lang.Double.longBitsToDouble(mantissa | (exponent.toLong << 52))
    }
  }

  override protected def binLowerBoundApproximation(binIndex: Int): Double = {
    if (binIndex == 0) -0.0
    else if (binIndex > 0) positiveBoundApprox(binIndex)
    else math.nextUp(-positiveBoundApprox(-binIndex + 1))
  }

  override def equals(o: Any): Boolean = o match {
    case l: OtelExponentialLayout => scale == l.scale
    case _                        => false
  }

  override def hashCode(): Int = 31 * scale

  override def toString: String = s"OtelExponentialLayout(scale=$scale)"
}

object OtelExponentialLayout {

  val MaxScale = 10

  private val instances = new java.util.concurrent.atomic.AtomicReferenceArray[
    OtelExponentialLayout](MaxScale + 1)

  def apply(scale: Int): OtelExponentialLayout = {
    require(scale >= 0 && scale <= MaxScale, s"scale must be in [0, $MaxScale]")
    instances.updateAndGet(scale, x => if (x != null) x else new OtelExponentialLayout(scale))
  }

  /**
   * Mantissa bits of the sub-octave boundaries 2^(i/1024) for i = 0..1023,
   * rounded up to the enclosing double: the smallest M in [2^52, 2^53) with
   * (M / 2^52)^1024 >= 2^i, found exactly via BigInt comparison
   * M^1024 >= 2^(i + 52*1024) seeded by floating-point pow.
   */
  private[core] lazy val BoundaryTable: Array[Long] = {
    val out = new Array[Long](1024)
    val bigTwo = BigInt(2)
    var i = 0
    while (i < 1024) {
      if (i == 0) out(0) = 0L
      else {
        val seed = java.lang.Double.doubleToRawLongBits(math.pow(2.0, i / 1024.0))
        var m = (seed & 0x000fffffffffffffL) | 0x0010000000000000L // 53-bit mantissa int
        val target = bigTwo.pow(i + 52 * 1024)
        def reaches(mm: Long): Boolean = BigInt(mm).pow(1024) >= target
        // walk to the smallest mantissa that reaches the target (seed is
        // within 1-2 ulp of the answer, so very few steps)
        if (reaches(m)) { while (reaches(m - 1)) m -= 1 }
        else { while (!reaches(m)) m += 1 }
        out(i) = m & 0x000fffffffffffffL
      }
      i += 1
    }
    out
  }

  private def calculateBoundaries(scale: Int): Array[Long] = {
    val len = 1 << scale
    val boundaries = new Array[Long](len + 1)
    var i = 0
    while (i < len - 1) {
      boundaries(i) = BoundaryTable((i + 1) << (MaxScale - scale))
      i += 1
    }
    boundaries(len - 1) = 0x0010000000000000L
    boundaries(len) = 0x0010000000000000L
    boundaries
  }

  private def calculateIndices(boundaries: Array[Long], scale: Int): Array[Int] = {
    val len = 1 << scale
    val indices = new Array[Int](len)
    var c = 0
    var i = 0
    while (i < len) {
      val mantissaLowerBound = i.toLong << (52 - scale)
      while (boundaries(c) <= mantissaLowerBound) c += 1
      indices(i) = c
      i += 1
    }
    indices
  }

  private def mapHelper(
      valueBits: Long,
      indices: Array[Int],
      boundaries: Array[Long],
      scale: Int,
      firstNormalValueBits: Long,
      indexOffset: Int): Int = {
    var mantissa = 0xfffffffffffffL & valueBits
    var exponent = ((0x7ff0000000000000L & valueBits) >> 52).toInt
    if (exponent == 0) {
      if (mantissa < firstNormalValueBits) return mantissa.toInt
      val nlz = java.lang.Long.numberOfLeadingZeros(mantissa) - 12
      exponent -= nlz
      mantissa <<= (nlz + 1)
      mantissa &= 0x000fffffffffffffL
    }
    val i = indices((mantissa >>> (52 - scale)).toInt)
    val k = i + (if (mantissa >= boundaries(i)) 1 else 0) +
      (if (mantissa >= boundaries(i + 1)) 1 else 0)
    (exponent << scale) + k + indexOffset
  }
}
