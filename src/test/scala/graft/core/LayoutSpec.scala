package graft.core

import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {

  private def logLayouts(a: Double, r: Double, lo: Double, hi: Double): Seq[Layout] = Seq(
    LogLinearLayout(a, r, lo, hi),
    LogQuadraticLayout(a, r, lo, hi),
    LogOptimalLayout(a, r, lo, hi))

  private val fixtures = Seq(
    (1e-8, 1e-2, -1e6, 1e6),
    (1e-5, 1e-2, -1e6, 1e6),
    (10.0, 0.01, 0.0, 1e12))

  /** Log-uniform sample over the positive part of the range plus negatives. */
  private def sampleValues(lo: Double, hi: Double, n: Int, seed: Long): Seq[Double] = {
    val rnd = new java.util.SplittableRandom(seed)
    val minPos = math.max(1e-9, math.abs(lo) * 1e-9 + 1e-12)
    (0 until n).map { _ =>
      val mag = math.exp(
        rnd.nextDouble() * (math.log(math.max(hi, 1.0)) - math.log(minPos)) + math.log(minPos))
      val v = if (rnd.nextBoolean()) mag else -mag
      math.max(lo, math.min(hi, v))
    }
  }

  test("error-limiting layouts: every in-range value's bin satisfies abs OR rel width limit") {
    for ((a, r, lo, hi) <- fixtures; layout <- logLayouts(a, r, lo, hi)) {
      for (v <- sampleValues(lo, hi, 2000, seed = 42L)) {
        val idx = layout.mapToBinIndex(v)
        assert(idx > layout.underflowBinIndex && idx < layout.overflowBinIndex, s"$layout $v")
        val lb = layout.binLowerBound(idx)
        val ub = layout.binUpperBound(idx)
        assert(lb <= v && v <= ub, s"$layout: $v not in [$lb,$ub] (bin $idx)")
        val width = ub - lb
        val relWidth = width / math.max(math.abs(lb), math.abs(ub))
        assert(
          width <= a * (1 + 1e-6) || relWidth <= r * (1 + 1e-6),
          s"$layout bin $idx [$lb,$ub]: width=$width rel=$relWidth")
      }
    }
  }

  test("bound inversion is exact: mapToBinIndex(binLowerBound(i)) == i and neighbors differ") {
    for ((a, r, lo, hi) <- fixtures; layout <- logLayouts(a, r, lo, hi)) {
      val rnd = new java.util.SplittableRandom(7L)
      val indices =
        (0 until 200).map(_ =>
          rnd.nextInt(layout.underflowBinIndex + 1, layout.overflowBinIndex)) ++
          Seq(layout.underflowBinIndex + 1, layout.overflowBinIndex - 1)
      for (i <- indices) {
        val lb = layout.binLowerBound(i)
        val ub = layout.binUpperBound(i)
        assert(layout.mapToBinIndex(lb) == i, s"$layout lower($i)=$lb")
        assert(layout.mapToBinIndex(ub) == i, s"$layout upper($i)=$ub")
        assert(layout.mapToBinIndex(math.nextDown(lb)) < i, s"$layout nextDown(lower($i))")
        assert(layout.mapToBinIndex(math.nextUp(ub)) > i, s"$layout nextUp(upper($i))")
      }
    }
  }

  test("mapping is monotone") {
    for ((a, r, lo, hi) <- fixtures; layout <- logLayouts(a, r, lo, hi)) {
      val vs = sampleValues(lo, hi, 500, seed = 11L).sorted
      vs.sliding(2).foreach {
        case Seq(x, y) =>
          assert(layout.mapToBinIndex(x) <= layout.mapToBinIndex(y))
        case _ =>
      }
    }
  }

  test("negative/positive symmetry via index complement") {
    for ((a, r, _, _) <- fixtures.take(2); layout <- logLayouts(a, r, -1e6, 1e6)) {
      for (v <- Seq(0.5, 1.0, 123.456, 1e-9, 99999.0)) {
        assert(layout.mapToBinIndex(-v) == ~layout.mapToBinIndex(v))
      }
    }
  }

  test("infinities land outside the regular range, NaN outside too") {
    for ((a, r, lo, hi) <- fixtures; layout <- logLayouts(a, r, lo, hi)) {
      assert(layout.mapToBinIndex(Double.PositiveInfinity) >= layout.overflowBinIndex)
      assert(layout.mapToBinIndex(Double.NegativeInfinity) <= layout.underflowBinIndex)
      val nanIdx = layout.mapToBinIndex(Double.NaN)
      assert(nanIdx <= layout.underflowBinIndex || nanIdx >= layout.overflowBinIndex)
    }
  }

  test("CustomLayout semantics") {
    val l = CustomLayout(-4.0, -2.0, 0.0, 2.0, 4.0)
    assert(l.underflowBinIndex == 0 && l.overflowBinIndex == 5)
    assert(l.mapToBinIndex(-5.0) == 0)
    assert(l.mapToBinIndex(-4.0) == 1)
    assert(l.mapToBinIndex(-2.0000001) == 1)
    assert(l.mapToBinIndex(-2.0) == 2)
    assert(l.mapToBinIndex(0.0) == 3)
    assert(l.mapToBinIndex(-0.0) == 2) // -0.0 sorts below 0.0
    assert(l.mapToBinIndex(3.9) == 4)
    assert(l.mapToBinIndex(4.0) == 5)
    assert(l.mapToBinIndex(100.0) == 5)
    assert(l.binLowerBound(1) == -4.0)
    assert(l.binUpperBound(0) == math.nextDown(-4.0))
    assert(l.binLowerBound(0).isNegInfinity)
    assert(l.binUpperBound(5).isPosInfinity)
  }

  test("OTel exponential layout scale-0 golden indices (reference test values)") {
    val l = OtelExponentialLayout(0)
    def bits(b: Long): Double = java.lang.Double.longBitsToDouble(b)
    assert(l.mapToBinIndex(bits(0L)) == 0)
    assert(l.mapToBinIndex(bits(1L)) == 1)
    assert(l.mapToBinIndex(bits(2L)) == 2)
    assert(l.mapToBinIndex(bits(3L)) == 2)
    assert(l.mapToBinIndex(bits(4L)) == 3)
    assert(l.mapToBinIndex(bits(7L)) == 3)
    assert(l.mapToBinIndex(bits(8L)) == 4)
    assert(l.mapToBinIndex(bits(13L)) == 4)
    assert(l.mapToBinIndex(java.lang.Double.MIN_NORMAL) == 53)
    assert(l.mapToBinIndex(0.5) == 1074)
    assert(l.mapToBinIndex(1.0) == 1075)
    assert(l.mapToBinIndex(Double.MaxValue / 2.0) == 2097)
    assert(l.mapToBinIndex(Double.MaxValue) == 2098)
    assert(l.mapToBinIndex(Double.PositiveInfinity) == 2099)
    assert(l.mapToBinIndex(bits(0x7ff8000000000000L)) == 2099) // NaN
    assert(l.mapToBinIndex(-bits(1L)) == -1)
    assert(l.mapToBinIndex(-0.5) == -1074)
    assert(l.mapToBinIndex(-Double.MaxValue) == -2098)
    assert(l.mapToBinIndex(Double.NegativeInfinity) == -2099)
    assert(l.overflowBinIndex == 2099 && l.underflowBinIndex == -2099)
  }

  test("OTel exponential layout scale-1 golden indices (reference test values)") {
    val l = OtelExponentialLayout(1)
    def bits(b: Long): Double = java.lang.Double.longBitsToDouble(b)
    assert(l.mapToBinIndex(bits(0L)) == 0)
    assert(l.mapToBinIndex(bits(1L)) == 1)
    assert(l.mapToBinIndex(bits(2L)) == 2)
    assert(l.mapToBinIndex(bits(3L)) == 3)
    assert(l.mapToBinIndex(bits(4L)) == 4)
    assert(l.mapToBinIndex(bits(5L)) == 4)
    assert(l.mapToBinIndex(bits(6L)) == 5)
    assert(l.mapToBinIndex(bits(11L)) == 6)
    assert(l.mapToBinIndex(bits(12L)) == 7)
    assert(l.mapToBinIndex(java.lang.Double.MIN_NORMAL) == 104)
    assert(l.mapToBinIndex(0.5) == 2146)
    assert(l.mapToBinIndex(1.0) == 2148)
    assert(l.mapToBinIndex(Double.MaxValue / 2.0) == 4193)
    assert(l.mapToBinIndex(Double.MaxValue) == 4195)
    assert(l.mapToBinIndex(Double.PositiveInfinity) == 4196)
  }

  test("OTel bucket boundaries are powers of the base 2^(2^-scale)") {
    for (scale <- Seq(0, 2, 4)) {
      val l = OtelExponentialLayout(scale)
      val base = math.pow(2.0, math.pow(2.0, -scale))
      // probe a few normal-range bins: upper/lower ratio ~ base
      for (v <- Seq(1.0, 10.0, 1e6, 1e-3)) {
        val i = l.mapToBinIndex(v)
        val lb = l.binLowerBound(i)
        val ub = l.binUpperBound(i)
        assert(lb <= v && v <= ub)
        val ratio = math.nextUp(ub) / lb
        assert(math.abs(ratio - base) / base < 1e-9, s"scale=$scale v=$v ratio=$ratio")
      }
    }
  }

  test("OTel inversion consistency across scales") {
    for (scale <- 0 to OtelExponentialLayout.MaxScale by 2) {
      val l = OtelExponentialLayout(scale)
      val rnd = new java.util.SplittableRandom(3L)
      for (_ <- 0 until 100) {
        val i = rnd.nextInt(l.underflowBinIndex + 1, l.overflowBinIndex)
        val lb = l.binLowerBound(i)
        val ub = l.binUpperBound(i)
        assert(l.mapToBinIndex(lb) == i, s"scale=$scale i=$i lb=$lb")
        assert(l.mapToBinIndex(ub) == i, s"scale=$scale i=$i ub=$ub")
        assert(l.mapToBinIndex(math.nextDown(lb)) < i)
        assert(l.mapToBinIndex(math.nextUp(ub)) > i)
      }
    }
  }

  test("layout codec round-trips every layout type") {
    val layouts: Seq[Layout] = Seq(
      CustomLayout(-4.0, -2.0, 0.0, 2.0, 4.0),
      LogLinearLayout(1e-5, 1e-2, -1e6, 1e6),
      LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6),
      LogOptimalLayout(10.0, 0.01, 0.0, 1e12),
      OtelExponentialLayout(5),
      IntegerLayout(-100, 100))
    for (l <- layouts) {
      val bos = new Bytes.Writer(64)
      LayoutCodec.write(l, bos)
      val back = LayoutCodec.read(new Bytes.Reader(bos.result, 0, "histogram"))
      assert(back == l, s"codec round-trip failed for $l")
      // behavioral equality too
      for (v <- Seq(-1e5, -1.0, 0.0, 0.5, 123.0, 99999.0)) {
        assert(back.mapToBinIndex(v) == l.mapToBinIndex(v))
      }
    }
  }
}
