package graft.core


import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

class HistogramSpec extends AnyFunSuite {

  private val defaultLayout = LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)

  test("empty histogram") {
    val h = Histogram(defaultLayout)
    assert(h.isEmpty && h.totalCount == 0)
    assert(h.min.isPosInfinity && h.max.isNegInfinity)
  }

  test("basic recording tracks exact total/min/max/under/overflow") {
    val h = Histogram(defaultLayout)
    h.addValue(1.0).addValue(2.5).addValue(-3.25, 4).addValue(2e6).addValue(-2e6, 2)
    assert(h.totalCount == 9)
    assert(h.min == -2e6 && h.max == 2e6)
    assert(h.overflowCount == 1 && h.underflowCount == 2)
  }

  test("NaN rejected, infinities land in under/overflow") {
    val h = Histogram(defaultLayout)
    intercept[IllegalArgumentException](h.addValue(Double.NaN))
    assert(h.isEmpty)
    h.addValue(Double.PositiveInfinity).addValue(Double.NegativeInfinity)
    assert(h.overflowCount == 1 && h.underflowCount == 1)
    assert(h.min.isNegInfinity && h.max.isPosInfinity)
  }

  test("signed zero ordering for min/max") {
    val h = Histogram(defaultLayout)
    h.addValue(0.0)
    h.addValue(-0.0)
    assert(java.lang.Double.doubleToRawLongBits(h.min) == 0x8000000000000000L, "min must be -0.0")
    assert(java.lang.Double.doubleToRawLongBits(h.max) == 0L, "max must be 0.0")
  }

  test("count overflow raises ArithmeticException") {
    val h = Histogram(defaultLayout)
    h.addValue(1.0, Long.MaxValue)
    intercept[ArithmeticException](h.addValue(1.0, 1))
    val h2 = Histogram(defaultLayout)
    h2.addValue(2.0, 1)
    intercept[ArithmeticException](h2.add(h))
  }

  test("negative count rejected") {
    val h = Histogram(defaultLayout)
    intercept[IllegalArgumentException](h.addValue(1.0, -3))
  }

  test("merge of equal layouts == bulk insert (random, both orders)") {
    val rnd = new java.util.SplittableRandom(0L)
    for (_ <- 0 until 200) {
      val layout =
        if (rnd.nextBoolean()) defaultLayout else IntegerLayout(-100, 100)
      val n1 = rnd.nextInt(0, 500)
      val n2 = rnd.nextInt(0, 500)
      val vs1 = Array.fill(n1)(rnd.nextDouble(-200.0, 200.0))
      val vs2 = Array.fill(n2)(rnd.nextDouble(-200.0, 200.0))
      val hAll = Histogram(layout)
      (vs1 ++ vs2).foreach(hAll.addValue(_))
      val h1 = Histogram(layout)
      vs1.foreach(h1.addValue(_))
      val h2 = Histogram(layout)
      vs2.foreach(h2.addValue(_))
      val m12 = Histogram(layout).add(h1).add(h2)
      val m21 = Histogram(layout).add(h2).add(h1)
      assert(m12 == hAll, "merge != bulk")
      assert(m21 == hAll, "merge not commutative")
    }
  }

  test("merge associativity over random splits") {
    val rnd = new java.util.SplittableRandom(99L)
    val layout = defaultLayout
    val parts = Array.fill(5) {
      val h = Histogram(layout)
      (0 until rnd.nextInt(1, 300)).foreach(_ => h.addValue(rnd.nextDouble(-1e4, 1e4)))
      h
    }
    val leftFold = parts.foldLeft(Histogram(layout))((acc, p) => acc.add(p))
    val pairwise = {
      val a = Histogram(layout).add(parts(0)).add(parts(1))
      val b = Histogram(layout).add(parts(2)).add(parts(3)).add(parts(4))
      Histogram(layout).add(a).add(b)
    }
    assert(leftFold == pairwise)
  }

  test("bin iteration bookkeeping: counts sum to total, less/greater consistent") {
    val rnd = new java.util.SplittableRandom(5L)
    val h = Histogram(defaultLayout)
    (0 until 1000).foreach(_ => h.addValue(rnd.nextDouble(-2e6, 2e6)))
    val bins = h.nonEmptyBins
    assert(bins.map(_.binCount).sum == h.totalCount)
    var less = 0L
    for (b <- bins) {
      assert(b.lessCount == less)
      assert(b.greaterCount == h.totalCount - less - b.binCount)
      less += b.binCount
    }
    // forward/backward iteration agree
    val fwd = bins.map(b => (b.binIndex, b.binCount))
    val cur = h.lastNonEmptyBin
    val bwd = scala.collection.mutable.ListBuffer((cur.binIndex, cur.binCount))
    while (cur.hasPrevious) {
      cur.previous()
      bwd.prepend((cur.binIndex, cur.binCount))
    }
    assert(fwd == bwd.toVector)
  }

  test("valueAt is exact at rank 0 and n-1, and within bin bounds elsewhere") {
    val rnd = new java.util.SplittableRandom(21L)
    val vs = Array.fill(500)(rnd.nextDouble(0.001, 1e5))
    val h = Histogram(defaultLayout)
    vs.foreach(h.addValue(_))
    val sorted = vs.sorted
    assert(h.valueAt(0) == sorted.head)
    assert(h.valueAt(vs.length - 1) == sorted.last)
    for (rank <- Seq(1, 100, 250, 498)) {
      val est = h.valueAt(rank.toLong)
      val actual = sorted(rank)
      val relErr = math.abs(est - actual) / math.abs(actual)
      assert(relErr <= 1e-2 + 1e-9, s"rank=$rank est=$est actual=$actual")
    }
  }

  test("quantile error bounded by layout limits (UNIFORM estimator)") {
    val rnd = new java.util.SplittableRandom(33L)
    // log-uniform distribution like the reference benchmarks
    val vs = Array.fill(20000)(math.exp(rnd.nextDouble() * math.log(1e9)) * 1e-3)
    val layout = LogQuadraticLayout(1e-5, 1e-2, 0, 1e12)
    val h = Histogram(layout)
    vs.foreach(h.addValue(_))
    val sorted = vs.sorted
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)) {
      val est = h.quantile(p)
      val exact = QuantileEstimator.SciPyDefault.estimate(p, r => sorted(r.toInt), sorted.length)
      val err = math.abs(est - exact)
      val relErr = err / math.abs(exact)
      assert(
        err <= 1e-5 * (1 + 1e-6) || relErr <= 1e-2 * (1 + 1e-6),
        s"p=$p est=$est exact=$exact")
    }
  }

  test("binByRank agrees between scan and preprocessed binary search") {
    val rnd = new java.util.SplittableRandom(17L)
    val h = Histogram(defaultLayout)
    (0 until 2000).foreach(_ => h.addValue(rnd.nextDouble(-5e5, 5e5)))
    val pre = h.preprocessed
    for (_ <- 0 until 200) {
      val rank = rnd.nextLong(0, h.totalCount)
      val a = h.binByRank(rank)
      val b = pre.binByRank(rank)
      assert(a.binIndex == b.binIndex && a.binCount == b.binCount && a.lessCount == b.lessCount)
    }
    for (rank <- 0L until h.totalCount by 97) {
      assert(h.valueAt(rank) == pre.valueAt(rank))
    }
  }

  test("cross-layout merge (re-binning) preserves total count and min/max") {
    val rnd = new java.util.SplittableRandom(70L)
    val src = Histogram(LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6))
    (0 until 5000).foreach(_ => src.addValue(rnd.nextDouble(-1e4, 1e4)))
    val dst = Histogram(CustomLayout(-1e4, -100.0, 0.0, 100.0, 1e4))
    dst.add(src)
    assert(dst.totalCount == src.totalCount)
    assert(dst.min == src.min && dst.max == src.max)
  }

  test("addAscendingSequence == repeated addValue") {
    val rnd = new java.util.SplittableRandom(44L)
    for (_ <- 0 until 50) {
      val n = rnd.nextInt(1, 2000)
      val vs = Array.fill(n)(rnd.nextDouble(-1e3, 1e3)).sorted
      val a = Histogram(defaultLayout)
      vs.foreach(a.addValue(_))
      val b = Histogram(defaultLayout).addAscendingSequence(i => vs(i.toInt), n.toLong)
      assert(a == b)
    }
  }

  test("quantiles of empty and single-value histograms") {
    val h = Histogram(defaultLayout)
    assert(h.quantile(0.5).isNaN)
    h.addValue(42.0)
    assert(h.quantile(0.0) == 42.0 && h.quantile(0.5) == 42.0 && h.quantile(1.0) == 42.0)
  }

  // -------------------------------------------------------------------------
  // sparse-first store vs a forced-dense window
  // -------------------------------------------------------------------------

  /** Runs a ScalaCheck property from a fixed seed and fails with its report. */
  private def check(name: String)(prop: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(150)
      .withInitialSeed(org.scalacheck.rng.Seed(47L))
    val res = Test.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def same(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  private def v0Bytes(h: Histogram): Array[Byte] = HistogramSerde.toBytesV0(h)

  private def regularBins(h: Histogram): Int =
    h.nonEmptyBins.count(b => !b.isUnderflowBin && !b.isOverflowBin)

  private val probes = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)

  /** Every read and every encoding agree. */
  private def sameHist(a: Histogram, b: Histogram): Boolean =
    a == b && b == a && same(HistogramSerde.toBytes(a), HistogramSerde.toBytes(b)) &&
      same(SketchEnvelope.toBytes(a), SketchEnvelope.toBytes(b)) &&
      same(v0Bytes(a), v0Bytes(b)) && a.nonEmptyBins == b.nonEmptyBins &&
      (a.isEmpty || probes.forall(p =>
        java.lang.Double.compare(a.quantile(p), b.quantile(p)) == 0))

  /** (value, weight) adds, weight 1 a plain add: regular values over the
   * layout, plus +-0.0, under/overflow values and infinities; up to `cap`
   * or up to three times `cap` adds, so both sides of the cap. */
  private def genAdds(regular: Gen[Double], cap: Int): Gen[List[(Double, Long)]] = {
    val special = Gen.oneOf(0.0, -0.0, -1.0, -1e12, 1e12, Double.NegativeInfinity,
      Double.PositiveInfinity)
    val weight = Gen.frequency(3 -> Gen.const(1L), 1 -> Gen.chooseNum(2L, 1L << 40))
    Gen.oneOf(Gen.chooseNum(0, cap), Gen.chooseNum(0, 3 * cap)).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.frequency(1 -> special, 6 -> regular), weight)))
  }

  private def hist(l: Layout, adds: Seq[(Double, Long)], dense: Boolean): Histogram = {
    val h = Histogram(l)
    if (dense) h.densify()
    adds.foreach { case (v, w) => if (w == 1L) h.addValue(v) else h.addValue(v, w) }
    h
  }

  test("sparse-first histogram equals a forced-dense one: adds, merges and decodes") {
    val layouts = Seq[(Layout, Gen[Double])](
      LogQuadraticLayout(1e-5, 1e-2, 0, 1e9) -> Gen.chooseNum(-5.0, 20.8).map(math.exp),
      // 101 regular bins: a cap of 12
      IntegerLayout(-50, 50) -> Gen.chooseNum(-60, 60).map(_.toDouble))
    for ((l, regular) <- layouts) {
      val cap = SparseCells.cap(l.regularBinCount.toInt)
      val seen = scala.collection.mutable.Set.empty[String]
      val adds = genAdds(regular, cap)
      // no shrinking: each step re-runs every check, for lists of up to 3 x cap adds
      check(s"$l")(Prop.forAllNoShrink(adds, adds) { (a, b) =>
        val sa = hist(l, a, dense = false)
        val sb = hist(l, b, dense = false)
        val da = hist(l, a, dense = true)
        val db = hist(l, b, dense = true)
        val union = hist(l, a ++ b, dense = true)
        val (binsA, binsB, binsUnion) = (regularBins(da), regularBins(db), regularBins(union))
        seen += (if (binsA <= cap) "sparse" else "dense")
        if (binsA <= cap / 2 && binsB <= cap / 2) seen += "merge under cap"
        if (binsA <= cap && binsB <= cap && binsUnion > cap) seen += "merge crossing cap"
        // the form follows the count of touched bins
        da.isDense && sa.isDense == (binsA > cap) &&
        sameHist(sa, da) &&
        // sparse+sparse, sparse+dense, dense+sparse, each against dense+dense
        sameHist(hist(l, a, dense = false).add(sb), union) &&
        (hist(l, a, dense = false).add(sb).isDense == (binsUnion > cap)) &&
        sameHist(hist(l, a, dense = false).add(db), union) &&
        sameHist(hist(l, a, dense = true).add(sb), union) &&
        sameHist(hist(l, a, dense = true).add(db), union) &&
        // decoded payloads take the form their count of nonzero bins calls for
        {
          val back = HistogramSerde.fromBytes(l, HistogramSerde.toBytes(sa))
          val env = SketchEnvelope.fromBytes(SketchEnvelope.toBytes(da))
          val v0 = HistogramSerde.fromBytes(l, v0Bytes(sa))
          sameHist(back, da) && back.isDense == (binsA > cap) &&
            sameHist(env, da) && env.isDense == (binsA > cap) &&
            sameHist(v0, da) && v0.isDense == (binsA > cap)
        }
      })
      assert(seen("sparse") && seen("dense") && seen("merge under cap") &&
        seen("merge crossing cap"), s"$l: $seen")
    }
  }

  test("a histogram allocates nothing until its first regular value") {
    val h = Histogram(LogQuadraticLayout(1e-5, 1e-2, 0, 1e9))
    val empty = h.estimatedFootprintBytes
    h.addValue(-1.0).addValue(2e9).addValue(Double.PositiveInfinity)
    assert(h.estimatedFootprintBytes == empty && !h.isDense)
    // the object and its fields (60 B) and the empty list's object (32 B)
    assert(empty == 92L)
    h.addValue(5.0)
    // one sparse insert allocates the list's two arrays at 8 entries each
    assert(h.estimatedFootprintBytes - empty == 2 * 16 + 8 * (4 + 8) && !h.isDense)
    assert(Histogram.static(IntegerLayout(0, 9)).isDense)
  }
}

class SciPyQuantileSpec extends AnyFunSuite {

  test("golden values from SciPy mquantiles (reference SciPyQuantileEstimatorTest)") {
    val values = Array(6.0, 47.0, 49.0, 15.0, 42.0, 41.0, 7.0, 39.0, 43.0, 40.0, 36.0).sorted
    val q = QuantileEstimator(0.4, 0.4)
    def est(p: Double) = q.estimate(p, r => values(r.toInt), values.length)
    assert(est(0.25) == 19.200000000000003)
    assert(est(0.5) == 40.0)
    assert(est(0.75) == 42.8)
  }

  test("two values, alphap=betap=0.4") {
    val values = Array(3.0, 5.0)
    val q = QuantileEstimator(0.4, 0.4)
    def est(p: Double) = q.estimate(p, r => values(r.toInt), values.length)
    assert(est(0.0) == 3.0)
    assert(est(0.25) == 3.0)
    assert(est(0.5) == 4.0)
    assert(est(0.75) == 5.0)
    assert(est(1.0) == 5.0)
  }

  test("static (preallocated) histogram behaves identically to the windowed one") {
    val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val st = Histogram.static(layout)
    val dyn = Histogram(layout)
    val rnd = new java.util.SplittableRandom(13L)
    (0 until 3000).foreach { _ =>
      val v = rnd.nextDouble(-10.0, 2e6) // includes under/overflow traffic
      st.addValue(v)
      dyn.addValue(v)
    }
    assert(st == dyn)
    assert(st.nonEmptyBins == dyn.nonEmptyBins)
    assert(HistogramSerde.toBytes(st).sameElements(HistogramSerde.toBytes(dyn)))
    // preallocation trades memory for growth-free recording
    assert(st.estimatedFootprintBytes > dyn.estimatedFootprintBytes)
  }

  test("window growth in both directions preserves counts") {
    val layout = LogQuadraticLayout(1e-6, 1e-2, -1e6, 1e6)
    val h = Histogram(layout)
    val expected = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val rnd = new java.util.SplittableRandom(7L)
    // alternate far-apart values so the window repeatedly grows on both ends
    (0 until 2000).foreach { i =>
      val v = if (i % 2 == 0) rnd.nextDouble(1e-5, 1.0) else -rnd.nextDouble(1e-5, 1.0) * 1e5
      h.addValue(v)
      expected(layout.mapToBinIndex(v)) += 1L
    }
    assert(h.isDense && h.totalCount == 2000L)
    assert(h.nonEmptyBins.map(b => b.binIndex -> b.binCount) == expected.toVector.sorted)
    expected.foreach { case (idx, c) => assert(h.countAt(idx) == c, s"bin $idx") }
  }
}
