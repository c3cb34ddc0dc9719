package graft.core

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/**
 * ScalaCheck property suite for the distributed-aggregation invariants the
 * engine depends on: merge associativity/commutativity, serialization
 * round-trips, and layout error bounds — over generated layouts and inputs.
 */
object HistogramProperties extends Properties("Histogram") {

  private val genLayout: Gen[Layout] = Gen.oneOf(
    Gen.const(LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)),
    Gen.const(LogLinearLayout(1e-5, 1e-2, -1e6, 1e6)),
    Gen.const(LogOptimalLayout(1e-5, 1e-2, -1e6, 1e6)),
    Gen.const(CustomLayout(Array(-100.0, -10.0, 0.0, 10.0, 100.0))),
    Gen.const(IntegerLayout(-50, 50)))

  private val genValues: Gen[List[Double]] =
    Gen.listOf(Gen.chooseNum(-1e5, 1e5).suchThat(v => !v.isNaN))

  private def build(layout: Layout, vs: Seq[Double]): Histogram = {
    val h = Histogram(layout)
    vs.foreach(h.addValue(_))
    h
  }

  private val genWeights: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(1L, 1000000L))

  property("static/windowed buffers are observably identical") =
    forAll(genLayout, genValues, genValues, genWeights) { (l, a, b, ws) =>
      def fill(h: Histogram): Histogram = {
        a.foreach(h.addValue(_))
        b.zip(ws).foreach { case (v, w) => h.addValue(v, w) }
        h
      }
      val windowed = fill(Histogram(l))
      val static0 = fill(Histogram.static(l))
      windowed == static0 && static0 == windowed &&
      java.util.Arrays.equals(HistogramSerde.toBytes(windowed), HistogramSerde.toBytes(static0)) &&
      // cross-variant merges stay exact
      Histogram.static(l).add(windowed).add(static0) ==
        Histogram(l).add(static0).add(windowed)
    }

  property("reference type-info layout serde round-trips random layouts") =
    forAll(
      Gen.oneOf(
        for {
          a <- Gen.chooseNum(1e-6, 1.0)
          r <- Gen.chooseNum(1e-3, 0.1)
          hi <- Gen.chooseNum(1e3, 1e9)
        } yield LogQuadraticLayout(a, r, 0, hi): Layout,
        for {
          a <- Gen.chooseNum(1e-6, 1.0)
          r <- Gen.chooseNum(1e-3, 0.1)
          hi <- Gen.chooseNum(1e3, 1e9)
        } yield LogLinearLayout(a, r, 0, hi): Layout,
        for {
          a <- Gen.chooseNum(1e-6, 1.0)
          r <- Gen.chooseNum(1e-3, 0.1)
          hi <- Gen.chooseNum(1e3, 1e9)
        } yield LogOptimalLayout(a, r, 0, hi): Layout,
        Gen.chooseNum(0, 10).map(s => OtelExponentialLayout(s): Layout),
        Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)).map(bs =>
          CustomLayout(bs.distinct.sorted.toArray): Layout))) { l =>
      val bos = new Bytes.Writer(64)
      ReferenceLayoutSerde.writeWithTypeInfo(l, bos)
      val back = ReferenceLayoutSerde.readWithTypeInfo(new Bytes.Reader(bos.result, 0, "histogram"))
      back == l
    }

  property("merge is commutative") = forAll(genLayout, genValues, genValues) { (l, a, b) =>
    val ab = Histogram(l).add(build(l, a)).add(build(l, b))
    val ba = Histogram(l).add(build(l, b)).add(build(l, a))
    ab == ba
  }

  property("merge is associative") = forAll(genLayout, genValues, genValues, genValues) {
    (l, a, b, c) =>
      val left = Histogram(l).add(Histogram(l).add(build(l, a)).add(build(l, b))).add(build(l, c))
      val right = Histogram(l).add(build(l, a)).add(Histogram(l).add(build(l, b)).add(build(l, c)))
      left == right
  }

  property("merge equals bulk insert") = forAll(genLayout, genValues, genValues) { (l, a, b) =>
    Histogram(l).add(build(l, a)).add(build(l, b)) == build(l, a ++ b)
  }

  property("V1 serialization round-trips") = forAll(genLayout, genValues) { (l, vs) =>
    val h = build(l, vs)
    HistogramSerde.fromBytes(l, HistogramSerde.toBytes(h)) == h
  }

  property("V1 bytes are canonical (stable under round-trip)") =
    forAll(genLayout, genValues) { (l, vs) =>
      val h = build(l, vs)
      val b1 = HistogramSerde.toBytes(h)
      val b2 = HistogramSerde.toBytes(HistogramSerde.fromBytes(l, b1))
      java.util.Arrays.equals(b1, b2)
    }

  property("total/min/max are exact") = forAll(genLayout, genValues) { (l, vs) =>
    val h = build(l, vs)
    h.totalCount == vs.size &&
    (vs.isEmpty || (h.min == vs.min && h.max == vs.max))
  }

  property("every in-range value maps inside its bin bounds") =
    forAll(Gen.chooseNum(-1e5, 1e5).suchThat(v => !v.isNaN)) { v =>
      val l = LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)
      val i = l.mapToBinIndex(v)
      l.binLowerBound(i) <= v && v <= l.binUpperBound(i)
    }

  property("error-limiting layout bins satisfy the abs-or-rel width bound") =
    forAll(Gen.chooseNum(1e-6, 9e5)) { v =>
      val a = 1e-5
      val r = 1e-2
      val l = LogQuadraticLayout(a, r, -1e6, 1e6)
      val i = l.mapToBinIndex(v)
      val width = l.binUpperBound(i) - l.binLowerBound(i)
      val rel = width / math.max(math.abs(l.binLowerBound(i)), math.abs(l.binUpperBound(i)))
      width <= a * (1 + 1e-6) || rel <= r * (1 + 1e-6)
    }
}

object SketchProperties extends Properties("Sketches") {

  private val genStrings: Gen[List[String]] =
    Gen.listOf(Gen.chooseNum(0, 5000).map(i => s"item-$i"))

  property("HLL merge equals bulk (identical registers)") =
    forAll(genStrings, genStrings) { (a, b) =>
      import graft.sketches.Hll
      val bulk = Hll(10)
      (a ++ b).foreach(bulk.addString)
      val ha = Hll(10)
      a.foreach(ha.addString)
      val hb = Hll(10)
      b.foreach(hb.addString)
      java.util.Arrays.equals(ha.merge(hb).toBytes, bulk.toBytes)
    }

  property("count-min merge equals bulk and never underestimates") =
    forAll(genStrings, genStrings) { (a, b) =>
      import graft.sketches.CountMin
      val bulk = CountMin(3, 256)
      (a ++ b).foreach(bulk.addString(_))
      val ca = CountMin(3, 256)
      a.foreach(ca.addString(_))
      val cb = CountMin(3, 256)
      b.foreach(cb.addString(_))
      val merged = ca.merge(cb)
      val exact = (a ++ b).groupBy(identity).view.mapValues(_.size)
      java.util.Arrays.equals(merged.toBytes, bulk.toBytes) &&
      exact.forall { case (k, n) => merged.estimateString(k) >= n }
    }

  property("bloom merge equals bulk and has no false negatives") =
    forAll(genStrings, genStrings) { (a, b) =>
      import graft.sketches.BloomFilter
      val bulk = BloomFilter(20000, 0.01)
      (a ++ b).foreach(bulk.addString)
      val ba = BloomFilter(20000, 0.01)
      a.foreach(ba.addString)
      val bb = BloomFilter(20000, 0.01)
      b.foreach(bb.addString)
      val merged = ba.merge(bb)
      java.util.Arrays.equals(merged.toBytes, bulk.toBytes) &&
      (a ++ b).forall(merged.mightContainString)
    }

  property("KLL/t-digest merges conserve total weight") =
    forAll(Gen.listOf(Gen.chooseNum(-1e4, 1e4)), Gen.listOf(Gen.chooseNum(-1e4, 1e4))) {
      (a, b) =>
        import graft.sketches.{Kll, TDigest}
        val ka = Kll(64)
        a.foreach(ka.add(_))
        val kb = Kll(64)
        b.foreach(kb.add(_))
        val ta = TDigest(50)
        a.foreach(ta.add(_))
        val tb = TDigest(50)
        b.foreach(tb.add(_))
        ka.merge(kb).total == (a.size + b.size).toLong &&
        (a.isEmpty && b.isEmpty || ta.merge(tb).totalWeight == (a.size + b.size).toDouble)
    }
}
