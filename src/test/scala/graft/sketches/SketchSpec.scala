package graft.sketches

import graft.core.SparseCells

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

class SketchSpec extends AnyFunSuite {

  test("xxHash64 distributes and is seed-sensitive") {
    val h1 = Hashing.hashString("hello")
    val h2 = Hashing.hashString("hello", seed = 1)
    val h3 = Hashing.hashString("hellp")
    assert(h1 != h2 && h1 != h3)
    assert(Hashing.hashLong(42L) == Hashing.hashLong(42L))
    // bytes vs string agreement
    assert(Hashing.hashBytes("hello".getBytes("UTF-8")) == h1)
    // long inputs exercise the 32-byte block path
    val long = "x" * 1000
    assert(Hashing.hashString(long) != Hashing.hashString(long + "y"))
  }

  test("HLL estimate within 3 standard errors across cardinalities, merge == bulk") {
    val rnd = new java.util.SplittableRandom(1L)
    for (n <- Seq(100, 10000, 200000)) {
      val items = Array.fill(n)(rnd.nextLong())
      val all = Hll()
      items.foreach(all.addLong)
      val err = math.abs(all.estimate - n) / n
      assert(err <= 3 * all.standardError, s"n=$n est=${all.estimate} err=$err")
      // split-merge gives the identical sketch (register max is order-free)
      val (a, b) = items.splitAt(n / 3)
      val ha = Hll()
      a.foreach(ha.addLong)
      val hb = Hll()
      b.foreach(hb.addLong)
      val merged = Hll().merge(hb).merge(ha)
      assert(java.util.Arrays.equals(merged.toBytes, all.toBytes))
    }
  }

  test("HLL duplicate insensitivity and serde round-trip") {
    val h = Hll(12)
    (0 until 1000).foreach(i => h.addString(s"item-${i % 100}"))
    val err = math.abs(h.estimate - 100) / 100.0
    assert(err <= 3 * h.standardError, s"est=${h.estimate}")
    val back = Hll.fromBytes(h.toBytes)
    assert(back.estimate == h.estimate)
  }

  test("count-min never underestimates and respects eps*N bound, merge == bulk") {
    val rnd = new java.util.SplittableRandom(2L)
    // zipf-ish frequencies
    val freqs = (0 until 500).map(i => (s"key$i", 1 + 5000 / (i + 1)))
    val cms = CountMin(depth = 5, width = 1024)
    freqs.foreach { case (k, f) => cms.addString(k, f.toLong) }
    val n = cms.total
    for ((k, f) <- freqs) {
      val est = cms.estimateString(k)
      assert(est >= f, s"$k underestimated: $est < $f")
      assert(est <= f + (cms.epsilon * n).ceil.toLong * 3, s"$k overestimated: $est vs $f")
    }
    // merge equals bulk exactly (counter matrix addition)
    val (a, b) = freqs.splitAt(200)
    val c1 = CountMin(5, 1024)
    a.foreach { case (k, f) => c1.addString(k, f.toLong) }
    val c2 = CountMin(5, 1024)
    b.foreach { case (k, f) => c2.addString(k, f.toLong) }
    val merged = c1.merge(c2)
    assert(java.util.Arrays.equals(merged.toBytes, cms.toBytes))
    val back = CountMin.fromBytes(cms.toBytes)
    assert(back.estimateString("key0") == cms.estimateString("key0"))
  }

  test("bloom filter: no false negatives, bounded false positives, merge == union") {
    val bf = BloomFilter(10000, 0.01)
    val members = (0 until 10000).map(i => s"member-$i")
    members.foreach(bf.addString)
    assert(members.forall(bf.mightContainString), "false negative!")
    val probes = (0 until 20000).map(i => s"nonmember-$i")
    val fp = probes.count(bf.mightContainString)
    val fpr = fp.toDouble / probes.size
    assert(fpr <= 0.03, s"observed FPP $fpr exceeds 3x design 0.01")
    // merge == bulk (bit OR)
    val b1 = BloomFilter(10000, 0.01)
    val b2 = BloomFilter(10000, 0.01)
    members.take(5000).foreach(b1.addString)
    members.drop(5000).foreach(b2.addString)
    assert(java.util.Arrays.equals(b1.merge(b2).toBytes, bf.toBytes))
    val back = BloomFilter.fromBytes(bf.toBytes)
    assert(back.mightContainString("member-17"))
  }

  test("t-digest quantiles: tight rank error, tails exact-ish, merge preserves bounds") {
    val rnd = new java.util.SplittableRandom(3L)
    val n = 100000
    val values = Array.fill(n)(math.exp(rnd.nextGaussian()))
    val sorted = values.sorted
    val td = TDigest(100)
    values.foreach(td.add(_))
    assert(td.totalWeight == n.toDouble)
    for (q <- Seq(0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999)) {
      val est = td.quantile(q)
      // rank error: position of estimate in sorted data vs target rank
      val pos = {
        val idx = java.util.Arrays.binarySearch(sorted, est)
        if (idx >= 0) idx else -idx - 1
      }
      val rankErr = math.abs(pos.toDouble / n - q)
      assert(rankErr <= 0.01, s"q=$q est=$est rankErr=$rankErr")
    }
    assert(td.quantile(0.0) == sorted.head && td.quantile(1.0) == sorted.last)
    // merged digest keeps the bound
    val (a, b) = values.splitAt(n / 2)
    val t1 = TDigest(100)
    a.foreach(t1.add(_))
    val t2 = TDigest(100)
    b.foreach(t2.add(_))
    val m = TDigest(100).merge(t1).merge(t2)
    for (q <- Seq(0.01, 0.5, 0.99)) {
      val est = m.quantile(q)
      val pos = {
        val idx = java.util.Arrays.binarySearch(sorted, est)
        if (idx >= 0) idx else -idx - 1
      }
      assert(math.abs(pos.toDouble / n - q) <= 0.015, s"merged q=$q")
    }
    // centroid count stays bounded by ~2*compression
    assert(m.centroidCount <= 220, s"centroids=${m.centroidCount}")
    val back = TDigest.fromBytes(td.toBytes)
    assert(back.quantile(0.5) == td.quantile(0.5))
  }

  test("t-digest cdf is monotone and consistent with quantile") {
    val rnd = new java.util.SplittableRandom(9L)
    val td = TDigest(100)
    (0 until 50000).foreach(_ => td.add(rnd.nextDouble() * 100))
    var prev = 0.0
    for (x <- 0 to 100 by 5) {
      val c = td.cdf(x.toDouble)
      assert(c >= prev - 1e-12, s"cdf not monotone at $x")
      prev = c
    }
    assert(math.abs(td.cdf(50.0) - 0.5) < 0.01)
  }

  test("KLL rank error within bound, weight conserved, merge keeps bound") {
    val rnd = new java.util.SplittableRandom(4L)
    val n = 200000
    val values = Array.fill(n)(rnd.nextDouble() * 1e6)
    val sorted = values.sorted
    val kll = Kll(200)
    values.foreach(kll.add(_))
    assert(kll.total == n.toLong)
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = kll.quantile(q)
      val pos = {
        val idx = java.util.Arrays.binarySearch(sorted, est)
        if (idx >= 0) idx else -idx - 1
      }
      val rankErr = math.abs(pos.toDouble / n - q)
      assert(rankErr <= 0.02, s"q=$q est=$est rankErr=$rankErr")
    }
    // rank() weight conservation: rank of +inf == total
    assert(kll.rank(Double.MaxValue) == n.toLong)
    // merged sketch keeps the bound
    val (a, b) = values.splitAt(n / 2)
    val k1 = Kll(200)
    a.foreach(k1.add(_))
    val k2 = Kll(200)
    b.foreach(k2.add(_))
    val m = k1.merge(k2)
    assert(m.total == n.toLong)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = m.quantile(q)
      val pos = {
        val idx = java.util.Arrays.binarySearch(sorted, est)
        if (idx >= 0) idx else -idx - 1
      }
      assert(math.abs(pos.toDouble / n - q) <= 0.03, s"merged q=$q")
    }
    val back = Kll.fromBytes(kll.toBytes)
    assert(back.quantile(0.5) == kll.quantile(0.5) && back.total == kll.total)
  }

  test("KLL NaN rejected; empty quantile NaN") {
    val kll = Kll()
    intercept[IllegalArgumentException](kll.add(Double.NaN))
    assert(kll.quantile(0.5).isNaN)
    val td = TDigest()
    intercept[IllegalArgumentException](td.add(Double.NaN))
    assert(td.quantile(0.5).isNaN)
  }

  test("compact aggregation-buffer encodings round-trip to identical state " +
    "and shrink sparse buffers") {
    val rnd = new java.util.SplittableRandom(5L)
    // HLL: empty / few / many / near-full register fills
    for (n <- Seq(0, 1, 7, 500, 200000)) {
      val h = Hll(12)
      (0 until n).foreach(_ => h.addLong(rnd.nextLong()))
      val c = Hll.toCompactBytes(h)
      val back = Hll.fromBytes(c)
      assert(back.precision == h.precision)
      assert(java.util.Arrays.equals(back.registers, h.registers), s"hll n=$n")
      assert(java.util.Arrays.equals(back.toBytes, h.toBytes))
      if (n <= 7) assert(c.length <= 8 + 3 * n, s"hll n=$n not sparse: ${c.length}")
      if (n >= 200000) assert(c.length == h.toBytes.length) // dense fallback
    }
    // CMS: varint counters incl. multi-byte counts
    for (n <- Seq(0, 3, 1000)) {
      val cm = CountMin(5, 2048)
      (0 until n).foreach(i => cm.addLong(rnd.nextLong(), 1L + (i % 5) * 100000L))
      val c = CountMin.toCompactBytes(cm)
      val back = CountMin.fromBytes(c)
      assert(back.depth == cm.depth && back.width == cm.width && back.total == cm.total)
      assert(back.counters.toSeq == cm.counters.toSeq, s"cms n=$n")
      assert(java.util.Arrays.equals(back.toBytes, cm.toBytes))
      assert(c.length < cm.toBytes.length, s"cms n=$n not smaller: ${c.length}")
    }
    // Bloom: sparse word list vs dense fallback
    for (n <- Seq(0, 1, 10, 90000)) {
      val bf = BloomFilter(100000, 0.01)
      (0 until n).foreach(_ => bf.addLong(rnd.nextLong()))
      val c = BloomFilter.toCompactBytes(bf)
      val back = BloomFilter.fromBytes(c)
      assert(back.numBits == bf.numBits && back.numHashes == bf.numHashes)
      assert(back.bits.toSeq == bf.bits.toSeq, s"bloom n=$n")
      assert(java.util.Arrays.equals(back.toBytes, bf.toBytes))
      if (n <= 10) assert(c.length <= 16 + 13 * 7 * n, s"bloom n=$n not sparse")
      if (n >= 90000) assert(c.length == bf.toBytes.length) // dense fallback
    }
  }

  test("count-min and bloom sizes are Long: oversized sketches fail at construction") {
    // 2^16 x 2^16 = 2^32 counters is 0 in Int arithmetic: the product must
    // be checked as a Long against the largest matrix whose encoding fits
    // in one array
    for ((d, w) <- Seq((1 << 16, 1 << 16), (3, 715827883), (2, Int.MaxValue))) {
      val e = intercept[IllegalArgumentException](CountMin(d, w))
      assert(e.getMessage.contains("exceeds"), e.getMessage)
    }
    val over = CountMin.MaxCells + 1
    intercept[IllegalArgumentException](CountMin(1, over.toInt))
    assert(16L + CountMin.MaxCells * 8L <= Int.MaxValue - 8)
    // a bitset past the array limit (including sizes whose word count
    // wrapped as an Int) is rejected instead of allocated short
    for ((n, fpp) <- Seq((1L << 40, 0.01), (1L << 34, 1e-9), (Long.MaxValue / 4, 0.5))) {
      val e = intercept[IllegalArgumentException](BloomFilter(n, fpp))
      assert(e.getMessage.contains("words"), e.getMessage)
    }
    assert(12L + BloomFilter.MaxWords * 8L <= Int.MaxValue - 8)
    // dense headers that claim such sizes are rejected before allocation
    val cmsHeader = java.nio.ByteBuffer.allocate(16).putInt(1 << 16).putInt(1 << 16).array()
    intercept[IllegalArgumentException](CountMin.fromBytes(cmsHeader))
    val bloomHeader = java.nio.ByteBuffer.allocate(12).putLong(1L << 40).putInt(3).array()
    intercept[IllegalArgumentException](BloomFilter.fromBytes(bloomHeader))
  }

  test("t-digest's unboxed order equals a stable sortBy on duplicates and signed zeros") {
    val rnd = new java.util.SplittableRandom(17L)
    val pools = Seq(
      Array(0.0, -0.0, 1.0, -1.0, 0.0, -0.0),
      Array(2.5, 2.5, 2.5, 1.0, 2.5),
      Array(Double.NegativeInfinity, -0.0, Double.MinPositiveValue, 0.0, 3.0, 3.0))
    for (pool <- pools; n <- Seq(0, 1, 2, 3, 7, 64, 65, 500, 1003)) {
      val keys = Array.fill(n)(pool(rnd.nextInt(pool.length)))
      val expected = (0 until n).sortBy(keys(_))
      assert(TDigest.stableOrder(keys, n).toSeq == expected, s"n=$n pool=${pool.toSeq}")
    }
    // only the first n keys take part
    val keys = Array(3.0, 1.0, 2.0, -5.0)
    assert(TDigest.stableOrder(keys, 3).toSeq == Seq(1, 2, 0))
  }

  test("truncated t-digest, KLL and dense count-min/bloom blobs fail as corrupt") {
    val td = TDigest(50.0)
    val kll = Kll(16)
    val cm = CountMin(2, 8)
    val bf = BloomFilter(100L, 0.01)
    (0 until 300).foreach { i =>
      td.add(i * 1.5); kll.add(i.toDouble); cm.addLong(i); bf.addLong(i)
    }
    val blobs = Seq[(String, Array[Byte], Array[Byte] => Any)](
      ("t-digest", td.toBytes, TDigest.fromBytes),
      ("KLL", kll.toBytes, Kll.fromBytes),
      ("count-min", cm.toBytes, CountMin.fromBytes),
      ("bloom", bf.toBytes, BloomFilter.fromBytes))
    for ((name, full, decode) <- blobs) {
      decode(full)
      for (len <- 0 until full.length) {
        val e = intercept[IllegalArgumentException](decode(java.util.Arrays.copyOf(full, len)))
        assert(e.getMessage.contains("corrupt"), s"$name at $len bytes: ${e.getMessage}")
      }
    }
    // a count far beyond the bytes present is rejected before allocating
    val hugeTd = java.nio.ByteBuffer.allocate(36).putDouble(100.0).putInt(Int.MaxValue).array()
    intercept[IllegalArgumentException](TDigest.fromBytes(hugeTd))
    val negTd = java.nio.ByteBuffer.allocate(36).putDouble(100.0).putInt(-1).array()
    intercept[IllegalArgumentException](TDigest.fromBytes(negTd))
    val hugeKll = java.nio.ByteBuffer.allocate(28).putInt(16).putLong(1L).putLong(0L)
      .putInt(1).putInt(Int.MaxValue).array()
    intercept[IllegalArgumentException](Kll.fromBytes(hugeKll))
  }

  test("truncated sparse HLL, count-min and bloom blobs fail as corrupt") {
    val hll = Hll(10)
    val cm = CountMin(4, 256)
    val bf = BloomFilter(1000L, 0.01)
    (0 until 5).foreach { i => hll.addLong(i * 977L); cm.addLong(i); bf.addLong(i) }
    val blobs = Seq[(String, Array[Byte], Array[Byte] => Any)](
      ("HLL", Hll.toCompactBytes(hll), Hll.fromBytes),
      ("count-min", CountMin.toCompactBytes(cm), CountMin.fromBytes),
      ("bloom", BloomFilter.toCompactBytes(bf), BloomFilter.fromBytes))
    for ((name, full, decode) <- blobs) {
      assert(full(0) < 0, s"$name blob is not the sparse form")
      decode(full)
      for (len <- 0 until full.length) {
        val e = intercept[IllegalArgumentException](decode(java.util.Arrays.copyOf(full, len)))
        assert(e.getMessage.contains("corrupt"), s"$name at $len bytes: ${e.getMessage}")
      }
    }
    // a varint running past 10 bytes is rejected, not read as a wrapped value
    val long = Array[Byte](-10) ++ Array.fill[Byte](11)(0x81.toByte) ++ Array[Byte](1)
    val e = intercept[IllegalArgumentException](Hll.fromBytes(long))
    assert(e.getMessage.contains("corrupt HLL payload (varint too long)"))
  }

  /** Runs a ScalaCheck property from a fixed seed and fails with its report. */
  private def check(name: String)(prop: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(150)
      .withInitialSeed(org.scalacheck.rng.Seed(31L))
    val res = Test.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def same(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  /** Up to `cap` or up to three times `cap` items: both sides of the cap. */
  private def genSize(cap: Int): Gen[Int] =
    Gen.oneOf(Gen.chooseNum(0, cap), Gen.chooseNum(0, 3 * cap))

  private def genItems(cap: Int): Gen[List[Long]] =
    genSize(cap).flatMap(n => Gen.listOfN(n, Gen.long))

  private def hll(p: Int, items: Seq[Long], dense: Boolean): Hll = {
    val h = Hll(p)
    if (dense) h.densify()
    items.foreach(h.addLong)
    h
  }

  private def sameHll(a: Hll, b: Hll): Boolean =
    same(a.toBytes, b.toBytes) && same(Hll.toCompactBytes(a), Hll.toCompactBytes(b)) &&
      java.lang.Double.compare(a.estimate, b.estimate) == 0 && same(a.registers, b.registers)

  test("sparse-first HLL equals a forced-dense HLL: adds, merges and decodes") {
    for (p <- Seq(4, 10, 14)) {
      val cap = SparseCells.cap(1 << p)
      // the sparse list holds at most `cap` registers, then the sketch is dense
      val seen = scala.collection.mutable.Set.empty[String]
      check(s"hll p$p")(Prop.forAll(genItems(cap), genItems(cap)) { (a, b) =>
        val sa = hll(p, a, dense = false)
        val sb = hll(p, b, dense = false)
        val da = hll(p, a, dense = true)
        val db = hll(p, b, dense = true)
        val setA = sa.registers.count(_ != 0)
        val union = hll(p, a ++ b, dense = true)
        val setUnion = union.registers.count(_ != 0)
        seen += (if (setA <= cap) "sparse" else "dense")
        if (setA <= cap / 2 && sb.registers.count(_ != 0) <= cap / 2) seen += "merge under cap"
        if (setA <= cap && sb.registers.count(_ != 0) <= cap && setUnion > cap)
          seen += "merge crossing cap"
        // the form follows the count of set registers
        sa.isDense == (setA > cap) &&
        sameHll(sa, da) &&
        // sparse+sparse, sparse+dense, dense+sparse, each against dense+dense
        sameHll(hll(p, a, dense = false).merge(sb), union) &&
        (hll(p, a, dense = false).merge(sb).isDense == (setUnion > cap)) &&
        sameHll(hll(p, a, dense = false).merge(db), union) &&
        sameHll(hll(p, a, dense = true).merge(sb), union) &&
        sameHll(hll(p, a, dense = true).merge(db), union) &&
        // compact blobs decode to the form their count of entries calls
        // for; the stored form (also the compact encoder's dense fallback)
        // decodes dense
        {
          val blob = Hll.toCompactBytes(sa)
          val back = Hll.fromBytes(blob)
          val stored = Hll.fromBytes(sa.toBytes)
          sameHll(back, da) && back.isDense == (blob(0) > 0 || setA > cap) &&
            sameHll(stored, da) && stored.isDense
        }
      })
      assert(seen("sparse") && seen("dense") && seen("merge under cap"), s"p$p: $seen")
      if (p > 4) assert(seen("merge crossing cap"), s"p$p: $seen")
    }
    // compact blobs holding more entries than the cap still decode (dense)
    val over = hll(10, (0L until 150L).map(_ * 7919L), dense = false)
    val blob = Hll.toCompactBytes(over)
    assert(blob(0) < 0 && over.isDense)
    val back = Hll.fromBytes(blob)
    assert(back.isDense && sameHll(back, over))
  }

  /** (item, weight) streams; a third of the weights are 0, as
   * `cms_sketch_weighted` may add. */
  private def genWeighted(cap: Int, depth: Int): Gen[List[(Long, Long)]] =
    genSize(cap / depth).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 4L * cap),
      Gen.frequency(1 -> Gen.const(0L), 1 -> Gen.const(1L), 1 -> Gen.chooseNum(2L, 1L << 40)))))

  private def cms(d: Int, w: Int, items: Seq[(Long, Long)], dense: Boolean): CountMin = {
    val c = CountMin(d, w)
    if (dense) c.densify()
    items.foreach { case (v, n) => c.addLong(v, n) }
    c
  }

  private def sameCms(a: CountMin, b: CountMin, probes: Seq[Long]): Boolean =
    same(a.toBytes, b.toBytes) &&
      same(CountMin.toCompactBytes(a), CountMin.toCompactBytes(b)) &&
      a.total == b.total && java.util.Arrays.equals(a.counters, b.counters) &&
      probes.forall(v => a.estimateLong(v) == b.estimateLong(v))

  test("sparse-first count-min equals a forced-dense count-min, weight 0 included") {
    for ((d, w) <- Seq((4, 256), (2, 64), (5, 2048))) {
      val cap = SparseCells.cap(d * w)
      val seen = scala.collection.mutable.Set.empty[String]
      check(s"cms ${d}x$w")(Prop.forAll(genWeighted(cap, d), genWeighted(cap, d)) { (a, b) =>
        val probes = (a ++ b).map(_._1) ++ Seq(-1L, 1L << 50)
        val sa = cms(d, w, a, dense = false)
        val sb = cms(d, w, b, dense = false)
        val da = cms(d, w, a, dense = true)
        val db = cms(d, w, b, dense = true)
        val union = cms(d, w, a ++ b, dense = true)
        val nzA = da.counters.count(_ != 0L)
        val nzB = db.counters.count(_ != 0L)
        val nzUnion = union.counters.count(_ != 0L)
        seen += (if (nzA <= cap) "sparse" else "dense")
        if (nzA <= cap / 2 && nzB <= cap / 2) seen += "merge under cap"
        if (nzA <= cap && nzB <= cap && nzUnion > cap) seen += "merge crossing cap"
        sa.isDense == (nzA > cap) &&
        sameCms(sa, da, probes) &&
        sameCms(cms(d, w, a, dense = false).merge(sb), union, probes) &&
        (cms(d, w, a, dense = false).merge(sb).isDense == (nzUnion > cap)) &&
        sameCms(cms(d, w, a, dense = false).merge(db), union, probes) &&
        sameCms(cms(d, w, a, dense = true).merge(sb), union, probes) &&
        sameCms(cms(d, w, a, dense = true).merge(db), union, probes) &&
        {
          val back = CountMin.fromBytes(CountMin.toCompactBytes(sa))
          val stored = CountMin.fromBytes(sa.toBytes)
          sameCms(back, da, probes) && back.isDense == (nzA > cap) &&
            sameCms(stored, da, probes) && stored.isDense == (nzA > cap)
        }
      })
      assert(seen("sparse") && seen("dense") && seen("merge under cap") &&
        seen("merge crossing cap"), s"${d}x$w: $seen")
    }
    // weight 0 adds nothing, in either form, and leaves a new sketch pristine
    val zero = CountMin(4, 256).addLong(5L, 0L)
    assert(zero.isPristine && zero.estimateLong(5L) == 0L)
    assert(same(zero.toBytes, CountMin(4, 256).densify().addLong(5L, 0L).toBytes))
    // a compact blob holding more entries than the cap still decodes (dense)
    val over = cms(4, 256, (0L until 40L).map(v => (v, 3L)), dense = false)
    val blob = CountMin.toCompactBytes(over)
    assert(blob(0) == -1.toByte && over.isDense)
    val back = CountMin.fromBytes(blob)
    assert(back.isDense && sameCms(back, over, 0L until 40L))
  }

  test("sparse decoders reject unordered indices and out-of-range ranks") {
    // HLL p10, two entries: gap 0 repeats an index
    val dup = Array[Byte](-10, 2, 5, 1, 0, 2)
    assert(intercept[IllegalArgumentException](Hll.fromBytes(dup)).getMessage
      .contains("corrupt HLL payload (sparse index)"))
    for (rank <- Seq(0, 56, -3)) {
      val bad = Array[Byte](-10, 1, 5, rank.toByte)
      assert(intercept[IllegalArgumentException](Hll.fromBytes(bad)).getMessage
        .contains("corrupt HLL payload (sparse rank)"), s"rank $rank")
    }
    // count-min 1 x 16, two entries: gap 0 repeats an index
    val cmsDup = Array[Byte](-1, 1, 16, 2, 2, 3, 1, 0, 1)
    assert(intercept[IllegalArgumentException](CountMin.fromBytes(cmsDup)).getMessage
      .contains("corrupt count-min payload (sparse index)"))
  }
}
