package graft.core

import org.scalatest.funsuite.AnyFunSuite

class SerdeSpec extends AnyFunSuite {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02X").mkString

  test("varint/varlong/zigzag round-trips") {
    val longs = Seq(0L, 1L, 127L, 128L, 300L, Long.MaxValue, 0x7fffffffL, 1L << 62)
    val ints = Seq(0, 1, -1, 63, -64, 64, Int.MaxValue, Int.MinValue, 12345, -12345)
    val out = new Bytes.Writer(16)
    longs.foreach(out.putVarLong)
    ints.foreach(out.putZigzag)
    val in = new Bytes.Reader(out.result, 0, "test")
    longs.foreach(l => assert(in.readVarLong() == l))
    ints.foreach(i => assert(in.readZigzag() == i))
  }

  test("bit writer/reader round-trip with odd widths") {
    val rnd = new java.util.SplittableRandom(8L)
    val widths = Array.fill(500)(rnd.nextInt(1, 64))
    val values = widths.map(w => rnd.nextLong() >>> (64 - w))
    val bos = new Bytes.Writer(16)
    val w = new Bytes.BitWriter(bos)
    widths.zip(values).foreach { case (width, v) => w.writeBits(width, v) }
    w.finish()
    val r = new Bytes.BitReader(new Bytes.Reader(bos.result, 0, "test"))
    widths.zip(values).foreach { case (width, v) =>
      assert(r.readBits(width) == v, s"width=$width")
    }
  }

  private def randomHistogram(rnd: java.util.SplittableRandom): Histogram = {
    val layout = rnd.nextInt(4) match {
      case 0 => LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)
      case 1 => LogLinearLayout(1e-5, 1e-2, -1e6, 1e6)
      case 2 => CustomLayout(Array.tabulate(20)(i => i * 10.0 - 100.0))
      case _ => IntegerLayout(-50, 50)
    }
    val h = Histogram(layout)
    val n = rnd.nextInt(0, 2000)
    (0 until n).foreach(_ => h.addValue(rnd.nextDouble(-200.0, 200.0)))
    if (rnd.nextBoolean()) h.addValue(1e7, rnd.nextInt(0, 5).toLong) // overflow
    if (rnd.nextBoolean()) h.addValue(-1e7, rnd.nextInt(0, 5).toLong) // underflow
    h
  }

  test("V1 round-trip equality on random histograms") {
    val rnd = new java.util.SplittableRandom(123L)
    for (_ <- 0 until 300) {
      val h = randomHistogram(rnd)
      val bytes = HistogramSerde.toBytes(h)
      val back = HistogramSerde.fromBytes(h.layout, bytes)
      assert(back == h, s"round trip failed: $h")
      // double round-trip is byte-stable
      assert(hex(HistogramSerde.toBytes(back)) == hex(bytes))
    }
  }

  test("V0 round-trip equality on random histograms") {
    val rnd = new java.util.SplittableRandom(321L)
    for (_ <- 0 until 200) {
      val h = randomHistogram(rnd)
      val back = HistogramSerde.fromBytes(h.layout, HistogramSerde.toBytesV0(h))
      assert(back == h, s"V0 round trip failed: $h")
    }
  }

  test("sketch envelope round-trips layout + payload") {
    val rnd = new java.util.SplittableRandom(55L)
    for (_ <- 0 until 50) {
      val h = randomHistogram(rnd)
      val back = SketchEnvelope.fromBytes(SketchEnvelope.toBytes(h))
      assert(back.layout == h.layout && back == h)
    }
  }

  test("V0 golden vectors match the reference byte-for-byte") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/v0_golden_vectors.txt"))
    val vectors =
      try src.getLines().filter(_.nonEmpty).map { line =>
        val Array(s, h) = line.split(" ", 2)
        (java.lang.Long.parseUnsignedLong(s, 16), h)
      }.toList
      finally src.close()
    assert(vectors.size >= 10)
    for ((seed, expectedHex) <- vectors) {
      // reference generator (HistogramSerializationVersion0Test.java:28-43):
      // static histogram over a small random CustomLayout, up to 10k points
      val random = new java.util.SplittableRandom(seed)
      val numDataPoints = random.nextInt(0, 10001)
      val numBoundaries = random.nextInt(1, 10)
      val boundaries = random.doubles(numBoundaries).sorted().toArray
      val layout = CustomLayout(boundaries)
      val h = Histogram(layout)
      random.doubles(numDataPoints).forEach(v => h.addValue(v))
      assert(hex(HistogramSerde.toBytesV0(h)) == expectedHex, s"seed=${seed.toHexString}")
    }
  }

  /**
   * Byte-exact golden vectors: the reference's V1 serialization test
   * (dynahist `serialization/HistogramSerializationVersion1Test.java:29-102`)
   * generates a random CustomLayout histogram per seed via SplittableRandom
   * and asserts the serialized hex. We replicate the generator and compare
   * against a sample of the committed (seed, hex) pairs.
   */
  test("V1 golden vectors match the reference byte-for-byte") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/v1_golden_vectors.txt"))
    val vectors =
      try src.getLines().filter(_.nonEmpty).map { line =>
        val Array(s, h) = line.split(" ", 2)
        (java.lang.Long.parseUnsignedLong(s, 16), h)
      }.toList
      finally src.close()
    assert(vectors.size >= 10)

    for ((seed, expectedHex) <- vectors) {
      val random = new java.util.SplittableRandom(seed)
      val numDataPoints = random.nextInt(0, 1001)
      val numBoundaries = random.nextInt(1, 1000)
      val boundaries = random.doubles(numBoundaries).sorted().toArray
      val layout = CustomLayout(boundaries)
      val h = Histogram(layout)
      random.doubles(numDataPoints).forEach(v => h.addValue(v))
      val got = hex(HistogramSerde.toBytes(h))
      assert(got == expectedHex, s"seed=${seed.toHexString}")
      // and the bytes deserialize back to an equal histogram
      assert(HistogramSerde.fromBytes(layout, HistogramSerde.toBytes(h)) == h)
    }
  }

  test("layout writeWithTypeInfo matches reference-generated golden vectors") {
    // goldens produced by RUNNING the reference's Layout.writeWithTypeInfo
    // (LayoutSerialization.java registry) — byte-exact wire compatibility
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/layout_typeinfo_golden_vectors.txt"))
    val lines =
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toVector
      finally src.close()
    assert(lines.size == 8)
    def layoutFor(parts: Array[String]): Layout = parts(0) match {
      case "loglinear" =>
        LogLinearLayout(parts(1).toDouble, parts(2).toDouble, parts(3).toDouble, parts(4).toDouble)
      case "logquadratic" =>
        LogQuadraticLayout(
          parts(1).toDouble, parts(2).toDouble, parts(3).toDouble, parts(4).toDouble)
      case "logoptimal" =>
        LogOptimalLayout(
          parts(1).toDouble, parts(2).toDouble, parts(3).toDouble, parts(4).toDouble)
      case "custom" =>
        CustomLayout(Array(0.0, 1000.0, 2000.0, 4000.0, 8000.0, 16000.0, 32000.0, 64000.0))
      case "otel" => OtelExponentialLayout(parts(1).toInt)
    }
    lines.foreach { line =>
      val parts = line.split(" ")
      val expectedHex = parts.last.toUpperCase
      val layout = layoutFor(parts)
      val bos = new Bytes.Writer(64)
      ReferenceLayoutSerde.writeWithTypeInfo(layout, bos)
      assert(hex(bos.result) == expectedHex, s"line: $line")
      // a reference-written blob reads back to an equal layout
      val back = ReferenceLayoutSerde.readWithTypeInfo(new Bytes.Reader(
        expectedHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, 0, "histogram"))
      assert(back == layout, s"read-back mismatch for $line")
    }
  }

  test("histogram blob with reference type info round-trips") {
    val rnd = new java.util.SplittableRandom(91L)
    for (_ <- 0 until 30) {
      val h = randomHistogram(rnd)
      if (!h.layout.isInstanceOf[IntegerLayout]) {
        val bytes = ReferenceLayoutSerde.toBytesWithTypeInfo(h)
        val back = ReferenceLayoutSerde.fromBytesWithTypeInfo(bytes)
        assert(back.layout == h.layout && back == h)
      }
    }
  }

  /** Bytes the current thread allocates while `body` runs. */
  private def allocatedBy(body: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    body
    mx.getCurrentThreadAllocatedBytes - before
  }

  /** A V1 sketch envelope over `IntegerLayout(0, 10^9)` holding min 0 and
   * `max`, then `regular` (header, index bytes and bit fields). */
  private def craftedEnvelope(max: Double, effRegularClass: Int)(
      regular: Bytes.Writer => Unit): Array[Byte] = {
    val out = new Bytes.Writer(64)
    out.putByte(0x47)
    out.putByte(0x48)
    LayoutCodec.write(IntegerLayout(0, 1000000000), out)
    out.putByte(1) // V1
    out.putByte(0x01 | 0x02 | (effRegularClass << 2)) // non-empty, min < max
    out.putDouble(0.0)
    out.putDouble(max)
    regular(out)
    out.result
  }

  /** Dense effective counts over bins [1, last] with `bitsPerCount` bits
   * each, `counts` of them written. */
  private def denseCounts(last: Int, bitsPerCount: Int, counts: Int)(out: Bytes.Writer) = {
    out.putZigzag(1)
    out.putZigzag(last)
    val bits = new Bytes.BitWriter(out)
    bits.writeBits(6, bitsPerCount.toLong)
    (0 until counts).foreach(_ => bits.writeBits(bitsPerCount, 1L))
    bits.finish()
  }

  test("a dense payload with zero bits per count fails as corrupt without allocating its span") {
    // 34 bytes claiming 10^9 - 1 bins; before the check, decoding it threw
    // OutOfMemoryError, and the 10^8-bin one allocated 800 MB
    val huge = craftedEnvelope(1e9, 3)(denseCounts(999999999, 0, 0))
    val large = craftedEnvelope(1e8, 3)(denseCounts(100000000, 0, 0))
    assert(huge.length == 34 && large.length <= 34)
    for (blob <- Seq(huge, large)) {
      var e: IllegalArgumentException = null
      val bytes = allocatedBy {
        e = intercept[IllegalArgumentException](SketchEnvelope.fromBytes(blob))
      }
      assert(e.getMessage.contains("corrupt histogram payload (bits per count)"))
      assert(bytes < (1L << 20), s"decoding ${blob.length} bytes allocated $bytes bytes")
    }
    // with counts present, storage follows the counts read, not the span:
    // the payload ends after 40 of its 10^9 - 1 claimed counts
    val truncated = craftedEnvelope(1e9, 3)(denseCounts(999999999, 1, 40))
    var e: IllegalArgumentException = null
    val bytes = allocatedBy {
      e = intercept[IllegalArgumentException](SketchEnvelope.fromBytes(truncated))
    }
    assert(e.getMessage == "corrupt histogram payload (truncated)")
    assert(bytes < (1L << 20), s"truncated payload allocated $bytes bytes")
  }

  test("every prefix of a V0, V1 or envelope blob fails as truncated") {
    val layout = LogQuadraticLayout(1e-5, 1e-2, -1e6, 1e6)
    val rnd = new java.util.SplittableRandom(17L)
    val histograms = Seq(
      Histogram(layout),
      Histogram(layout).addValue(42.0),
      Histogram(layout).addValue(-3.0, 5L).addValue(7.5).addValue(1e9),
      { val h = Histogram(layout); (0 until 2000).foreach(_ => h.addValue(rnd.nextDouble() * 1e4)); h })
    for (h <- histograms) {
      val decoders = Seq[(String, Array[Byte], Array[Byte] => Histogram)](
        ("V0", HistogramSerde.toBytesV0(h), HistogramSerde.fromBytes(layout, _)),
        ("V1", HistogramSerde.toBytes(h), HistogramSerde.fromBytes(layout, _)),
        ("envelope", SketchEnvelope.toBytes(h), SketchEnvelope.fromBytes(_)),
        ("reference", ReferenceLayoutSerde.toBytesWithTypeInfo(h),
          ReferenceLayoutSerde.fromBytesWithTypeInfo(_)))
      for ((name, blob, decode) <- decoders) {
        assert(decode(blob) == h, name)
        for (n <- 0 until blob.length) {
          val e = intercept[IllegalArgumentException](decode(java.util.Arrays.copyOf(blob, n)))
          assert(e.getMessage == "corrupt histogram payload (truncated)", s"$name prefix $n/${blob.length}")
        }
      }
    }
  }

  test("effective bins outside the regular range or past min and max fail as corrupt") {
    val blobs = Seq(
      // first bin below the regular range
      craftedEnvelope(100.0, 1)(out => out.putZigzag(-5)),
      // a bin above the stored max
      craftedEnvelope(100.0, 2) { out =>
        out.putZigzag(1)
        out.putZigzag(200)
      },
      // a sparse index gap that runs past the last bin
      craftedEnvelope(100.0, 3) { out =>
        out.putZigzag(50) // swapped: the sparse variant
        out.putZigzag(1)
        val bits = new Bytes.BitWriter(out)
        bits.writeBits(6, 1L) // bits per count
        bits.writeBits(5, 8L) // bits per index gap
        bits.writeBits(1, 1L)
        bits.writeBits(8, 200L)
        bits.writeBits(1, 1L)
        bits.finish()
      })
    for (blob <- blobs) {
      val e = intercept[IllegalArgumentException](SketchEnvelope.fromBytes(blob))
      assert(e.getMessage.contains("corrupt histogram payload (bin range)"), e.getMessage)
    }
    // the same envelope with an in-range bin decodes
    val ok = SketchEnvelope.fromBytes(
      craftedEnvelope(100.0, 1)(out => out.putZigzag(5)))
    assert(ok.totalCount == 3 && ok.countAt(5) == 1 && ok.countAt(100) == 1)
  }

  private def unhex(s: String): Array[Byte] =
    s.replace(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("a custom layout claiming more boundaries than bytes fails as truncated before allocating") {
    val blobs = Seq[(Array[Byte], Array[Byte] => Histogram)](
      // envelope, custom layout, Int.MaxValue boundaries
      (unhex("47 48 01 ff ff ff ff 07"), SketchEnvelope.fromBytes(_)),
      // envelope, custom layout, 2^26 boundaries
      (unhex("47 48 01 80 80 80 20"), SketchEnvelope.fromBytes(_)),
      // reference type info, custom layout V0, Int.MaxValue boundaries
      (unhex("7f 86 2c 38 08 df 6f cd 00 ff ff ff ff 07"),
        ReferenceLayoutSerde.fromBytesWithTypeInfo(_)))
    for ((blob, decode) <- blobs) {
      var e: IllegalArgumentException = null
      val bytes = allocatedBy {
        e = intercept[IllegalArgumentException](decode(blob))
      }
      assert(e.getMessage == "corrupt histogram payload (truncated)", hex(blob))
      assert(bytes < (1L << 20), s"decoding ${hex(blob)} allocated $bytes bytes")
    }
  }

  test("every histogram decode failure is a typed corrupt-payload error") {
    val layout = LogQuadraticLayout(1e-5, 1e-2, -1e6, 1e6)
    val cases = Seq[(String, () => Histogram, String, Int)](
      // V1, non-empty, effective underflow class 3, min 0.0, then an
      // 11-byte varint
      ("over-long varint", () => HistogramSerde.fromBytes(layout,
        unhex("01 31 0000000000000000") ++ Array.fill[Byte](11)(0x80.toByte)),
        "varint too long", 20),
      // integer layout whose min index is a zero-padded 6-byte zigzag varint
      ("over-long zigzag varint", () => SketchEnvelope.fromBytes(
        unhex("47 48 06 80 80 80 80 80 00 00")),
        "varint too long", 9),
      ("serial version", () => HistogramSerde.fromBytes(layout, Array[Byte](9)),
        "unsupported serial version 9", 1),
      ("layout tag", () => SketchEnvelope.fromBytes(unhex("47 48 2a 01 00")),
        "unknown layout tag 42", 3),
      ("reference serial", () => ReferenceLayoutSerde.fromBytesWithTypeInfo(
        unhex("01 02 03 04 05 06 07 08 00 01")),
        "unknown layout serial 0x0102030405060708", 8),
      ("reference layout version", () => ReferenceLayoutSerde.fromBytesWithTypeInfo(
        unhex("7f 86 2c 38 08 df 6f cd 01 01") ++ new Array[Byte](8)),
        "unsupported layout serial version 1", 9))
    for ((name, decode, reason, offset) <- cases) {
      val e = intercept[SketchFormatException](decode())
      assert(e.isInstanceOf[IllegalArgumentException], name)
      assert(e.getMessage == s"corrupt histogram payload ($reason)", name)
      assert(e.what == "histogram" && e.reason == reason && e.offset == offset,
        s"$name: offset ${e.offset}")
    }
  }

  test("decoded layout parameters pass the factory's checks or fail as corrupt") {
    def envelope(layout: Layout): Array[Byte] = {
      val h = Histogram(layout)
      h.addValue(3.0)
      SketchEnvelope.toBytes(h)
    }
    // magic (2 bytes) and tag (1 byte) come before the parameters
    def patched(layout: Layout, at: Int, bytes: Array[Byte]): Array[Byte] = {
      val b = envelope(layout)
      System.arraycopy(bytes, 0, b, at, bytes.length)
      b
    }
    def double(v: Double): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putDouble(v).array()
    val log = LogLinearLayout(1e-2, 1e-2, 0, 1e9)
    val limits = s"[${java.lang.Double.MIN_NORMAL}, ${Double.MaxValue}]"
    val cases = Seq[(String, Array[Byte], String)](
      ("absoluteLimit NaN", patched(log, 3, double(Double.NaN)),
        s"absoluteLimit must be in $limits, got NaN"),
      ("absoluteLimit 0", patched(log, 3, double(0.0)),
        s"absoluteLimit must be in $limits, got 0.0"),
      ("relativeLimit NaN", patched(log, 11, double(Double.NaN)),
        s"relativeLimit must be in [0, ${Double.MaxValue}], got NaN"),
      ("relativeLimit -1", patched(log, 11, double(-1.0)),
        s"relativeLimit must be in [0, ${Double.MaxValue}], got -1.0"),
      // under/overflow zigzag varints 0 and 0 (LogLinear over [0, 1e9] has
      // underflow index -1, one byte)
      ("underflow not below overflow",
        patched(LogLinearLayout(1e-2, 1e-2, 0, 0), 19, Array[Byte](0, 0)),
        "underflowBinIndex 0 must be below overflowBinIndex 0"),
      // boundaries 1.0, 2.0, 3.0 -> 1.0, 2.0, 2.0
      ("custom boundaries not increasing",
        patched(CustomLayout(1.0, 2.0, 3.0), 20, double(2.0)),
        "boundaries must be strictly ascending"),
      ("OTel scale 11", patched(OtelExponentialLayout(3), 3, Array[Byte](11)),
        "scale must be in [0, 10]"),
      // zigzag -5 is 9 and 5 is 10: min and max swapped
      ("integer min > max", patched(IntegerLayout(-5, 5), 3, Array[Byte](10, 9)), ""))
    for ((name, blob, message) <- cases) {
      val e = intercept[SketchFormatException](SketchEnvelope.fromBytes(blob))
      assert(e.what == "histogram", name)
      assert(e.reason == s"requirement failed${if (message.isEmpty) "" else ": " + message}",
        s"$name: ${e.reason}")
    }
    // the reference type-info form decodes its parameters through the same checks
    val ref = ReferenceLayoutSerde.toBytesWithTypeInfo(Histogram(log))
    System.arraycopy(double(0.0), 0, ref, 9, 8)
    val e = intercept[SketchFormatException](ReferenceLayoutSerde.fromBytesWithTypeInfo(ref))
    assert(e.reason == s"requirement failed: absoluteLimit must be in $limits, got 0.0")
    // unpatched envelopes of each kind still decode
    for (l <- Seq[Layout](log, CustomLayout(1.0, 2.0, 3.0), OtelExponentialLayout(3),
        IntegerLayout(-5, 5)))
      assert(SketchEnvelope.fromBytes(envelope(l)).layout == l)
  }
}
