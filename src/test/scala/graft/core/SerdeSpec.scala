package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

class SerdeSpec extends AnyFunSuite {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02X").mkString

  test("varint/varlong/zigzag round-trips") {
    val longs = Seq(0L, 1L, 127L, 128L, 300L, Long.MaxValue, 0x7fffffffL, 1L << 62)
    val ints = Seq(0, 1, -1, 63, -64, 64, Int.MaxValue, Int.MinValue, 12345, -12345)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    longs.foreach(Codecs.writeUnsignedVarLong(_, out))
    ints.foreach(Codecs.writeSignedVarInt(_, out))
    val in = new DataInputStream(new ByteArrayInputStream(bos.toByteArray))
    longs.foreach(l => assert(Codecs.readUnsignedVarLong(in) == l))
    ints.foreach(i => assert(Codecs.readSignedVarInt(in) == i))
  }

  test("bit writer/reader round-trip with odd widths") {
    val rnd = new java.util.SplittableRandom(8L)
    val widths = Array.fill(500)(rnd.nextInt(1, 64))
    val values = widths.map(w => rnd.nextLong() >>> (64 - w))
    val bos = new ByteArrayOutputStream()
    val w = new Codecs.BitWriter(new DataOutputStream(bos))
    widths.zip(values).foreach { case (width, v) => w.writeBits(width, v) }
    w.finish()
    val r = new Codecs.BitReader(new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
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
      val bos = new ByteArrayOutputStream()
      HistogramSerde.writeV0(h, new DataOutputStream(bos))
      val back = HistogramSerde.read(
        h.layout,
        new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
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
      val bos = new ByteArrayOutputStream()
      HistogramSerde.writeV0(h, new DataOutputStream(bos))
      assert(hex(bos.toByteArray) == expectedHex, s"seed=${seed.toHexString}")
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
      val bos = new ByteArrayOutputStream()
      ReferenceLayoutSerde.writeWithTypeInfo(layout, new DataOutputStream(bos))
      assert(hex(bos.toByteArray) == expectedHex, s"line: $line")
      // a reference-written blob reads back to an equal layout
      val back = ReferenceLayoutSerde.readWithTypeInfo(
        new DataInputStream(new ByteArrayInputStream(
          expectedHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)))
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
      regular: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeShort(0x4748)
    LayoutCodec.write(IntegerLayout(0, 1000000000), out)
    out.writeByte(1) // V1
    out.writeByte(0x01 | 0x02 | (effRegularClass << 2)) // non-empty, min < max
    out.writeDouble(0.0)
    out.writeDouble(max)
    regular(out)
    bos.toByteArray
  }

  /** Dense effective counts over bins [1, last] with `bitsPerCount` bits
   * each, `counts` of them written. */
  private def denseCounts(last: Int, bitsPerCount: Int, counts: Int)(out: DataOutputStream) = {
    Codecs.writeSignedVarInt(1, out)
    Codecs.writeSignedVarInt(last, out)
    val bits = new Codecs.BitWriter(out)
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
      val v0 = {
        val bos = new ByteArrayOutputStream()
        HistogramSerde.writeV0(h, new DataOutputStream(bos))
        bos.toByteArray
      }
      val decoders = Seq[(String, Array[Byte], Array[Byte] => Histogram)](
        ("V0", v0, HistogramSerde.fromBytes(layout, _)),
        ("V1", HistogramSerde.toBytes(h), HistogramSerde.fromBytes(layout, _)),
        ("envelope", SketchEnvelope.toBytes(h), SketchEnvelope.fromBytes(_)))
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
      craftedEnvelope(100.0, 1)(out => Codecs.writeSignedVarInt(-5, out)),
      // a bin above the stored max
      craftedEnvelope(100.0, 2) { out =>
        Codecs.writeSignedVarInt(1, out)
        Codecs.writeSignedVarInt(200, out)
      },
      // a sparse index gap that runs past the last bin
      craftedEnvelope(100.0, 3) { out =>
        Codecs.writeSignedVarInt(50, out) // swapped: the sparse variant
        Codecs.writeSignedVarInt(1, out)
        val bits = new Codecs.BitWriter(out)
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
      craftedEnvelope(100.0, 1)(out => Codecs.writeSignedVarInt(5, out)))
    assert(ok.totalCount == 3 && ok.countAt(5) == 1 && ok.countAt(100) == 1)
  }
}
