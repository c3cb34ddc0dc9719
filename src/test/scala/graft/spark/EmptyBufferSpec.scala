package graft.spark

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sketches._
import graft.spark.expressions._
import graft.spark.functions._

/**
 * Empty aggregation buffers allocate nothing, and the final phase adopts
 * the first partial instead of merging it into a fresh buffer. Both must
 * leave every output byte as it was.
 */
class EmptyBufferSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val layout: Layout = LogQuadraticLayout(1e-5, 1e-2, 0, 1e9)

  /** A partial as the final phase sees it: serialized by the aggregate and
   * deserialized again. */
  private def partial[S <: AnyRef](agg: TypedImperativeAggregate[S], s: S): S =
    agg.deserialize(agg.serialize(s))

  /** Merges `parts` (decoded afresh for each side) into a never-written
   * buffer through the aggregate and into `allocatedEmpty()` through the
   * kernel, and checks both the adoption and the bytes. */
  private def checkAdoption[S <: AnyRef](
      name: String,
      agg: TypedImperativeAggregate[S],
      parts: Seq[S],
      allocatedEmpty: () => S,
      kernelMerge: (S, S) => S): Unit = {
    val first = partial(agg, parts.head)
    val adopted = agg.merge(agg.createAggregationBuffer(), first)
    assert(adopted eq first, s"$name: the first partial was not adopted")
    val viaAgg = parts.tail.foldLeft(adopted)((b, p) => agg.merge(b, partial(agg, p)))
    val viaKernel = parts.foldLeft(allocatedEmpty())((b, p) => kernelMerge(b, partial(agg, p)))
    assert(agg.eval(viaAgg).asInstanceOf[Array[Byte]].sameElements(
      agg.eval(viaKernel).asInstanceOf[Array[Byte]]), s"$name: result bytes differ")
    assert(agg.serialize(viaAgg).sameElements(agg.serialize(viaKernel)),
      s"$name: partial bytes differ")
  }

  private def seededLongs(seed: Long, n: Int): Seq[Long] = {
    val rnd = new java.util.SplittableRandom(seed)
    Seq.fill(n)(rnd.nextLong())
  }

  test("merging into a never-written buffer equals merging into an allocated empty one") {
    val sizes = Seq(Seq(5), Seq(0, 40), Seq(300, 0, 7), Seq(20000))
    for (ns <- sizes) {
      val hllAgg = SketchAgg(SketchAgg.Hll(10), Seq(Literal("x")))
      checkAdoption[Hll](s"hll $ns", hllAgg,
        ns.zipWithIndex.map { case (n, i) =>
          val h = Hll(10); seededLongs(i, n).foreach(h.addLong); h },
        () => Hll(10).densify(), (a, b) => a.merge(b))

      val cmsAgg = SketchAgg(SketchAgg.Cms(4, 256), Seq(Literal("x")))
      val cmsParts = ns.zipWithIndex.map { case (n, i) =>
        val c = CountMin(4, 256); seededLongs(i, n).foreach(v => c.addLong(v)); c }
      checkAdoption[CountMin](s"cms $ns", cmsAgg, cmsParts,
        () => CountMin(4, 256).densify(), (a, b) => a.merge(b))
      val cmsWeighted = SketchAgg(SketchAgg.Cms(4, 256), Seq(Literal("x"), Literal(1L)))
      checkAdoption[CountMin](s"cms_weighted $ns", cmsWeighted, cmsParts,
        () => CountMin(4, 256).densify(), (a, b) => a.merge(b))

      val bloomAgg = SketchAgg(SketchAgg.Bloom(1000L, 0.01), Seq(Literal(1L)))
      checkAdoption[BloomFilter](s"bloom $ns", bloomAgg,
        ns.zipWithIndex.map { case (n, i) =>
          val f = BloomFilter(1000L, 0.01); seededLongs(i, n).foreach(f.addLong); f },
        () => { val f = BloomFilter(1000L, 0.01); f.bits; f }, (a, b) => a.merge(b))

      val hists = ns.zipWithIndex.map { case (n, i) =>
        val h = Histogram(layout)
        seededLongs(i, n).foreach(v => h.addValue((v >>> 40).toDouble, 1L + (v & 3L)))
        h
      }
      for ((agg, fresh) <- Seq[(TypedImperativeAggregate[Histogram], () => Histogram)](
          SketchAgg(SketchAgg.Hist(layout), Seq(Literal(0.0))) -> (() => Histogram(layout)),
          SketchAgg(SketchAgg.Hist(layout), Seq(Literal(0.0), Literal(1L))) ->
            (() => Histogram(layout)))) {
        checkAdoption[Histogram](s"${agg.prettyName} $ns", agg, hists, fresh,
          (a, b) => a.add(b))
      }
    }
  }

  test("t-digest and KLL keep merging into the fresh buffer") {
    val td = SketchAgg(SketchAgg.TDigest(100.0), Seq(Literal(0.0)))
    val t = TDigest(100.0).add(1.0).add(2.0)
    val tPart = partial(td, t)
    assert(!(td.merge(td.createAggregationBuffer(), tPart) eq tPart))
    val kll = SketchAgg(SketchAgg.Kll(100), Seq(Literal(0.0)))
    val k = Kll(100).add(1.0).add(2.0)
    val kPart = partial(kll, k)
    assert(!(kll.merge(kll.createAggregationBuffer(), kPart) eq kPart))
  }

  test("empty buffers allocate storage only on first write") {
    val h = Hll(12)
    val c = CountMin(4, 256)
    val f = BloomFilter(1000L, 0.01)
    assert(h.isPristine && c.isPristine && f.isPristine)
    // reads, encodes and empty merges leave them pristine
    assert(h.toBytes.sameElements(12.toByte +: new Array[Byte](4096)))
    Hll.toCompactBytes(h)
    h.merge(Hll(12))
    assert(c.estimateLong(3L) == 0L && !f.mightContainLong(3L))
    CountMin.toCompactBytes(c); BloomFilter.toCompactBytes(f)
    assert(h.isPristine && c.isPristine && f.isPristine)
    // a decoded empty partial is pristine too
    assert(Hll.fromBytes(Hll.toCompactBytes(h)).isPristine)
    assert(CountMin.fromBytes(CountMin.toCompactBytes(c)).isPristine)
    assert(BloomFilter.fromBytes(BloomFilter.toCompactBytes(f)).isPristine)
    h.addLong(1L); c.addLong(1L); f.addLong(1L)
    assert(!h.isPristine && !c.isPristine && !f.isPristine)
  }

  test("a group whose rows are all null evaluates to the empty-sketch bytes") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      if (i % 2 == 0) (i, "full", Some(s"t$i"), Some(i.toLong), Some(i.toDouble))
      else (i, "nulls", None, None, None)
    }
    // spread over four partials, so the final phase merges several per group
    val df = rows.toDF("i", "g", "s", "l", "d").repartition(4, col("i"))
    val aggs: Seq[(String, Column, Array[Byte])] = Seq(
      ("hll", hll_sketch(col("s"), 10), 10.toByte +: new Array[Byte](1024)),
      ("cms", cms_sketch(col("s"), 4, 256),
        ByteBuffer.allocate(16 + 4 * 256 * 8).putInt(4).putInt(256).array()),
      ("bloom", bloom_sketch(col("l"), 1000L),
        { val f = BloomFilter(1000L, 0.01); f.bits; f.toBytes }),
      ("hist", hist_sketch(col("d"), layout), SketchEnvelope.toBytes(Histogram(layout))),
      ("hist_packed", hist_sketch_packed(col("d"), layout),
        SketchEnvelope.toBytes(Histogram(layout))),
      ("hist_weighted", hist_sketch_weighted(col("d"), col("l"), layout),
        SketchEnvelope.toBytes(Histogram(layout))),
      ("tdigest", tdigest_sketch(col("d")), TDigest(100.0).toBytes),
      ("kll", kll_sketch(col("d")), Kll(200).toBytes))
    val cols = aggs.map { case (n, c, _) => c.as(n) }
    val out = df.groupBy(col("g")).agg(cols.head, cols.tail: _*).collect()
      .map(r => r.getString(0) -> r).toMap
    for (((name, _, empty), i) <- aggs.zipWithIndex) {
      assert(out("nulls").getAs[Array[Byte]](i + 1).sameElements(empty), s"$name empty bytes")
      assert(!out("full").getAs[Array[Byte]](i + 1).sameElements(empty), s"$name full bytes")
    }
  }

  test("strings hash in place, equal to hashing a copy of their bytes") {
    val rnd = new java.util.SplittableRandom(9L)
    for (len <- 0 to 96; off <- Seq(1, 3, 8, 13)) {
      val buf = new Array[Byte](off + len + 5)
      rnd.nextBytes(buf)
      val copy = java.util.Arrays.copyOfRange(buf, off, off + len)
      assert(Hashing.hashBytes(buf, off, len, 0L) == Hashing.hashBytes(copy), s"len=$len off=$off")
      assert(Hashing.hashBytes(buf, off, len, 7L) == Hashing.hashBytes(copy, 7L))
      // ASCII bytes are valid UTF-8, so the string takes the in-place path
      java.util.Arrays.fill(buf, off, off + len, 'a'.toByte)
      (off until off + len by 5).foreach(i => buf(i) = ('a' + i % 26).toByte)
      val s = UTF8String.fromBytes(buf, off, len)
      assert(SketchAgg.utf8Hash(s) ==
        Hashing.hashBytes(java.util.Arrays.copyOfRange(buf, off, off + len)))
    }
    // an UnsafeRow-backed string: base is the row's array, offset past the header
    val text = "über-ünïcödé " * 7 + new String(Character.toChars(0x1F600))
    val proj = UnsafeProjection.create(Array[DataType](StringType, StringType))
    val row = proj(org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString("x"), UTF8String.fromString(text)))
    val fromRow = row.getUTF8String(1)
    assert(fromRow.getBaseObject.isInstanceOf[Array[Byte]])
    assert(SketchAgg.utf8Hash(fromRow) == Hashing.hashString(text))
    assert(SketchAgg.utf8Hash(fromRow) == Hashing.hashBytes(text.getBytes(UTF_8)))
    // malformed UTF-8 at an offset still hashes like the replaced String
    for (bad <- Seq(Array(0x80.toByte), Array('a'.toByte, 0xC3.toByte),
        Array(0xED.toByte, 0xA0.toByte, 0x80.toByte))) {
      val buf = Array[Byte]('z', 'z') ++ bad ++ Array[Byte]('q')
      val u = UTF8String.fromBytes(buf, 2, bad.length)
      assert(SketchAgg.utf8Hash(u) == Hashing.hashString(u.toString))
      assert(SketchAgg.utf8Hash(u) != Hashing.hashBytes(bad))
    }
  }

  test("strings hash in place from byte[], long[] and off-heap bases") {
    import org.apache.spark.unsafe.Platform
    val rnd = new java.util.SplittableRandom(23L)
    // ASCII texts take the in-place path; with 0xC3/0xA9 bytes some are
    // valid two-byte UTF-8 (in place) and some malformed (String fallback)
    val alphabet = Array[Byte]('a', 'q', 'Z', ' ', 0xC3.toByte, 0xA9.toByte)
    for (len <- 0 to 96; off <- Seq(0, 1, 3, 5, 8, 13); ascii <- Seq(true, false)) {
      val text = Array.fill(len)(alphabet(rnd.nextInt(if (ascii) 4 else 6)))
      val expected = Hashing.hashString(UTF8String.fromBytes(text).toString)
      val bytes = new Array[Byte](off + len + 7)
      System.arraycopy(text, 0, bytes, off, len)
      val onBytes = UTF8String.fromBytes(bytes, off, len)
      val longs = new Array[Long]((off + len + 7) / 8 + 1)
      Platform.copyMemory(text, Platform.BYTE_ARRAY_OFFSET, longs,
        Platform.LONG_ARRAY_OFFSET + off, len)
      val onLongs = UTF8String.fromAddress(longs, Platform.LONG_ARRAY_OFFSET + off, len)
      val addr = Platform.allocateMemory(off + len + 8L)
      try {
        Platform.copyMemory(text, Platform.BYTE_ARRAY_OFFSET, null, addr + off, len)
        val offHeap = UTF8String.fromAddress(null, addr + off, len)
        for ((name, s) <- Seq("byte[]" -> onBytes, "long[]" -> onLongs, "off-heap" -> offHeap))
          assert(SketchAgg.utf8Hash(s) == expected, s"$name len=$len off=$off")
      } finally Platform.freeMemory(addr)
      // the word reader itself, on raw bytes and seeds
      assert(Hashing.hashBytes(longs, Platform.LONG_ARRAY_OFFSET + off, len, 7L) ==
        Hashing.hashBytes(text, 7L), s"len=$len off=$off")
    }
  }

  test("a small group stays sparse from update through the final phase") {
    val rows = (0 until 20).map(i => InternalRow(UTF8String.fromString(s"turn $i")))
    val text = BoundReference(0, StringType, nullable = true)
    def run[S <: AnyRef](agg: TypedImperativeAggregate[S], dense: S => Boolean): Array[Byte] = {
      // two partials of ten rows, adopted and merged in the final phase
      val parts = rows.grouped(10).map { rs =>
        val b = rs.foldLeft(agg.createAggregationBuffer())(agg.update)
        assert(!dense(b), s"${agg.prettyName} partial went dense")
        agg.deserialize(agg.serialize(b))
      }.toSeq
      val fin = parts.foldLeft(agg.createAggregationBuffer())(agg.merge)
      assert(!dense(fin), s"${agg.prettyName} final buffer went dense")
      agg.eval(fin).asInstanceOf[Array[Byte]]
    }
    val hllBytes = run[Hll](SketchAgg(SketchAgg.Hll(10), Seq(text)), _.isDense)
    val hDense = Hll(10).densify()
    rows.foreach(r => hDense.addString(r.getUTF8String(0).toString))
    assert(hllBytes.sameElements(hDense.toBytes))
    val cmsBytes = run[CountMin](SketchAgg(SketchAgg.Cms(4, 256), Seq(text)), _.isDense)
    val cDense = CountMin(4, 256).densify()
    rows.foreach(r => cDense.addString(r.getUTF8String(0).toString))
    assert(cmsBytes.sameElements(cDense.toBytes))
  }

  test("a 20-row group's histogram stays sparse from update through the final phase") {
    val rnd = new java.util.SplittableRandom(20L)
    // conv_sketches-like turn lengths: log-uniform on [10, 1000), weights 1-3
    val rows = (0 until 20).map(_ => InternalRow(
      math.floor(math.exp(rnd.nextDouble(math.log(10.0), math.log(1000.0)))),
      1L + rnd.nextInt(3)))
    val value = BoundReference(0, DoubleType, nullable = true)
    val weight = BoundReference(1, LongType, nullable = true)
    for (agg <- Seq[TypedImperativeAggregate[Histogram]](
        SketchAgg(SketchAgg.Hist(layout), Seq(value)),
        SketchAgg(SketchAgg.Hist(layout), Seq(value, weight)))) {
      val name = agg.prettyName
      // two partials of ten rows, serialized, adopted and merged
      val parts = rows.grouped(10).map { rs =>
        val b = rs.foldLeft(agg.createAggregationBuffer())(agg.update)
        assert(!b.isDense, s"$name partial went dense")
        val back = agg.deserialize(agg.serialize(b))
        assert(!back.isDense, s"$name decoded partial went dense")
        back
      }.toSeq
      val fin = parts.foldLeft(agg.createAggregationBuffer())(agg.merge)
      assert(fin eq parts.head, s"$name: the first partial was not adopted")
      assert(!fin.isDense, s"$name final buffer went dense")
      // the same rows through forced-dense buffers
      val denseParts = rows.grouped(10).map { rs =>
        val b = rs.foldLeft(agg.createAggregationBuffer().densify())(agg.update)
        assert(b.isDense)
        b
      }.toSeq
      val dense = denseParts.foldLeft(agg.createAggregationBuffer().densify())(agg.merge)
      assert(dense.isDense)
      assert(agg.serialize(fin).sameElements(agg.serialize(dense)), s"$name partial bytes")
      assert(agg.eval(fin).asInstanceOf[Array[Byte]].sameElements(
        agg.eval(dense).asInstanceOf[Array[Byte]]), s"$name result bytes")
    }
  }

  test("the word-at-a-time ASCII check leaves every string hash unchanged") {
    def check(buf: Array[Byte], off: Int, len: Int, ascii: Boolean): Unit = {
      val s = UTF8String.fromBytes(buf, off, len)
      assert(SketchAgg.isAscii(s) == ascii, s"len=$len off=$off")
      assert(SketchAgg.utf8Hash(s) == Hashing.hashString(s.toString), s"len=$len off=$off")
    }
    for (len <- 0 to 96; off <- Seq(0, 1, 3, 8, 13)) {
      val buf = Array.tabulate[Byte](off + len + 9)(i => ('a' + i % 26).toByte)
      check(buf, off, len, ascii = true)
      // one high byte at every position: a lone continuation byte (malformed)
      // and a two-byte sequence (é, valid multi-byte)
      for (p <- off until off + len) {
        val b = buf.clone()
        b(p) = 0x80.toByte
        check(b, off, len, ascii = false)
        if (p + 1 < off + len) {
          b(p) = 0xC3.toByte
          b(p + 1) = 0xA9.toByte
          check(b, off, len, ascii = false)
        }
      }
      // a high byte just past the string is not part of it
      val past = buf.clone()
      past(off + len) = 0x80.toByte
      check(past, off, len, ascii = true)
    }
  }
}
