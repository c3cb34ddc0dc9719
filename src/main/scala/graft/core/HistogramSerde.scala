package graft.core

import Bytes.{BitReader, BitWriter, Reader, Writer}

/**
 * Versioned binary histogram serialization, byte-compatible with the
 * reference wire format (dynahist `AbstractHistogram.java:349-1016`).
 *
 * The payload does NOT include the layout (the caller supplies it on read);
 * [[SketchEnvelope]] adds a self-describing layout header for sketch columns.
 *
 * V1 layout: version byte; info byte (emptiness, min<max, 2-bit effective
 * regular/underflow/overflow count classes); min/max doubles; varlong
 * effective under/overflow; then the regular counts minus the explicitly
 * stored min/max ("effective counts") either dense (zero-filled index range)
 * or sparse (gap-coded), whichever costs fewer bits — the chosen variant is
 * signaled by writing the start/end bin indices in swapped order.
 *
 * Reads and writes go through the [[Bytes]] codec; every decode failure is
 * a [[SketchFormatException]] "corrupt histogram payload (...)".
 */
object HistogramSerde {

  private val SerialVersionV0: Byte = 0
  private val SerialVersionV1: Byte = 1

  /** The payload noun of every histogram decode failure. */
  private[core] val What = "histogram"

  def toBytes(h: Histogram): Array[Byte] = {
    val w = new Writer(64)
    write(h, w)
    w.result
  }

  def fromBytes(layout: Layout, bytes: Array[Byte]): Histogram =
    read(layout, new Reader(bytes, 0, What))

  private[graft] def read(layout: Layout, r: Reader): Histogram = r.readByte() match {
    case SerialVersionV0 => readV0(layout, r)
    case SerialVersionV1 => readV1(layout, r)
    case v               => r.fail(s"unsupported serial version $v")
  }

  // -------------------------------------------------------------------------
  // shared helpers
  // -------------------------------------------------------------------------

  private def firstNonEmptyRegular(h: Histogram): h.BinCursor = {
    val it = h.firstNonEmptyBin
    if (it.isUnderflowBin) it.next()
    while (it.lessCount + it.binCount <= 1) it.next()
    it
  }

  private def lastNonEmptyRegular(h: Histogram): h.BinCursor = {
    val it = h.lastNonEmptyBin
    if (it.isOverflowBin) it.previous()
    while (it.greaterCount + it.binCount <= 1) it.previous()
    it
  }

  private def effectiveCount(it: Histogram#BinCursor): Long = {
    var c = it.binCount
    if (it.isFirstNonEmptyBin) c -= 1
    if (it.isLastNonEmptyBin) c -= 1
    c
  }

  private final case class Effective(
      under: Long,
      over: Long,
      regular: Long)

  private def effectiveCounts(h: Histogram): Effective = {
    val totalCount = h.totalCount
    val u = h.underflowCount
    val o = h.overflowCount
    val effU = u - (if (u > 0) 1 else 0) - (if (u == totalCount) 1 else 0)
    val effO = o - (if (o > 0) 1 else 0) - (if (o == totalCount) 1 else 0)
    Effective(effU, effO, totalCount - 2 - effU - effO)
  }

  // -------------------------------------------------------------------------
  // V1
  // -------------------------------------------------------------------------

  /** The V1 payload of `h`. */
  private[graft] def write(h: Histogram, w: Writer): Unit = {
    w.putByte(SerialVersionV1.toInt)
    val min = h.min
    if (h.totalCount <= 1) {
      if (h.isEmpty) w.putByte(0x00)
      else {
        w.putByte(0x02)
        w.putDouble(min)
      }
      return
    }

    val eff = effectiveCounts(h)
    val max = h.max
    val isMinSmallerThanMax = java.lang.Double.compare(min, max) < 0

    var infoByte = 1
    if (isMinSmallerThanMax) infoByte |= 0x02
    infoByte |= math.min(3L, eff.regular).toInt << 2
    infoByte |= math.min(3L, eff.under).toInt << 4
    infoByte |= math.min(3L, eff.over).toInt << 6
    w.putByte(infoByte)

    w.putDouble(min)
    if (isMinSmallerThanMax) w.putDouble(max)

    if (eff.under >= 3) w.putVarLong(eff.under - 3)
    if (eff.over >= 3) w.putVarLong(eff.over - 3)

    if (eff.regular >= 1) {
      val itStart = firstNonEmptyRegular(h)
      val startBinIndex = itStart.binIndex

      if (eff.regular == 2) {
        val endBinIndex = lastNonEmptyRegular(h).binIndex
        w.putZigzag(startBinIndex)
        w.putZigzag(endBinIndex)
      } else if (eff.regular >= 3) {
        val endBinIndex = lastNonEmptyRegular(h).binIndex

        // one pass to size both variants
        var bitsPerCount = 0
        var bitsForDiffIndex = 0
        var dense = false
        locally {
          val it = itStart.copy()
          var maxCountMask = it.binCount
          var diffIndexMask = 0
          var numberOfNonZeroRegularBins = 1
          var binIndex = it.binIndex
          while (binIndex < endBinIndex) {
            val lastBinIndex = binIndex
            it.next()
            binIndex = it.binIndex
            diffIndexMask |= binIndex - lastBinIndex - 1
            maxCountMask |= it.binCount
            numberOfNonZeroRegularBins += 1
          }
          val numberOfBins = endBinIndex - startBinIndex + 1
          bitsPerCount = 64 - java.lang.Long.numberOfLeadingZeros(maxCountMask)
          bitsForDiffIndex = 32 - java.lang.Integer.numberOfLeadingZeros(diffIndexMask)
          val bitsForDense = 6 + numberOfBins.toLong * bitsPerCount
          val bitsForSparse = 6 + 5 +
            numberOfNonZeroRegularBins.toLong * bitsPerCount +
            (numberOfNonZeroRegularBins - 1).toLong * bitsForDiffIndex
          dense = bitsForDense <= bitsForSparse
        }

        if (dense) {
          w.putZigzag(startBinIndex)
          w.putZigzag(endBinIndex)
        } else {
          w.putZigzag(endBinIndex)
          w.putZigzag(startBinIndex)
        }
        val bits = new BitWriter(w)
        bits.writeBits(6, bitsPerCount.toLong)
        if (dense) {
          bits.writeBits(bitsPerCount, effectiveCount(itStart))
          var binIndex = itStart.binIndex
          while (binIndex < endBinIndex) {
            val lastBinIndex = binIndex
            itStart.next()
            binIndex = itStart.binIndex
            var i = lastBinIndex + 1
            while (i < binIndex) {
              bits.writeBits(bitsPerCount, 0L)
              i += 1
            }
            bits.writeBits(bitsPerCount, effectiveCount(itStart))
          }
        } else {
          bits.writeBits(5, bitsForDiffIndex.toLong)
          bits.writeBits(bitsPerCount, effectiveCount(itStart))
          var binIndex = itStart.binIndex
          while (binIndex < endBinIndex) {
            val lastBinIndex = binIndex
            itStart.next()
            binIndex = itStart.binIndex
            bits.writeBits(bitsForDiffIndex, binIndex - lastBinIndex - 1L)
            bits.writeBits(bitsPerCount, effectiveCount(itStart))
          }
        }
        bits.finish()
      } else {
        w.putZigzag(startBinIndex)
      }
    }
  }

  /** Reconstruction state shared by the V0/V1 readers. Regular counts go
   * straight into the histogram's own store, so storage follows the nonzero
   * counts actually read, never the index range a header claims. */
  private final class Builder(layout: Layout, r: Reader) {
    private val h = Histogram(layout)
    var under: Long = 0L
    var over: Long = 0L
    var total: Long = 0L
    private var minV: Double = Double.PositiveInfinity
    private var maxV: Double = Double.NegativeInfinity
    private var minBin = 0
    private var maxBin = 0

    def incRegular(idx: Int, c: Long): Unit = {
      r.check(c >= 0, "count")
      if (c != 0) h.incrementRegular(idx, c)
    }

    def result(): Histogram = {
      h.setTotalsForDeserialization(under, over, total, minV, maxV)
      h
    }

    /** One count in bin `binIndex`. */
    private def place(binIndex: Int): Unit =
      if (binIndex <= layout.underflowBinIndex) under += 1
      else if (binIndex >= layout.overflowBinIndex) over += 1
      else incRegular(binIndex, 1)

    def setSingleValue(value: Double): Unit = {
      minV = value
      maxV = value
      place(layout.mapToBinIndex(value))
      total += 1
    }

    /** Reads the stored min, and the max when it is larger, and places both
     * back into their bins. Done before the effective counts: these bins
     * bound all of them, so a decode that goes dense builds its window once. */
    def readExtremes(minSmallerThanMax: Boolean): Unit = {
      minV = r.readDouble()
      maxV = if (minSmallerThanMax) r.readDouble() else minV
      minBin = layout.mapToBinIndex(minV)
      maxBin = layout.mapToBinIndex(maxV)
      place(minBin)
      place(maxBin)
    }

    /** Effective regular counts lie in regular bins between those of the
     * stored min and max. */
    def checkBinRange(firstIdx: Int, lastIdx: Int): Unit =
      r.check(
        firstIdx <= lastIdx && firstIdx > layout.underflowBinIndex &&
          lastIdx < layout.overflowBinIndex && firstIdx >= minBin && lastIdx <= maxBin,
        "bin range")
  }

  private def readV1(layout: Layout, r: Reader): Histogram = {
    val b = new Builder(layout, r)
    val infoByte = r.readUnsignedByte()
    if ((infoByte & 0x01) == 0) {
      if ((infoByte & 0x02) > 0) b.setSingleValue(r.readDouble())
      return b.result()
    }

    val isMinSmallerThanMax = (infoByte & 0x02) > 0
    val effRegularClass = (infoByte >>> 2) & 0x03
    var effUnder: Long = (infoByte >>> 4) & 0x03
    var effOver: Long = (infoByte >>> 6) & 0x03

    b.readExtremes(isMinSmallerThanMax)
    if (effUnder == 3) effUnder += r.readVarLong()
    if (effOver == 3) effOver += r.readVarLong()

    var totalCount = 2L + effOver + effUnder

    if (effRegularClass >= 1) {
      var firstIdx = r.readZigzag()
      var lastIdx = firstIdx
      var dense = true
      if (effRegularClass >= 2) {
        lastIdx = r.readZigzag()
        if (firstIdx > lastIdx) {
          dense = false
          val t = firstIdx
          firstIdx = lastIdx
          lastIdx = t
        }
      }

      b.checkBinRange(firstIdx, lastIdx)

      if (effRegularClass >= 3) {
        val bits = new BitReader(r)
        val bitsPerCount = bits.readBits(6).toInt
        // the writer sizes counts over a mask that includes a count >= 1
        r.check(bitsPerCount > 0, "bits per count")

        if (dense) {
          var binIndex = firstIdx
          while (binIndex <= lastIdx) {
            val c = bits.readBits(bitsPerCount)
            b.incRegular(binIndex, c)
            totalCount += c
            binIndex += 1
          }
        } else {
          val bitsForDiffIndex = bits.readBits(5).toInt
          var binIndex = firstIdx
          var done = false
          while (!done) {
            val c = bits.readBits(bitsPerCount)
            b.incRegular(binIndex, c)
            totalCount += c
            if (binIndex >= lastIdx) done = true
            else {
              val next = binIndex + bits.readBits(bitsForDiffIndex) + 1L
              r.check(next <= lastIdx, "bin range")
              binIndex = next.toInt
            }
          }
        }
      } else {
        b.incRegular(firstIdx, 1)
        totalCount += 1
        if (effRegularClass == 2) {
          b.incRegular(lastIdx, 1)
          totalCount += 1
        }
      }
    }

    b.under += effUnder
    b.over += effOver
    b.total += totalCount
    b.result()
  }

  // -------------------------------------------------------------------------
  // V0 (legacy read + write for round-trip compatibility tests)
  // -------------------------------------------------------------------------

  /** Counter bit-width class ("mode") as computed by the reference's static
   * histogram: required mode of the bit-OR of the raw regular counters
   * (dynahist `StaticHistogram.java:93-99`, `AbstractHistogram.java:69-85`);
   * empty bins add nothing to the OR. */
  def minimalMode(h: Histogram): Int = {
    val mask = h.nonEmptyBins.collect {
      case b if !b.isUnderflowBin && !b.isOverflowBin => b.binCount
    }.foldLeft(0L)(_ | _)
    if (mask > 0xffffffffL) 6
    else if (mask > 0xffffL) 5
    else if (mask > 0xffL) 4
    else if (mask > 0xfL) 3
    else if (mask > 0x3L) 2
    else if (mask > 0x1L) 1
    else 0
  }

  def toBytesV0(h: Histogram): Array[Byte] = {
    val w = new Writer(64)
    writeV0(h, w)
    w.result
  }

  private def writeV0(h: Histogram, w: Writer): Unit = {
    w.putByte(SerialVersionV0.toInt)
    val min = h.min
    if (h.totalCount <= 1) {
      if (h.isEmpty) w.putByte(0x00) else {
        w.putByte(0x08)
        w.putDouble(min)
      }
      return
    }
    val eff = effectiveCounts(h)
    val mode = minimalMode(h)
    val max = h.max
    val isMinSmallerThanMax = java.lang.Double.compare(min, max) < 0

    var infoByte = mode + 1
    if (isMinSmallerThanMax) infoByte |= 0x08
    infoByte |= math.min(eff.regular, 3L).toInt << 4
    if (eff.under > 0) infoByte |= 0x40
    if (eff.over > 0) infoByte |= 0x80
    w.putByte(infoByte)

    w.putDouble(min)
    if (isMinSmallerThanMax) w.putDouble(max)

    if (eff.under >= 1) w.putVarLong(eff.under - 1)
    if (eff.over >= 1) w.putVarLong(eff.over - 1)

    if (eff.regular >= 1) {
      val itStart = firstNonEmptyRegular(h)
      w.putZigzag(itStart.binIndex)
      if (eff.regular >= 2) {
        val endBinIndex = lastNonEmptyRegular(h).binIndex
        w.putZigzag(endBinIndex)
        if (eff.regular >= 3) {
          val bitsPerCount = 1 << mode
          val bits = new BitWriter(w)
          bits.writeBits(bitsPerCount, effectiveCount(itStart))
          var binIndex = itStart.binIndex
          while (binIndex < endBinIndex) {
            val lastBinIndex = binIndex
            itStart.next()
            binIndex = itStart.binIndex
            var i = lastBinIndex + 1
            while (i < binIndex) {
              bits.writeBits(bitsPerCount, 0L)
              i += 1
            }
            bits.writeBits(bitsPerCount, effectiveCount(itStart))
          }
          bits.finish()
        }
      }
    }
  }

  private def readV0(layout: Layout, r: Reader): Histogram = {
    val b = new Builder(layout, r)
    val infoByte = r.readUnsignedByte()
    if ((infoByte & 0x07) == 0) {
      if ((infoByte & 0x08) > 0) b.setSingleValue(r.readDouble())
      return b.result()
    }

    val mode = (infoByte & 0x07) - 1
    val isMinSmallerThanMax = (infoByte & 0x08) > 0
    val effRegularClass = (infoByte >>> 4) & 0x03
    var effUnder: Long = (infoByte >>> 6) & 0x01
    var effOver: Long = (infoByte >>> 7) & 0x01

    b.readExtremes(isMinSmallerThanMax)
    if (effUnder == 1) effUnder += r.readVarLong()
    if (effOver == 1) effOver += r.readVarLong()

    var totalCount = 2L + effOver + effUnder

    if (effRegularClass >= 1) {
      val firstIdx = r.readZigzag()
      val lastIdx = if (effRegularClass >= 2) r.readZigzag() else firstIdx
      b.checkBinRange(firstIdx, lastIdx)

      if (effRegularClass >= 3) {
        val bits = new BitReader(r)
        val bitsPerCount = 1 << mode
        var binIndex = firstIdx
        while (binIndex <= lastIdx) {
          val c = bits.readBits(bitsPerCount)
          b.incRegular(binIndex, c)
          totalCount += c
          binIndex += 1
        }
      } else {
        b.incRegular(firstIdx, 1)
        totalCount += 1
        if (effRegularClass == 2) {
          b.incRegular(lastIdx, 1)
          totalCount += 1
        }
      }
    }

    b.under += effUnder
    b.over += effOver
    b.total += totalCount
    b.result()
  }
}

/**
 * Self-describing layout codec: a 1-byte tag, then the layout's parameter
 * bytes. Used by [[SketchEnvelope]] so sketch columns carry their layout.
 *
 * The parameter bytes are the reference's layout V0 payload, so
 * [[ReferenceLayoutSerde]] writes and reads them here too, after its own
 * header:
 *  - custom: unsigned varint boundary count, then each boundary as a double;
 *  - log-linear, log-quadratic, log-optimal: absolute and relative limit as
 *    doubles, then the underflow and overflow bin index as zigzag varints;
 *  - OTel exponential: the scale as one byte;
 *  - integer (no reference form): min and max regular index as zigzag varints.
 *
 * A decode checks the claimed boundary count against the bytes present
 * before it allocates the boundaries.
 */
object LayoutCodec {

  private[core] val TagCustom = 1
  private[core] val TagLogLinear = 2
  private[core] val TagLogQuadratic = 3
  private[core] val TagLogOptimal = 4
  private[core] val TagOtel = 5
  private[core] val TagInteger = 6

  /** The tag of `layout`'s kind. */
  private[core] def tag(layout: Layout): Int = layout match {
    case _: CustomLayout          => TagCustom
    case _: LogLinearLayout       => TagLogLinear
    case _: LogQuadraticLayout    => TagLogQuadratic
    case _: LogOptimalLayout      => TagLogOptimal
    case _: OtelExponentialLayout => TagOtel
    case _: IntegerLayout         => TagInteger
    case other =>
      throw new IllegalArgumentException(s"layout type not serializable: ${other.getClass.getName}")
  }

  /** The parameter bytes of `layout`, whose kind [[tag]] accepts. */
  private[core] def writeParams(layout: Layout, w: Writer): Unit = layout match {
    case c: CustomLayout =>
      w.putVarLong(c.boundaries.length.toLong)
      // canonical NaN bits, as the reference writes its boundaries
      c.boundaries.foreach(b => w.putLong(java.lang.Double.doubleToLongBits(b)))
    case l: ErrorLimitingLayout =>
      w.putDouble(l.absoluteLimit)
      w.putDouble(l.relativeLimit)
      w.putZigzag(l.underflowBinIndex)
      w.putZigzag(l.overflowBinIndex)
    case l: OtelExponentialLayout => w.putByte(l.scale)
    case l: IntegerLayout =>
      w.putZigzag(l.minRegular)
      w.putZigzag(l.maxRegular)
  }

  /** The layout of kind `tag` from its parameter bytes. The parameters
   * pass the checks of the layout's factory or constructor; one that does
   * not fails as a [[SketchFormatException]] with the check's message. */
  private[core] def readParams(tag: Int, r: Reader): Layout = {
    def errorLimiting[L <: ErrorLimitingLayout](make: (Double, Double, Int, Int) => L): L =
      ErrorLimitingLayout.decoded(make)(r.readDouble(), r.readDouble(), r.readZigzag(),
        r.readZigzag())
    try tag match {
      case TagCustom =>
        val n = r.fits(r.readVarLong(), 8)
        CustomLayout(Array.fill(n)(r.readDouble()))
      case TagLogLinear    => errorLimiting(new LogLinearLayout(_, _, _, _))
      case TagLogQuadratic => errorLimiting(new LogQuadraticLayout(_, _, _, _))
      case TagLogOptimal   => errorLimiting(new LogOptimalLayout(_, _, _, _))
      case TagOtel         => OtelExponentialLayout(r.readUnsignedByte())
      case TagInteger      => IntegerLayout(r.readZigzag(), r.readZigzag())
      case t               => r.fail(s"unknown layout tag $t")
    } catch {
      case e: IllegalArgumentException if !e.isInstanceOf[SketchFormatException] =>
        r.fail(e.getMessage)
    }
  }

  private[graft] def write(layout: Layout, w: Writer): Unit = {
    w.putByte(tag(layout))
    writeParams(layout, w)
  }

  private[graft] def read(r: Reader): Layout = readParams(r.readByte(), r)
}

/**
 * Reference-compatible layout type-info serde (dynahist
 * `layout/LayoutSerialization.java:196-221`, `Layout.java:125-141`): an
 * 8-byte registered serial version and a version byte, followed by the
 * layout's own V0 payload (`LogLinearLayout.java:254-268`,
 * `CustomLayout.java:115-126`,
 * `OpenTelemetryExponentialBucketsLayout.java:217-224`; LogQuadratic and
 * LogOptimal are structurally identical to LogLinear), which is
 * [[LayoutCodec]]'s parameter bytes. Together with the V1 histogram payload
 * this lets blobs written by the reference toolchain with
 * `writeWithTypeInfo` round-trip through this library and vice versa — the
 * migration path for existing DynaHist data. [[LayoutCodec]] (the compact
 * internal tag format used by [[SketchEnvelope]]) remains the at-rest format
 * for sketches produced here. Decode failures are the histogram's
 * [[SketchFormatException]].
 */
object ReferenceLayoutSerde {
  import LayoutCodec._

  // registered serial versions, LayoutSerialization.java:199-220
  private val Serials: Map[Int, Long] = Map(
    TagCustom -> 0x7f862c3808df6fcdL,
    TagLogLinear -> 0x05d0c7e2dc0316e8L,
    TagLogQuadratic -> 0x9d36115de11d38d6L,
    TagLogOptimal -> 0x70c0ef16c3809948L,
    TagOtel -> 0xf6e717a16f0a6a4aL)
  private val Tags: Map[Long, Int] = Serials.map(_.swap)
  private val V0 = 0

  private[graft] def writeWithTypeInfo(layout: Layout, w: Writer): Unit = {
    val serial = Serials.getOrElse(tag(layout), throw new IllegalArgumentException(
      s"layout type has no registered reference serial version: ${layout.getClass.getName}"))
    w.putLong(serial)
    w.putByte(V0)
    writeParams(layout, w)
  }

  private[graft] def readWithTypeInfo(r: Reader): Layout = {
    val serial = r.readLong()
    val t = Tags.getOrElse(serial, r.fail(f"unknown layout serial 0x$serial%016x"))
    val v = r.readByte()
    if (v != V0) r.fail(s"unsupported layout serial version $v")
    readParams(t, r)
  }

  /** Histogram blob in the reference's self-describing convention: layout
   * type info followed by the V1 histogram payload. */
  def toBytesWithTypeInfo(h: Histogram): Array[Byte] = {
    val w = new Writer(64)
    writeWithTypeInfo(h.layout, w)
    HistogramSerde.write(h, w)
    w.result
  }

  def fromBytesWithTypeInfo(bytes: Array[Byte]): Histogram = {
    val r = new Reader(bytes, 0, HistogramSerde.What)
    HistogramSerde.read(readWithTypeInfo(r), r)
  }
}

/**
 * Self-describing sketch bytes: magic, layout, then the V1 histogram payload.
 * This is the UDAF output / checkpoint-at-rest format.
 */
object SketchEnvelope {
  private val Magic: Int = 0x4748 // "GH"

  def toBytes(h: Histogram): Array[Byte] = {
    val w = new Writer(64)
    w.putByte(Magic >>> 8)
    w.putByte(Magic)
    LayoutCodec.write(h.layout, w)
    HistogramSerde.write(h, w)
    w.result
  }

  def fromBytes(bytes: Array[Byte]): Histogram = {
    val r = new Reader(bytes, 0, HistogramSerde.What)
    r.check(r.readUnsignedByte() == (Magic >>> 8) && r.readUnsignedByte() == (Magic & 0xff),
      "bad magic")
    HistogramSerde.read(LayoutCodec.read(r), r)
  }
}
