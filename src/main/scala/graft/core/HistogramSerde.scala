package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInput, DataInputStream, DataOutput, DataOutputStream, EOFException, IOException}

/**
 * LEB128 varint / zigzag codecs and 64-bit-buffered bit I/O, wire-compatible
 * with the reference (dynahist `serialization/SerializationUtil.java:64-155`,
 * `BitOutput.java:33-50`, `BitInput.java:34-53`).
 */
object Codecs {

  def writeUnsignedVarLong(value0: Long, out: DataOutput): Unit = {
    var value = value0
    while ((value & 0xffffffffffffff80L) != 0L) {
      out.writeByte((value.toInt & 0x7f) | 0x80)
      value >>>= 7
    }
    out.writeByte(value.toInt & 0x7f)
  }

  def writeUnsignedVarInt(value0: Int, out: DataOutput): Unit = {
    var value = value0
    while ((value & 0xffffff80) != 0L) {
      out.writeByte((value & 0x7f) | 0x80)
      value >>>= 7
    }
    out.writeByte(value & 0x7f)
  }

  def writeSignedVarInt(value: Int, out: DataOutput): Unit =
    writeUnsignedVarInt((value << 1) ^ (value >> 31), out)

  def readUnsignedVarLong(in: DataInput): Long = {
    var value = 0L
    var i = 0
    var b: Long = in.readByte().toLong
    while ((b & 0x80L) != 0) {
      value |= (b & 0x7f) << i
      i += 7
      if (i > 63) throw new IOException("varlong too long")
      b = in.readByte().toLong
    }
    value | (b << i)
  }

  def readUnsignedVarInt(in: DataInput): Int = {
    var value = 0
    var i = 0
    var b: Int = in.readByte().toInt
    while ((b & 0x80) != 0) {
      value |= (b & 0x7f) << i
      i += 7
      if (i > 35) throw new IOException("varint too long")
      b = in.readByte().toInt
    }
    value | (b << i)
  }

  def readSignedVarInt(in: DataInput): Int = {
    val raw = readUnsignedVarInt(in)
    val temp = (((raw << 31) >> 31) ^ raw) >> 1
    temp ^ (raw & (1 << 31))
  }

  final class BitWriter(out: DataOutput) {
    private var buffer = 0L
    private var bitCount = 0

    def writeBits(numBits: Int, value: Long): Unit = {
      if (numBits == 0) return
      buffer |= (value << (-numBits)) >>> bitCount
      bitCount += numBits
      if (bitCount >= 64) {
        out.writeLong(buffer)
        buffer = value << 1 << ~bitCount
        bitCount -= 64
      }
    }

    def finish(): Unit = {
      while (bitCount > 0) {
        out.writeByte((buffer >>> 56).toByte.toInt)
        buffer <<= 8
        bitCount -= 8
      }
    }
  }

  final class BitReader(in: DataInput) {
    private var buffer = 0L
    private var bitCount = 0

    def readBits(numBits0: Int): Long = {
      var numBits = numBits0
      if (numBits == 0) return 0L
      var result = 0L
      if (bitCount < numBits) {
        result = buffer
        numBits -= bitCount
        while (numBits > 8) {
          result <<= 8
          result |= in.readUnsignedByte().toLong
          numBits -= 8
        }
        result <<= numBits
        buffer = in.readUnsignedByte().toLong
        bitCount = 8
      }
      bitCount -= numBits
      result |= buffer >>> bitCount
      buffer &= (1L << bitCount) - 1
      result
    }
  }
}

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
 */
object HistogramSerde {
  import Codecs._

  private val SerialVersionV0: Byte = 0
  private val SerialVersionV1: Byte = 1

  def toBytes(h: Histogram): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    write(h, new DataOutputStream(bos))
    bos.toByteArray
  }

  def fromBytes(layout: Layout, bytes: Array[Byte]): Histogram =
    read(layout, new DataInputStream(new ByteArrayInputStream(bytes)))

  def write(h: Histogram, out: DataOutput): Unit = writeV1(h, out)

  def read(layout: Layout, in: DataInput): Histogram = untruncated {
    in.readByte() match {
      case SerialVersionV0 => readV0(layout, in)
      case SerialVersionV1 => readV1(layout, in)
      case v               => throw new IOException(s"unsupported histogram serial version $v")
    }
  }

  /** `decode`, with input that ends early failing as the same
   * `IllegalArgumentException` as the payload's other checks. */
  private[core] def untruncated[T](decode: => T): T =
    try decode
    catch {
      case _: EOFException =>
        throw new IllegalArgumentException("corrupt histogram payload (truncated)")
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

  def writeV1(h: Histogram, out: DataOutput): Unit = {
    out.writeByte(SerialVersionV1.toInt)
    val min = h.min
    if (h.totalCount <= 1) {
      if (h.isEmpty) out.writeByte(0x00)
      else {
        out.writeByte(0x02)
        out.writeDouble(min)
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
    out.writeByte(infoByte)

    out.writeDouble(min)
    if (isMinSmallerThanMax) out.writeDouble(max)

    if (eff.under >= 3) writeUnsignedVarLong(eff.under - 3, out)
    if (eff.over >= 3) writeUnsignedVarLong(eff.over - 3, out)

    if (eff.regular >= 1) {
      val itStart = firstNonEmptyRegular(h)
      val startBinIndex = itStart.binIndex

      if (eff.regular == 2) {
        val endBinIndex = lastNonEmptyRegular(h).binIndex
        writeSignedVarInt(startBinIndex, out)
        writeSignedVarInt(endBinIndex, out)
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
          writeSignedVarInt(startBinIndex, out)
          writeSignedVarInt(endBinIndex, out)
        } else {
          writeSignedVarInt(endBinIndex, out)
          writeSignedVarInt(startBinIndex, out)
        }
        val bits = new BitWriter(out)
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
        writeSignedVarInt(startBinIndex, out)
      }
    }
  }

  /** Reconstruction state shared by the V0/V1 readers. Regular counts go
   * straight into the histogram's own store, so storage follows the nonzero
   * counts actually read, never the index range a header claims. */
  private final class Builder(layout: Layout) {
    private val h = Histogram(layout)
    var under: Long = 0L
    var over: Long = 0L
    var total: Long = 0L
    var minV: Double = Double.PositiveInfinity
    var maxV: Double = Double.NegativeInfinity

    def incRegular(idx: Int, c: Long): Unit = {
      require(c >= 0, "corrupt histogram payload (count)")
      if (c != 0) h.incrementRegular(idx, c)
    }

    def result(): Histogram = {
      h.setTotalsForDeserialization(under, over, total, minV, maxV)
      h
    }

    def setSingleValue(value: Double): Unit = {
      minV = value
      maxV = value
      val binIndex = layout.mapToBinIndex(value)
      if (binIndex <= layout.underflowBinIndex) under += 1
      else if (binIndex >= layout.overflowBinIndex) over += 1
      else incRegular(binIndex, 1)
      total += 1
    }

    /** Places the explicitly stored min/max back into their bins. Done
     * before the effective counts: these bins bound all of them, so a
     * decode that goes dense builds its window once. */
    def restoreExtremes(minBinIndex: Int, maxBinIndex: Int): Unit = {
      if (minBinIndex <= layout.underflowBinIndex) under += 1
      else if (minBinIndex >= layout.overflowBinIndex) over += 1
      else incRegular(minBinIndex, 1)
      if (maxBinIndex <= layout.underflowBinIndex) under += 1
      else if (maxBinIndex >= layout.overflowBinIndex) over += 1
      else incRegular(maxBinIndex, 1)
    }
  }

  /** Effective regular counts lie in regular bins between those of the
   * stored min and max. */
  private def checkBinRange(
      layout: Layout,
      firstIdx: Int,
      lastIdx: Int,
      minBinIndex: Int,
      maxBinIndex: Int): Unit =
    require(
      firstIdx <= lastIdx && firstIdx > layout.underflowBinIndex &&
        lastIdx < layout.overflowBinIndex && firstIdx >= minBinIndex && lastIdx <= maxBinIndex,
      "corrupt histogram payload (bin range)")

  private def readV1(layout: Layout, in: DataInput): Histogram = {
    val b = new Builder(layout)
    val infoByte = in.readUnsignedByte()
    if ((infoByte & 0x01) == 0) {
      if ((infoByte & 0x02) > 0) b.setSingleValue(in.readDouble())
      return b.result()
    }

    val isMinSmallerThanMax = (infoByte & 0x02) > 0
    val effRegularClass = (infoByte >>> 2) & 0x03
    var effUnder: Long = (infoByte >>> 4) & 0x03
    var effOver: Long = (infoByte >>> 6) & 0x03

    val min = in.readDouble()
    val minBinIndex = layout.mapToBinIndex(min)
    val (max, maxBinIndex) =
      if (isMinSmallerThanMax) {
        val m = in.readDouble()
        (m, layout.mapToBinIndex(m))
      } else (min, minBinIndex)

    if (effUnder == 3) effUnder += readUnsignedVarLong(in)
    if (effOver == 3) effOver += readUnsignedVarLong(in)

    var totalCount = 2L + effOver + effUnder

    b.minV = min
    b.maxV = max
    b.restoreExtremes(minBinIndex, maxBinIndex)

    if (effRegularClass >= 1) {
      var firstIdx = readSignedVarInt(in)
      var lastIdx = firstIdx
      var dense = true
      if (effRegularClass >= 2) {
        lastIdx = readSignedVarInt(in)
        if (firstIdx > lastIdx) {
          dense = false
          val t = firstIdx
          firstIdx = lastIdx
          lastIdx = t
        }
      }

      checkBinRange(layout, firstIdx, lastIdx, minBinIndex, maxBinIndex)

      if (effRegularClass >= 3) {
        val bits = new BitReader(in)
        val bitsPerCount = bits.readBits(6).toInt
        // the writer sizes counts over a mask that includes a count >= 1
        require(bitsPerCount > 0, "corrupt histogram payload (bits per count)")

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
              require(next <= lastIdx, "corrupt histogram payload (bin range)")
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

  def writeV0(h: Histogram, out: DataOutput, modeOverride: Int = -1): Unit = {
    out.writeByte(SerialVersionV0.toInt)
    val min = h.min
    if (h.totalCount <= 1) {
      if (h.isEmpty) out.writeByte(0x00) else {
        out.writeByte(0x08)
        out.writeDouble(min)
      }
      return
    }
    val eff = effectiveCounts(h)
    val mode = if (modeOverride >= 0) modeOverride else minimalMode(h)
    val max = h.max
    val isMinSmallerThanMax = java.lang.Double.compare(min, max) < 0

    var infoByte = mode + 1
    if (isMinSmallerThanMax) infoByte |= 0x08
    infoByte |= math.min(eff.regular, 3L).toInt << 4
    if (eff.under > 0) infoByte |= 0x40
    if (eff.over > 0) infoByte |= 0x80
    out.writeByte(infoByte)

    out.writeDouble(min)
    if (isMinSmallerThanMax) out.writeDouble(max)

    if (eff.under >= 1) writeUnsignedVarLong(eff.under - 1, out)
    if (eff.over >= 1) writeUnsignedVarLong(eff.over - 1, out)

    if (eff.regular >= 1) {
      val itStart = firstNonEmptyRegular(h)
      writeSignedVarInt(itStart.binIndex, out)
      if (eff.regular >= 2) {
        val endBinIndex = lastNonEmptyRegular(h).binIndex
        writeSignedVarInt(endBinIndex, out)
        if (eff.regular >= 3) {
          val bitsPerCount = 1 << mode
          val bits = new BitWriter(out)
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

  private def readV0(layout: Layout, in: DataInput): Histogram = {
    val b = new Builder(layout)
    val infoByte = in.readUnsignedByte()
    if ((infoByte & 0x07) == 0) {
      if ((infoByte & 0x08) > 0) b.setSingleValue(in.readDouble())
      return b.result()
    }

    val mode = (infoByte & 0x07) - 1
    val isMinSmallerThanMax = (infoByte & 0x08) > 0
    val effRegularClass = (infoByte >>> 4) & 0x03
    var effUnder: Long = (infoByte >>> 6) & 0x01
    var effOver: Long = (infoByte >>> 7) & 0x01

    val min = in.readDouble()
    val minBinIndex = layout.mapToBinIndex(min)
    val (max, maxBinIndex) =
      if (isMinSmallerThanMax) {
        val m = in.readDouble()
        (m, layout.mapToBinIndex(m))
      } else (min, minBinIndex)

    if (effUnder == 1) effUnder += readUnsignedVarLong(in)
    if (effOver == 1) effOver += readUnsignedVarLong(in)

    var totalCount = 2L + effOver + effUnder

    b.minV = min
    b.maxV = max
    b.restoreExtremes(minBinIndex, maxBinIndex)

    if (effRegularClass >= 1) {
      val firstIdx = readSignedVarInt(in)
      val lastIdx = if (effRegularClass >= 2) readSignedVarInt(in) else firstIdx
      checkBinRange(layout, firstIdx, lastIdx, minBinIndex, maxBinIndex)

      if (effRegularClass >= 3) {
        val bits = new BitReader(in)
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

/** Deflate wrappers for at-rest sketch bytes
 * (dynahist `serialization/SerializationUtil.java:235-313`). */
object Compression {

  def compress(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(data)
    deflater.finish()
    val buffer = new Array[Byte](1024)
    while (!deflater.finished()) out.write(buffer, 0, deflater.deflate(buffer))
    deflater.end()
    out.toByteArray
  }

  def decompress(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(data)
    val buffer = new Array[Byte](1024)
    while (!inflater.finished()) out.write(buffer, 0, inflater.inflate(buffer))
    inflater.end()
    out.toByteArray
  }

  def writeCompressed(h: Histogram): Array[Byte] = compress(HistogramSerde.toBytes(h))

  def readCompressed(layout: Layout, bytes: Array[Byte]): Histogram =
    HistogramSerde.fromBytes(layout, decompress(bytes))
}

/**
 * Self-describing layout codec (own compact format: 1 tag byte + params).
 * Used by [[SketchEnvelope]] so sketch columns carry their layout.
 */
object LayoutCodec {
  import Codecs._

  private val TagCustom: Byte = 1
  private val TagLogLinear: Byte = 2
  private val TagLogQuadratic: Byte = 3
  private val TagLogOptimal: Byte = 4
  private val TagOtel: Byte = 5
  private val TagInteger: Byte = 6

  def write(layout: Layout, out: DataOutput): Unit = layout match {
    case c: CustomLayout =>
      out.writeByte(TagCustom.toInt)
      writeUnsignedVarInt(c.boundaries.length, out)
      c.boundaries.foreach(out.writeDouble)
    case l: LogLinearLayout =>
      out.writeByte(TagLogLinear.toInt)
      out.writeDouble(l.absoluteLimit)
      out.writeDouble(l.relativeLimit)
      writeSignedVarInt(l.underflowBinIndex, out)
      writeSignedVarInt(l.overflowBinIndex, out)
    case l: LogQuadraticLayout =>
      out.writeByte(TagLogQuadratic.toInt)
      out.writeDouble(l.absoluteLimit)
      out.writeDouble(l.relativeLimit)
      writeSignedVarInt(l.underflowBinIndex, out)
      writeSignedVarInt(l.overflowBinIndex, out)
    case l: LogOptimalLayout =>
      out.writeByte(TagLogOptimal.toInt)
      out.writeDouble(l.absoluteLimit)
      out.writeDouble(l.relativeLimit)
      writeSignedVarInt(l.underflowBinIndex, out)
      writeSignedVarInt(l.overflowBinIndex, out)
    case l: OtelExponentialLayout =>
      out.writeByte(TagOtel.toInt)
      out.writeByte(l.scale)
    case l: IntegerLayout =>
      out.writeByte(TagInteger.toInt)
      writeSignedVarInt(l.minRegular, out)
      writeSignedVarInt(l.maxRegular, out)
    case other =>
      throw new IOException(s"layout type not serializable: ${other.getClass.getName}")
  }

  def read(in: DataInput): Layout = in.readByte() match {
    case TagCustom =>
      val n = readUnsignedVarInt(in)
      val bs = Array.fill(n)(in.readDouble())
      CustomLayout(bs)
    case TagLogLinear =>
      val (a, r) = (in.readDouble(), in.readDouble())
      LogLinearLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case TagLogQuadratic =>
      val (a, r) = (in.readDouble(), in.readDouble())
      LogQuadraticLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case TagLogOptimal =>
      val (a, r) = (in.readDouble(), in.readDouble())
      LogOptimalLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case TagOtel =>
      OtelExponentialLayout(in.readUnsignedByte())
    case TagInteger =>
      IntegerLayout(readSignedVarInt(in), readSignedVarInt(in))
    case t => throw new IOException(s"unknown layout tag $t")
  }

}

/**
 * Reference-compatible layout type-info serde (dynahist
 * `layout/LayoutSerialization.java:196-221`, `Layout.java:125-141`): an
 * 8-byte registered serial version followed by the layout's own V0 payload
 * (`LogLinearLayout.java:254-268`, `CustomLayout.java:115-126`,
 * `OpenTelemetryExponentialBucketsLayout.java:217-224`; LogQuadratic and
 * LogOptimal are structurally identical to LogLinear). Together with the V1
 * histogram payload this lets blobs written by the reference toolchain with
 * `writeWithTypeInfo` round-trip through this library and vice versa — the
 * migration path for existing DynaHist data. [[LayoutCodec]] (the compact
 * internal tag format used by [[SketchEnvelope]]) remains the at-rest format
 * for sketches produced here.
 */
object ReferenceLayoutSerde {
  import Codecs._

  // registered serial versions, LayoutSerialization.java:199-220
  private val SerialCustom = 0x7f862c3808df6fcdL
  private val SerialLogLinear = 0x05d0c7e2dc0316e8L
  private val SerialLogQuadratic = 0x9d36115de11d38d6L
  private val SerialLogOptimal = 0x70c0ef16c3809948L
  private val SerialOtel = 0xf6e717a16f0a6a4aL
  private val V0 = 0

  private def writeLog(
      serial: Long,
      a: Double,
      r: Double,
      underflowIdx: Int,
      overflowIdx: Int,
      out: DataOutput): Unit = {
    out.writeLong(serial)
    out.writeByte(V0)
    out.writeDouble(a)
    out.writeDouble(r)
    writeSignedVarInt(underflowIdx, out)
    writeSignedVarInt(overflowIdx, out)
  }

  def writeWithTypeInfo(layout: Layout, out: DataOutput): Unit = layout match {
    case c: CustomLayout =>
      out.writeLong(SerialCustom)
      out.writeByte(V0)
      writeUnsignedVarInt(c.boundaries.length, out)
      c.boundaries.foreach(out.writeDouble)
    case l: LogLinearLayout =>
      writeLog(
        SerialLogLinear, l.absoluteLimit, l.relativeLimit,
        l.underflowBinIndex, l.overflowBinIndex, out)
    case l: LogQuadraticLayout =>
      writeLog(
        SerialLogQuadratic, l.absoluteLimit, l.relativeLimit,
        l.underflowBinIndex, l.overflowBinIndex, out)
    case l: LogOptimalLayout =>
      writeLog(
        SerialLogOptimal, l.absoluteLimit, l.relativeLimit,
        l.underflowBinIndex, l.overflowBinIndex, out)
    case l: OtelExponentialLayout =>
      out.writeLong(SerialOtel)
      out.writeByte(V0)
      out.writeByte(l.scale)
    case other =>
      throw new IOException(
        s"layout type has no registered reference serial version: ${other.getClass.getName}")
  }

  private def checkV0(in: DataInput): Unit = {
    val v = in.readByte()
    if (v != V0) throw new IOException(s"unsupported layout serial version $v")
  }

  def readWithTypeInfo(in: DataInput): Layout = in.readLong() match {
    case SerialCustom =>
      checkV0(in)
      val n = readUnsignedVarInt(in)
      CustomLayout(Array.fill(n)(in.readDouble()))
    case SerialLogLinear =>
      checkV0(in)
      val (a, r) = (in.readDouble(), in.readDouble())
      LogLinearLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case SerialLogQuadratic =>
      checkV0(in)
      val (a, r) = (in.readDouble(), in.readDouble())
      LogQuadraticLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case SerialLogOptimal =>
      checkV0(in)
      val (a, r) = (in.readDouble(), in.readDouble())
      LogOptimalLayout.withIndices(a, r, readSignedVarInt(in), readSignedVarInt(in))
    case SerialOtel =>
      checkV0(in)
      OtelExponentialLayout(in.readUnsignedByte())
    case unknown =>
      throw new IOException(
        f"0x$unknown%016x is an unknown layout serialization version")
  }

  /** Histogram blob in the reference's self-describing convention: layout
   * type info followed by the V1 histogram payload. */
  def writeHistogramWithTypeInfo(h: Histogram, out: DataOutput): Unit = {
    writeWithTypeInfo(h.layout, out)
    HistogramSerde.write(h, out)
  }

  def readHistogramWithTypeInfo(in: DataInput): Histogram = HistogramSerde.untruncated {
    val layout = readWithTypeInfo(in)
    HistogramSerde.read(layout, in)
  }

  def toBytesWithTypeInfo(h: Histogram): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    writeHistogramWithTypeInfo(h, new DataOutputStream(bos))
    bos.toByteArray
  }

  def fromBytesWithTypeInfo(bytes: Array[Byte]): Histogram =
    readHistogramWithTypeInfo(new DataInputStream(new ByteArrayInputStream(bytes)))
}

/**
 * Self-describing sketch bytes: magic, layout, then the V1 histogram payload.
 * This is the UDAF output / checkpoint-at-rest format.
 */
object SketchEnvelope {
  private val Magic: Int = 0x4748 // "GH"

  def toBytes(h: Histogram): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeShort(Magic)
    LayoutCodec.write(h.layout, out)
    HistogramSerde.write(h, out)
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): Histogram = HistogramSerde.untruncated {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readShort() == Magic.toShort, "bad sketch magic")
    val layout = LayoutCodec.read(in)
    HistogramSerde.read(layout, in)
  }
}
