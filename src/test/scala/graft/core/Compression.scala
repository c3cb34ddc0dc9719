package graft.core

import java.io.ByteArrayOutputStream

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
