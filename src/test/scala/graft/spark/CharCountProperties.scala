package graft.spark

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.spark.expressions.SketchEval

/** `SketchEval.charCount`, the `char_count` that replaces `length(s)` in
 * sketch inputs, equals Spark's `UTF8String.numChars` on every byte
 * sequence, wherever the string's bytes sit. */
object CharCountProperties extends Properties("CharCount") {

  private val ascii: Gen[Array[Byte]] =
    Gen.containerOf[Array, Byte](Gen.choose(0, 127).map(_.toByte))

  /** Valid UTF-8 mixing 1-, 2-, 3- and 4-byte characters. */
  private val utf8: Gen[Array[Byte]] = Gen.listOf(Gen.oneOf(
    Gen.choose(0, 0x7f),
    Gen.choose(0x80, 0x7ff),
    Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xffff)),
    Gen.choose(0x10000, 0x10ffff))).map { cps =>
    new String(cps.flatMap(cp => Character.toChars(cp)).toArray).getBytes(UTF_8)
  }

  /** Any bytes, mostly malformed UTF-8. */
  private val random: Gen[Array[Byte]] = Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte])

  /** ASCII whose one high byte sits past the last full eight-byte word. */
  private val highTail: Gen[Array[Byte]] = for {
    words <- Gen.choose(0, 6)
    tail <- Gen.choose(1, 7)
    at <- Gen.choose(0, tail - 1)
    high <- Gen.choose(0x80, 0xff)
    b <- Gen.containerOfN[Array, Byte](8 * words + tail, Gen.choose(32, 126).map(_.toByte))
  } yield { b(8 * words + at) = high.toByte; b }

  private val texts: Gen[Array[Byte]] =
    Gen.oneOf(ascii, utf8, random, highTail, Gen.const(Array.emptyByteArray))

  property("charCount equals numChars on byte[] and long[] bases at any offset") =
    forAll(texts, Gen.choose(0, 15)) { (text, off) =>
      val expected = UTF8String.fromBytes(text.clone()).numChars
      val bytes = new Array[Byte](off + text.length + 3)
      System.arraycopy(text, 0, bytes, off, text.length)
      val longs = new Array[Long]((off + text.length) / 8 + 1)
      Platform.copyMemory(text, Platform.BYTE_ARRAY_OFFSET, longs,
        Platform.LONG_ARRAY_OFFSET + off, text.length)
      Seq(
        UTF8String.fromBytes(text),
        UTF8String.fromBytes(bytes, off, text.length),
        UTF8String.fromAddress(longs, Platform.LONG_ARRAY_OFFSET + off, text.length))
        .forall(s => SketchEval.charCount(s) == expected)
    }
}
