package graft.sketches

import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer

/**
 * KLL streaming quantile sketch (Karnin, Lang, Liberty, "Optimal Quantile
 * Approximation in Streams", FOCS 2016). A hierarchy of compactors: level h
 * holds items each representing 2^h inputs; a full level sorts itself and
 * promotes every other item (random offset) to level h+1. Capacities shrink
 * geometrically (c = 2/3) below the top level, giving O(k * log log(1/d))
 * space and normalized rank error ~ 1/k with high probability.
 *
 * Merge concatenates levels and re-compacts; associative in distribution
 * (rank-error bounds are preserved under any merge tree).
 */
final class Kll private (
    val k: Int,
    private var compactors: ArrayBuffer[Kll.Level],
    private var totalVar: Long,
    private var coinState: Long)
    extends Serializable {

  private val c = 2.0 / 3.0

  def total: Long = totalVar
  def isEmpty: Boolean = totalVar == 0
  def numLevels: Int = compactors.length

  private def capacity(level: Int): Int = {
    val depth = compactors.length - level - 1
    math.max(2, math.ceil(k * math.pow(c, depth.toDouble)).toInt)
  }

  private def size: Int = {
    var n = 0
    var level = 0
    while (level < compactors.length) {
      n += compactors(level).length
      level += 1
    }
    n
  }

  // capacities depend only on the level count, so their sum is cached per count
  private var capTotalLevels = -1
  private var capTotal = 0
  private def capacityTotal: Int = {
    if (capTotalLevels != compactors.length) {
      var sum = 0
      var level = 0
      while (level < compactors.length) {
        sum += capacity(level)
        level += 1
      }
      capTotal = sum
      capTotalLevels = compactors.length
    }
    capTotal
  }

  /** Deterministic pseudo-random coin (splitmix64 step over internal state):
   * reproducible for a fixed insertion order, unbiased across compactions. */
  private def coin(): Boolean = {
    coinState += 0x9e3779b97f4a7c15L
    var z = coinState
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) < 0
  }

  def add(x: Double): this.type = {
    require(!x.isNaN, "value must not be NaN")
    compactors(0) += x
    totalVar += 1
    if (size > capacityTotal) compress()
    this
  }

  private def compress(): Unit = {
    var level = 0
    var done = false
    while (!done && level < compactors.length) {
      val cur = compactors(level)
      if (cur.length >= capacity(level)) {
        if (level + 1 == compactors.length) compactors += new Kll.Level
        cur.sort()
        val sorted = cur.items
        val n = cur.length
        // compact an even-length range so total weight is conserved exactly;
        // an odd count retains one edge item (random edge) at this level
        var evenStart = 0
        var evenEnd = n
        var retained = 0.0
        if (n % 2 == 1) {
          if (coin()) { retained = sorted(0); evenStart = 1 }
          else { retained = sorted(n - 1); evenEnd = n - 1 }
        }
        val offset = if (coin()) 1 else 0
        val next = compactors(level + 1)
        var i = evenStart + offset
        while (i < evenEnd) {
          next += sorted(i)
          i += 2
        }
        cur.length = 0
        if (n % 2 == 1) cur += retained
        done = true
      }
      level += 1
    }
  }

  def merge(other: Kll): this.type = {
    require(k == other.k, "k mismatch")
    while (compactors.length < other.compactors.length) {
      compactors += new Kll.Level
    }
    var level = 0
    while (level < other.compactors.length) {
      compactors(level) ++= other.compactors(level)
      level += 1
    }
    totalVar += other.totalVar
    coinState ^= other.coinState * 0x9e3779b97f4a7c15L
    while (size > capacityTotal) compress()
    this
  }

  /** All (value, weight) pairs, sorted by value. */
  private def weighted: Array[(Double, Long)] = {
    val out = new ArrayBuffer[(Double, Long)](size)
    var level = 0
    while (level < compactors.length) {
      val w = 1L << level
      val cc = compactors(level)
      var i = 0
      while (i < cc.length) {
        out += ((cc.items(i), w))
        i += 1
      }
      level += 1
    }
    out.sortInPlace()(Ordering.by(_._1))
    out.toArray
  }

  /** Value at normalized rank q (0..1). */
  def quantile(q: Double): Double = {
    if (isEmpty) return Double.NaN
    val items = weighted
    val target = math.max(0L, math.min(totalVar - 1, math.round(q * (totalVar - 1)).toLong))
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum > target) return items(i)._1
      i += 1
    }
    items.last._1
  }

  /** Estimated number of recorded values <= x. */
  def rank(x: Double): Long = {
    var r = 0L
    var level = 0
    while (level < compactors.length) {
      val w = 1L << level
      val cc = compactors(level)
      var i = 0
      while (i < cc.length) {
        if (cc.items(i) <= x) r += w
        i += 1
      }
      level += 1
    }
    r
  }

  def toBytes: Array[Byte] = {
    val n = size
    val buf = ByteBuffer.allocate(4 + 8 + 8 + 4 + compactors.length * 4 + n * 8)
    buf.putInt(k).putLong(totalVar).putLong(coinState).putInt(compactors.length)
    compactors.foreach(cc => buf.putInt(cc.length))
    compactors.foreach { cc =>
      var i = 0
      while (i < cc.length) {
        buf.putDouble(cc.items(i))
        i += 1
      }
    }
    buf.array()
  }
}

object Kll {

  /** One compactor: a growable array of unboxed doubles. */
  private[sketches] final class Level(var items: Array[Double], var length: Int)
      extends Serializable {
    def this() = this(new Array[Double](0), 0)

    private def reserve(n: Int): Unit =
      if (n > items.length) items = java.util.Arrays.copyOf(items, math.max(n, 2 * items.length))

    def +=(x: Double): Unit = {
      reserve(length + 1)
      items(length) = x
      length += 1
    }

    def ++=(other: Level): Unit = {
      val n = other.length
      val src = other.items
      reserve(length + n)
      System.arraycopy(src, 0, items, length, n)
      length += n
    }

    /** Ascending under the total `Double` order (-0.0 before 0.0). */
    def sort(): Unit = java.util.Arrays.sort(items, 0, length)
  }

  def apply(k: Int = 200): Kll = {
    require(k >= 8)
    new Kll(k, ArrayBuffer(new Level), 0L, 0x243f6a8885a308d3L)
  }

  def fromBytes(bytes: Array[Byte]): Kll = {
    require(bytes.length >= 24, "corrupt KLL payload (header)")
    val buf = ByteBuffer.wrap(bytes)
    val k = buf.getInt
    val total = buf.getLong
    val coinState = buf.getLong
    val nLevels = buf.getInt
    require(nLevels >= 0 && nLevels.toLong * 4 <= buf.remaining, "corrupt KLL payload (levels)")
    val sizes = new Array[Int](nLevels)
    var items = 0L
    var i = 0
    while (i < nLevels) {
      sizes(i) = buf.getInt
      require(sizes(i) >= 0, "corrupt KLL payload (level size)")
      items += sizes(i)
      i += 1
    }
    require(items * 8 <= buf.remaining, "corrupt KLL payload (count)")
    val compactors = new ArrayBuffer[Level](nLevels)
    i = 0
    while (i < nLevels) {
      val a = new Array[Double](sizes(i))
      var j = 0
      while (j < a.length) {
        a(j) = buf.getDouble
        j += 1
      }
      compactors += new Level(a, a.length)
      i += 1
    }
    new Kll(k, compactors, total, coinState)
  }
}
