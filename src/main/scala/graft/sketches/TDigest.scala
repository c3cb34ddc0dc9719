package graft.sketches

import java.nio.ByteBuffer

/**
 * Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate Quantiles
 * Using t-Digests", 2019). Centroids are kept sorted by mean; a buffer of
 * incoming points is periodically merge-compressed under the k1 scale
 * function k(q) = (delta / 2pi) * asin(2q - 1), which concentrates capacity
 * at the distribution tails (relative rank accuracy ~ q(1-q)/delta).
 *
 * Merge = feed the other digest's centroids through the same compression;
 * commutative up to interpolation error, with rank error bounds preserved.
 */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var totalVar: Double,
    private var minVar: Double,
    private var maxVar: Double)
    extends Serializable {

  // Insertion buffer: starts empty and doubles up to bufferCap, so a digest
  // that is only decoded, merged or encoded never allocates one. It is
  // flushed exactly when bufLen reaches bufferCap, whatever its capacity.
  private val bufferCap = math.max(64, (5 * compression).toInt)
  private var bufMeans = TDigest.NoDoubles
  private var bufWeights = TDigest.NoDoubles
  private var bufLen = 0

  def totalWeight: Double = { flush(); totalVar }
  def min: Double = minVar
  def max: Double = maxVar
  def isEmpty: Boolean = totalVar == 0 && bufLen == 0

  def add(x: Double, w: Double = 1.0): this.type = {
    require(!x.isNaN, "value must not be NaN")
    require(w > 0)
    if (bufLen == bufferCap) flush()
    if (bufLen == bufMeans.length) growBuffer()
    bufMeans(bufLen) = x
    bufWeights(bufLen) = w
    bufLen += 1
    if (x < minVar) minVar = x
    if (x > maxVar) maxVar = x
    this
  }

  def merge(other: TDigest): this.type = {
    other.flush()
    var i = 0
    while (i < other.nCentroids) {
      add(other.means(i), other.weights(i))
      i += 1
    }
    if (other.minVar < minVar) minVar = other.minVar
    if (other.maxVar > maxVar) maxVar = other.maxVar
    this
  }

  private def growBuffer(): Unit = {
    val cap = math.min(bufferCap, math.max(16, 2 * bufMeans.length))
    bufMeans = java.util.Arrays.copyOf(bufMeans, cap)
    bufWeights = java.util.Arrays.copyOf(bufWeights, cap)
  }

  private def scale(q: Double): Double =
    compression / (2 * math.Pi) * math.asin(2 * math.max(0.0, math.min(1.0, q)) - 1)

  /** Merge-compress centroids + buffer under the k1 size limit. */
  private def flush(): Unit = {
    if (bufLen == 0) return
    val n = nCentroids + bufLen
    val ms = new Array[Double](n)
    val ws = new Array[Double](n)
    System.arraycopy(means, 0, ms, 0, nCentroids)
    System.arraycopy(weights, 0, ws, 0, nCentroids)
    System.arraycopy(bufMeans, 0, ms, nCentroids, bufLen)
    System.arraycopy(bufWeights, 0, ws, nCentroids, bufLen)
    bufLen = 0
    // sort (mean, weight) pairs by mean
    val order = TDigest.stableOrder(ms, n)
    val sm = new Array[Double](n)
    val sw = new Array[Double](n)
    var total = 0.0
    var j = 0
    while (j < n) {
      sm(j) = ms(order(j))
      sw(j) = ws(order(j))
      total += sw(j)
      j += 1
    }
    val outM = new Array[Double](n)
    val outW = new Array[Double](n)
    var out = 0
    var soFar = 0.0
    var curM = sm(0)
    var curW = sw(0)
    var kLeft = scale(0.0)
    var i = 1
    while (i < n) {
      val proposedW = curW + sw(i)
      val qRight = (soFar + proposedW) / total
      if (scale(qRight) - kLeft <= 1.0) {
        // absorb into the current centroid (weighted mean)
        curM += (sm(i) - curM) * sw(i) / proposedW
        curW = proposedW
      } else {
        outM(out) = curM
        outW(out) = curW
        out += 1
        soFar += curW
        kLeft = scale(soFar / total)
        curM = sm(i)
        curW = sw(i)
      }
      i += 1
    }
    outM(out) = curM
    outW(out) = curW
    out += 1
    means = java.util.Arrays.copyOf(outM, out)
    weights = java.util.Arrays.copyOf(outW, out)
    nCentroids = out
    totalVar = total
  }

  /** Quantile estimate by piecewise-linear interpolation over centroid
   * midpoints, exact at the recorded min/max. */
  def quantile(q: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val targetRank = q * totalVar
    if (targetRank <= 0.5) return minVar
    if (targetRank >= totalVar - 0.5) return maxVar
    // cumulative midpoint of centroid i
    var cum = 0.0
    var i = 0
    var prevMid = 0.5 // midpoint rank of a virtual min point
    var prevMean = minVar
    while (i < nCentroids) {
      val mid = cum + weights(i) / 2
      if (targetRank < mid) {
        val frac = (targetRank - prevMid) / (mid - prevMid)
        return prevMean + frac * (means(i) - prevMean)
      }
      cum += weights(i)
      prevMid = mid
      prevMean = means(i)
      i += 1
    }
    val frac = (targetRank - prevMid) / (totalVar - 0.5 - prevMid)
    prevMean + frac * (maxVar - prevMean)
  }

  /** Approximate CDF: fraction of recorded mass <= x. */
  def cdf(x: Double): Double = {
    flush()
    if (nCentroids == 0) return Double.NaN
    if (x < minVar) return 0.0
    if (x >= maxVar) return 1.0
    var cum = 0.0
    var prevMid = 0.5
    var prevMean = minVar
    var i = 0
    while (i < nCentroids) {
      val mid = cum + weights(i) / 2
      if (x < means(i)) {
        val frac = if (means(i) == prevMean) 0.0 else (x - prevMean) / (means(i) - prevMean)
        return (prevMid + frac * (mid - prevMid)) / totalVar
      }
      cum += weights(i)
      prevMid = mid
      prevMean = means(i)
      i += 1
    }
    (prevMid + (x - prevMean) / (maxVar - prevMean) * (totalVar - 0.5 - prevMid)) / totalVar
  }

  def centroidCount: Int = { flush(); nCentroids }

  def toBytes: Array[Byte] = {
    flush()
    val buf = ByteBuffer.allocate(8 + 4 + 8 * 3 + nCentroids * 16)
    buf.putDouble(compression).putInt(nCentroids)
    buf.putDouble(totalVar).putDouble(minVar).putDouble(maxVar)
    var i = 0
    while (i < nCentroids) {
      buf.putDouble(means(i)).putDouble(weights(i))
      i += 1
    }
    buf.array()
  }
}

object TDigest {

  private val NoDoubles = new Array[Double](0)

  /** Indices 0 until n ordered by `keys` under `java.lang.Double.compare`
   * (-0.0 before 0.0), ties kept in index order: the order a stable sort
   * by the total `Double` ordering gives, without boxing. Bottom-up merge
   * sort over two index arrays. */
  private[sketches] def stableOrder(keys: Array[Double], n: Int): Array[Int] = {
    var src = new Array[Int](n)
    var dst = new Array[Int](n)
    var i = 0
    while (i < n) {
      src(i) = i
      i += 1
    }
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var k = lo
        while (k < hi) {
          if (b >= hi || (a < mid && java.lang.Double.compare(keys(src(a)), keys(src(b))) <= 0)) {
            dst(k) = src(a)
            a += 1
          } else {
            dst(k) = src(b)
            b += 1
          }
          k += 1
        }
        lo = hi
      }
      val t = src
      src = dst
      dst = t
      width *= 2
    }
    src
  }

  def apply(compression: Double = 100.0): TDigest = {
    require(compression >= 10)
    new TDigest(
      compression,
      new Array[Double](0),
      new Array[Double](0),
      0,
      0.0,
      Double.PositiveInfinity,
      Double.NegativeInfinity)
  }

  def fromBytes(bytes: Array[Byte]): TDigest = {
    require(bytes.length >= 36, "corrupt t-digest payload (header)")
    val buf = ByteBuffer.wrap(bytes)
    val compression = buf.getDouble
    val n = buf.getInt
    val total = buf.getDouble
    val minV = buf.getDouble
    val maxV = buf.getDouble
    require(n >= 0 && n.toLong * 16 <= buf.remaining, "corrupt t-digest payload (count)")
    val ms = new Array[Double](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) {
      ms(i) = buf.getDouble
      ws(i) = buf.getDouble
      i += 1
    }
    new TDigest(compression, ms, ws, n, total, minV, maxV)
  }
}
