package graft

import graft.core._

/**
 * Kernel-only recording-speed probe — no Spark, directly comparable to the
 * reference's JMH recording benchmarks (dynahist README.md:86-88,
 * `AbstractRecordingSpeedBenchmark.java:29-59`): 1M values drawn from a
 * reciprocal (log-uniform) distribution on [1e3, 1e12] (`Constants.java:
 * 19-21`: MIN=1000, RANGE=1e9), pre-generated in memory, recorded into a
 * fresh histogram per round; layouts configured at absolute error 10,
 * relative 1% over [0, 1e12]. Reports min-of-rounds ns/value for the
 * histogram grown on demand (plain) and the one preallocated over the whole
 * layout (static), their resident footprints, and the per-group footprint
 * at high group cardinality.
 *
 * Run: `sbt -batch "runMain graft.RecordingSpeed"`.
 */
object RecordingSpeed {

  private val N = 1000000
  private val Rounds = 12
  private val Warmup = 4

  private def reciprocalValues(seed: Long): Array[Double] = {
    val rnd = new java.util.SplittableRandom(seed)
    val lnRange = math.log(1e9)
    Array.fill(N)(1000.0 * math.exp(rnd.nextDouble() * lnRange))
  }

  private def timeNsPerValue(values: Array[Double], mk: () => Histogram): (Double, Histogram) = {
    var best = Double.MaxValue
    var last: Histogram = null
    var r = 0
    while (r < Warmup + Rounds) {
      val h = mk()
      val t0 = System.nanoTime()
      var i = 0
      while (i < values.length) { h.addValue(values(i)); i += 1 }
      val dt = (System.nanoTime() - t0).toDouble / values.length
      if (r >= Warmup && dt < best) best = dt
      last = h
      r += 1
    }
    (best, last)
  }

  def main(args: Array[String]): Unit = {
    val values = reciprocalValues(42L)
    val layouts: Seq[(String, () => Layout)] = Seq(
      "LogLinear" -> (() => LogLinearLayout(10, 0.01, 0, 1e12)),
      "LogQuadratic" -> (() => LogQuadraticLayout(10, 0.01, 0, 1e12)),
      "LogOptimal" -> (() => LogOptimalLayout(10, 0.01, 0, 1e12)),
      "OTelExp(scale=4)" -> (() => OtelExponentialLayout(4)))

    println(f"${"layout"}%-18s ${"buffer"}%-8s ${"ns/value"}%10s ${"footprint B"}%12s")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    layouts.foreach { case (name, mkLayout) =>
      val layout = mkLayout()
      val (nsStatic, hStatic) = timeNsPerValue(values, () => Histogram.static(layout))
      val (nsPlain, hPlain) = timeNsPerValue(values, () => Histogram(layout))
      require(hPlain == hStatic, s"$name: buffer variants disagree")
      println(f"$name%-18s ${"static"}%-8s $nsStatic%10.2f ${hStatic.estimatedFootprintBytes}%12d")
      println(f"$name%-18s ${"plain"}%-8s $nsPlain%10.2f ${hPlain.estimatedFootprintBytes}%12d")
      results(s"${name}_static_ns") = nsStatic
      results(s"${name}_plain_ns") = nsPlain
      results(s"${name}_plain_bytes") = hPlain.estimatedFootprintBytes.toDouble
    }

    // high-group-cardinality memory: 10^6 sparse per-group buffers (the
    // ObjectHashAggregate resident-state shape), 20 values each
    val layout = LogQuadraticLayout(10, 0.01, 0, 1e12)
    val rnd = new java.util.SplittableRandom(7L)
    val lnRange = math.log(1e9)
    val groups = 1000000
    var total = 0L
    var g = 0
    while (g < groups) {
      val h = Histogram(layout)
      var i = 0
      while (i < 20) { h.addValue(1000.0 * math.exp(rnd.nextDouble() * lnRange)); i += 1 }
      total += h.estimatedFootprintBytes
      g += 1
    }
    val plainPerGroup = total.toDouble / groups
    println(f"per-group buffer bytes at 10^6 groups x 20 values: plain=$plainPerGroup%.1f")
    results("group_buffer_plain_bytes") = plainPerGroup

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    val json = results.map { case (k, v) =>
      s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"""
    }.mkString(",")
    println(s"""{"metric":"kernel_recording","n":$N,$json}""")
  }
}
