package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sketches._
import graft.spark.functions._

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class AggregatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  private val layout: Layout = LogQuadraticLayout(1e-5, 1e-2, 0, 1e9)

  test("hist_sketch over a grouped column matches a single-threaded kernel sketch") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(1L)
    val rows = (0 until 20000).map(i => (s"g${i % 3}", math.exp(rnd.nextDouble() * 10)))
    val df = rows.toDF("g", "v").repartition(7)
    val out = df
      .groupBy($"g")
      .agg(hist_sketch($"v", layout).as("sk"))
      .select($"g", $"sk")
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val expected = Histogram(layout)
      rows.filter(_._1 == g).foreach(r => expected.addValue(r._2))
      val got = SketchEnvelope.fromBytes(out(g))
      assert(got == expected, s"group $g sketch differs from kernel")
    }
  }

  test("partition-count invariance: identical bytes at 1 and 32 partitions") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(2L)
    val rows = (0 until 50000).map(_ => rnd.nextDouble() * 1e6)
    val df = rows.toDF("v")
    def bytesAt(parts: Int): Array[Byte] =
      df.repartition(parts)
        .agg(hist_sketch($"v", layout))
        .collect()(0)
        .getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bytesAt(1), bytesAt(32)))
  }

  test("hist scalar functions: total/min/max/quantile/bins") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(3L)
    val vs = (0 until 10000).map(_ => 1.0 + rnd.nextDouble() * 999.0)
    val df = vs.toDF("v")
    val row = df
      .agg(hist_sketch($"v", layout).as("sk"))
      .select(
        hist_total($"sk").as("n"),
        hist_min($"sk").as("mn"),
        hist_max($"sk").as("mx"),
        hist_quantile($"sk", 0.5).as("p50"),
        size(hist_bins($"sk")).as("nbins"))
      .collect()(0)
    assert(row.getLong(0) == vs.size.toLong)
    assert(row.getDouble(1) == vs.min && row.getDouble(2) == vs.max)
    val exact = vs.sorted.apply(vs.size / 2)
    assert(math.abs(row.getDouble(3) - exact) / exact < 0.011)
    assert(row.getInt(4) > 10)
  }

  test("hist_merge re-aggregates partial sketches (salted two-phase)") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(4L)
    val rows = (0 until 30000).map(i => (s"k${i % 2}", rnd.nextDouble() * 100))
    val df = rows.toDF("k", "v")
    val direct = df.groupBy($"k").agg(hist_sketch($"v", layout).as("sk"))
    val salted = df
      .withColumn("salt", pmod(hash($"v"), lit(8)))
      .groupBy($"k", $"salt")
      .agg(hist_sketch($"v", layout).as("partial"))
      .groupBy($"k")
      .agg(hist_merge($"partial").as("sk"))
    val d = direct.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val s = salted.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    for (k <- Seq("k0", "k1")) {
      assert(java.util.Arrays.equals(d(k), s(k)), s"salted != direct for $k")
    }
  }

  test("hll/cms/bloom/tdigest/kll aggregators work end-to-end with bounds") {
    import spark.implicits._
    val n = 20000
    val df = spark
      .range(n.toLong)
      .select(
        col("id"),
        concat(lit("user-"), col("id") % 1000).as("u"),
        (col("id") % 7).cast("string").as("cat"),
        rand(5).multiply(1000.0).as("v"))
    val row = df
      .agg(
        hll_sketch($"u").as("hll"),
        cms_sketch($"cat").as("cms"),
        bloom_sketch($"id", 30000).as("bloom"),
        tdigest_sketch($"v").as("td"),
        kll_sketch($"v").as("kll"))
      .select(
        hll_estimate($"hll").as("distinct_est"),
        cms_estimate($"cms", lit("3")).as("cat3"),
        bloom_might_contain($"bloom", lit(17L)).as("has17"),
        bloom_might_contain($"bloom", lit(-1L)).as("hasNeg"),
        tdigest_quantile($"td", 0.5).as("tdp50"),
        kll_quantile($"kll", 0.5).as("kllp50"))
      .collect()(0)
    assert(math.abs(row.getDouble(0) - 1000) / 1000.0 < 0.05, s"hll=${row.getDouble(0)}")
    val exactCat3 = (0 until n).count(_ % 7 == 3)
    assert(row.getLong(1) >= exactCat3 && row.getLong(1) <= exactCat3 + n / 100)
    assert(row.getBoolean(2), "bloom false negative")
    // p50 of uniform(0,1000) ~ 500
    assert(math.abs(row.getDouble(4) - 500.0) < 25.0, s"tdigest p50=${row.getDouble(4)}")
    assert(math.abs(row.getDouble(5) - 500.0) < 25.0, s"kll p50=${row.getDouble(5)}")
  }

  test("hist_rebin to a custom layout preserves totals; weighted sketch works") {
    import spark.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val row = df
      .agg(hist_sketch($"v", layout).as("sk"))
      .select(hist_total(hist_rebin($"sk", CustomLayout(0.0, 250.0, 500.0, 750.0, 1000.0))))
      .collect()(0)
    assert(row.getLong(0) == 1000L)
    val wrow = (1 to 100)
      .map(i => (i.toDouble, 5L))
      .toDF("v", "w")
      .agg(hist_sketch_weighted($"v", $"w", layout).as("sk"))
      .select(hist_total($"sk"))
      .collect()(0)
    assert(wrow.getLong(0) == 500L)
  }

  test("sketch aggregators compose with rollup/cube grouping sets") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(6L)
    val rows = (0 until 9000).map(i => (s"a${i % 2}", s"b${i % 3}", rnd.nextDouble() * 100))
    val df = rows.toDF("x", "y", "v")
    val out = df
      .rollup($"x", $"y")
      .agg(hist_sketch($"v", layout).as("sk"))
      .select($"x", $"y", hist_total($"sk").as("n"))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2))
      .toMap
    // grand total, per-x subtotals, and (x, y) cells all present and exact
    assert(out((None, None)) == 9000L)
    assert(out((Some("a0"), None)) == 4500L)
    assert(out((Some("a1"), Some("b2"))) == rows.count(r => r._1 == "a1" && r._2 == "b2"))
    assert(out.size == 1 + 2 + 6)
  }

  test("SQL registration surfaces sketch functions to spark.sql") {
    registerAll(spark)
    spark.range(1000).createOrReplaceTempView("t")
    val r = spark
      .sql("""SELECT hist_quantile(hist_sketch(CAST(id AS DOUBLE)), 0.5) AS p50,
                     hll_estimate(hll_sketch(CAST(id % 100 AS STRING))) AS d
              FROM t""")
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 500.0) < 10)
    assert(math.abs(r.getDouble(1) - 100.0) < 5)
  }

  test("estimator-parameterized rank/quantile queries bracket the true order stat") {
    import spark.implicits._
    val layout = graft.core.LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val rnd = new java.util.SplittableRandom(29L)
    val vs = Array.fill(10000)(rnd.nextDouble(1.0, 9e5))
    val sorted = vs.sorted
    val rank = 4321L
    val r = vs.toSeq
      .toDF("v")
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(
        hist_value_at_rank(col("sk"), lit(rank), "lower_bound").as("lo"),
        hist_value_at_rank(col("sk"), lit(rank), "upper_bound").as("hi"),
        hist_value_at_rank(col("sk"), lit(rank), "mid_point").as("mid"),
        hist_quantile(col("sk"), 0.5, 0.4, 0.4).as("q_scipy"),
        hist_quantile(col("sk"), 0.5).as("q_default"))
      .collect()(0)
    val exact = sorted(rank.toInt)
    assert(r.getDouble(0) <= exact && exact <= r.getDouble(1),
      s"[lo,hi]=[${r.getDouble(0)},${r.getDouble(1)}] does not bracket $exact")
    assert(r.getDouble(2) >= r.getDouble(0) && r.getDouble(2) <= r.getDouble(1))
    // explicit SciPy(0.4,0.4) equals the default quantile estimator
    assert(r.getDouble(3) == r.getDouble(4))
  }

  test("two-level rollup via *_merge equals direct aggregation for every sketch") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(17L)
    val rows = (0 until 30000).map { i =>
      (s"day${i % 7}", s"user${rnd.nextInt(2000)}", rnd.nextInt(100000).toLong,
        rnd.nextDouble() * 1e4)
    }
    val df = rows.toDF("day", "user", "key", "v").repartition(8)
    // phase 1: per-day sketches; phase 2: merge the stored sketch columns
    val daily = df
      .groupBy(col("day"))
      .agg(
        hll_sketch(col("user")).as("hll"),
        cms_sketch(col("user")).as("cms"),
        bloom_sketch(col("key"), 100000).as("bloom"),
        tdigest_sketch(col("v")).as("td"),
        kll_sketch(col("v")).as("kll"))
      .localCheckpoint()
    val merged = daily.agg(
      hll_merge(col("hll")).as("hll"),
      cms_merge(col("cms")).as("cms"),
      bloom_merge(col("bloom")).as("bloom"),
      tdigest_merge(col("td")).as("td"),
      kll_merge(col("kll")).as("kll"))
      .collect()(0)
    val direct = df.agg(
      hll_sketch(col("user")).as("hll"),
      cms_sketch(col("user")).as("cms"),
      bloom_sketch(col("key"), 100000).as("bloom"),
      tdigest_sketch(col("v")).as("td"),
      kll_sketch(col("v")).as("kll"))
      .collect()(0)
    // HLL (register max), CMS (addition), Bloom (bit OR) are merge-order
    // invariant: byte-identical to the direct aggregation
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]](0), direct.getAs[Array[Byte]](0)))
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]](1), direct.getAs[Array[Byte]](1)))
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]](2), direct.getAs[Array[Byte]](2)))
    // t-digest / KLL merges are internally order-sensitive; their ERROR
    // BOUNDS hold: compare quantiles of merged vs exact ranks
    val exactSorted = rows.map(_._4).sorted
    def rankOf(x: Double): Double =
      exactSorted.count(_ <= x).toDouble / exactSorted.size
    val tdQ = graft.sketches.TDigest.fromBytes(merged.getAs[Array[Byte]](3)).quantile(0.5)
    assert(math.abs(rankOf(tdQ) - 0.5) <= 0.02, s"t-digest merged p50 rank ${rankOf(tdQ)}")
    val kllQ = graft.sketches.Kll.fromBytes(merged.getAs[Array[Byte]](4)).quantile(0.5)
    assert(math.abs(rankOf(kllQ) - 0.5) <= 0.02, s"KLL merged p50 rank ${rankOf(kllQ)}")
  }

  test("weighted CMS equals unweighted repetition, byte-identically") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(23L)
    val weighted = (0 until 2000).map(i => (s"item${i % 50}", 1L + rnd.nextInt(20)))
    val expanded = weighted.flatMap { case (s, w) => Seq.fill(w.toInt)(s) }
    val a = weighted
      .toDF("item", "w")
      .agg(cms_sketch_weighted(org.apache.spark.sql.functions.col("item"),
        org.apache.spark.sql.functions.col("w")))
      .collect()(0)
      .getAs[Array[Byte]](0)
    val b = expanded
      .toDF("item")
      .agg(cms_sketch(org.apache.spark.sql.functions.col("item")))
      .collect()(0)
      .getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
    val cm = graft.sketches.CountMin.fromBytes(a)
    val exact = expanded.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (item, n) => assert(cm.estimateString(item) >= n) }
  }

  test("KLL merge: rank bounds are partition-invariant even when bytes are not") {
    // The KLL compaction schedule depends on merge interleaving (the coin
    // state merges XOR-commutatively, but compress timing is order-
    // sensitive), so sketch BYTES at 1 vs 32 partitions may legitimately
    // differ. What IS invariant — and what this test pins down — is the
    // normalized rank guarantee, which holds under ANY merge tree.
    // Documented in SURVEY.md §2.1b.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new java.util.SplittableRandom(13L)
    val vs = Array.fill(60000)(rnd.nextDouble() * 1e6)
    val sorted = vs.sorted
    val df = vs.toSeq.toDF("v")
    for (parts <- Seq(1, 32)) {
      val bytes = df
        .repartition(parts)
        .agg(kll_sketch(col("v"), 200))
        .collect()(0)
        .getAs[Array[Byte]](0)
      val k = graft.sketches.Kll.fromBytes(bytes)
      for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
        val est = k.quantile(p)
        val rank = sorted.count(_ <= est).toDouble / vs.length
        assert(math.abs(rank - p) <= 0.015, s"parts=$parts p=$p rank=$rank")
      }
    }
  }

  test("exactOrderStatistics matches a local sort at every requested rank " +
    "(skewed groups, ties, many narrow partitions)") {
    import spark.implicits._
    // the q03/q24/q25 exact-oracle machinery: range-partitioned sort + two
    // mapPartitions passes. Skewed group sizes force groups to straddle
    // partition boundaries; duplicated values exercise tie handling; the
    // rank set hits both endpoints and interior ranks per group.
    val rnd = new java.util.SplittableRandom(77L)
    val rows = Seq.tabulate(20000) { i =>
      val g = if (i % 100 < 85) "big" else if (i % 100 < 97) "mid" else "tiny"
      (g, math.floor(rnd.nextDouble() * 500) / 10.0) // ~5000 distinct values: ties
    }
    val df = rows.toDF("g", "v").repartition(13)
    def ranksFor(n: Long): Seq[Long] = Seq(0L, 1L, n / 3, n / 2, n - 2, n - 1)
    val (groupN, hits) = graft.SparkEntry.exactOrderStatistics(df, "g", "v", ranksFor)
    val expectedN = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(groupN == expectedN)
    val sortedByGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq)
    for ((g, n) <- expectedN; r <- ranksFor(n).filter(r => r >= 0 && r < n).distinct) {
      assert(hits((g, r)) == sortedByGroup(g)(r.toInt), s"group=$g rank=$r")
    }
    // every emitted hit is a requested (group, rank)
    val wanted = expectedN.toSeq.flatMap { case (g, n) =>
      ranksFor(n).filter(r => r >= 0 && r < n).map(r => (g, r))
    }.toSet
    assert(hits.keySet == wanted)
  }

  test("exactOrderStatistics fails in pass 1 when a partition holds too many groups") {
    import spark.implicits._
    val limit = graft.SparkEntry.MaxRunsPerPartition
    val df = (0 to limit).map(i => (f"g$i%06d", i.toDouble)).toDF("g", "v")
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1") // all limit + 1 groups in one partition
    try {
      val e = intercept[org.apache.spark.SparkException] {
        graft.SparkEntry.exactOrderStatistics(df, "g", "v", n => Seq(0L, n - 1))
      }
      assert(e.getMessage.contains(s"holds more than $limit groups of g"), e.getMessage)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }
}
