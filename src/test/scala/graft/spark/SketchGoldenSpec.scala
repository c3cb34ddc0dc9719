package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.spark.functions._

/**
 * Every sketch aggregate's per-group output bytes, pinned to SHA-256 goldens
 * (see [[Goldens]]) under three physical plans:
 *
 *  - `whole`: input hash-partitioned by the group key, so each group has
 *    exactly one partial buffer;
 *  - `split`: input partitioned by turn index, so every group's rows are
 *    spread over several partials that cross the shuffle and merge (each
 *    partial task holds most of the 400 groups, past Spark's default
 *    128-group threshold, so its last groups already take the sort path);
 *  - `fallback`: `split` with the object-hash aggregate forced onto its
 *    sort-based path after two groups (buffers are serialized, sorted and
 *    merged back mid-partition).
 *
 * Adaptive partition coalescing is off for every plan: it sizes the final
 * stage from the shuffled bytes, so a smaller partial buffer would
 * otherwise change the number of final tasks, hence how many groups one
 * task holds, whether it falls back to sorting, and so the merge order —
 * which the t-digest and KLL bytes depend on.
 *
 * Inputs: 400 synthesized conversations (seed 11, one hot conversation of
 * 4000 turns), grouped by `conv_id`.
 *
 * The `partial.*` goldens pin the bytes one partial buffer serializes to
 * (what a shuffle or a streaming state store holds), built by `update`
 * over seeded rows without running a job.
 */
class SketchGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val convLayout: Layout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)
  private val wideLayout: Layout = LogQuadraticLayout(1e-5, 1e-2, -1e6, 1e6)
  private val Plans = Seq("whole", "split", "fallback")
  private val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  private lazy val turns: DataFrame = Transcripts
    .synthesize(spark, 400, seed = 11L, maxTextLen = 1000)
    .select(
      col("conv_id").as("g"), col("text"), col("tool"), col("turn_idx"),
      length(col("text")).cast("double").as("len"),
      (col("turn_idx") % 5 + 1).cast("long").as("w"))
    .localCheckpoint()

  private def planned(plan: String): DataFrame = plan match {
    case "whole" => turns.repartition(4, col("g"))
    case _       => turns.repartition(4, col("turn_idx"))
  }

  private def withPlan[T](plan: String)(body: => T): T = {
    val confs = Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false") ++
      (if (plan == "fallback") Map(FallbackKey -> "2") else Map.empty)
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** name -> (group -> bytes) for each named aggregate, in one pass. */
  private def perGroup(df: DataFrame, aggs: Seq[(String, Column)])
      : Map[String, Seq[(String, Array[Byte])]] = {
    val cols = aggs.map { case (n, c) => c.as(n) }
    val rows = df.groupBy(col("g")).agg(cols.head, cols.tail: _*).collect()
    aggs.zipWithIndex.map { case ((n, _), i) =>
      n -> rows.toSeq.map(r => r.getString(0) -> r.getAs[Array[Byte]](i + 1))
    }.toMap
  }

  private def verify(results: Seq[(String, Seq[(String, Array[Byte])])]): Unit = {
    val bad = results.collect {
      case (name, groups) if !Goldens.expected(name).contains(Goldens.digest(groups)) =>
        s"$name ${Goldens.digest(groups)}"
    }
    assert(bad.isEmpty, bad.mkString("golden mismatches:\n", "\n", ""))
  }

  /** The DSL aggregates: library defaults, the conv_sketches parameters,
   * the packed and weighted forms, and integral inputs that the DSL casts
   * (string for hll/cms, long for bloom, double for the value sketches). */
  private def sketchAggregates: Seq[(String, Column)] = {
    val len = col("len")
    Seq(
      "hist_sketch" -> hist_sketch(len, wideLayout),
      "hist_sketch.conv" -> hist_sketch(len, convLayout),
      "hist_sketch.int" -> hist_sketch(col("turn_idx"), wideLayout),
      "hist_sketch_packed" -> hist_sketch_packed(len, wideLayout),
      "hist_sketch_weighted" -> hist_sketch_weighted(len, col("w"), wideLayout),
      "hll_sketch" -> hll_sketch(col("text")),
      "hll_sketch.conv" -> hll_sketch(col("text"), 10),
      "hll_sketch.int" -> hll_sketch(col("turn_idx")),
      "hll_sketch_long" -> hll_sketch_long(col("turn_idx")),
      "cms_sketch" -> cms_sketch(col("tool")),
      "cms_sketch.conv" -> cms_sketch(col("tool"), 4, 256),
      "cms_sketch.int" -> cms_sketch(col("turn_idx")),
      "cms_sketch_weighted" -> cms_sketch_weighted(col("tool"), col("w")),
      "cms_sketch_weighted.int" -> cms_sketch_weighted(col("turn_idx"), col("w"), 4, 256),
      "bloom_sketch" -> bloom_sketch(col("turn_idx"), 10000L),
      "bloom_sketch.conv" -> bloom_sketch(col("turn_idx").cast("long"), 1000L),
      "tdigest_sketch" -> tdigest_sketch(len),
      "tdigest_sketch.conv" -> tdigest_sketch(len, 100.0),
      "tdigest_sketch.int" -> tdigest_sketch(col("turn_idx"), 20.0),
      "kll_sketch" -> kll_sketch(len),
      "kll_sketch.conv" -> kll_sketch(len, 100),
      "kll_sketch.int" -> kll_sketch(col("turn_idx"), 50))
  }

  test("sketch aggregates match their goldens: one partial, split partials, sort fallback") {
    verify(Plans.flatMap { plan =>
      withPlan(plan)(perGroup(planned(plan), sketchAggregates)).toSeq
        .map { case (n, gs) => s"$n.$plan" -> gs }
    })
  }

  test("*_merge over a stored two-level table matches its goldens") {
    // level 1: one row per (conversation, turn_idx mod 3), stored once;
    // plus rows with null and zero-length blobs, which every merge skips
    val level1 = turns
      .repartition(4, col("g"))
      .groupBy(col("g"), (col("turn_idx") % 3).as("part"))
      .agg(
        hist_sketch(col("len"), wideLayout).as("hist"),
        hll_sketch(col("text"), 10).as("hll"),
        cms_sketch(col("tool"), 4, 256).as("cms"),
        bloom_sketch(col("turn_idx"), 1000L).as("bloom"),
        tdigest_sketch(col("len")).as("tdigest"),
        kll_sketch(col("len"), 100).as("kll"))
    val kinds = Seq("hist", "hll", "cms", "bloom", "tdigest", "kll")
    val blanks = turns.filter(col("turn_idx") === 0 && col("g") < "conv-00000050")
      .select(col("g"))
      .crossJoin(spark.range(2).select(
        (lit(-1) - col("id")).cast("int").as("part"),
        when(col("id") === 0, lit(Array.empty[Byte])).cast("binary").as("blank")))
      .select(col("g") +: col("part") +: kinds.map(k => col("blank").as(k)): _*)
    val stored = withPlan("whole")(level1.unionByName(blanks).localCheckpoint())
    def merges: Seq[(String, Column)] = Seq(
      "hist_merge" -> hist_merge(col("hist")),
      "hll_merge" -> hll_merge(col("hll")),
      "cms_merge" -> cms_merge(col("cms")),
      "bloom_merge" -> bloom_merge(col("bloom")),
      "tdigest_merge" -> tdigest_merge(col("tdigest")),
      "kll_merge" -> kll_merge(col("kll")))
    verify(Plans.flatMap { plan =>
      val df = if (plan == "whole") stored.repartition(4, col("g"))
               else stored.repartition(4, col("part"))
      withPlan(plan)(perGroup(df, merges)).toSeq.map { case (n, gs) => s"$n.$plan" -> gs }
    })
  }

  test("SQL sketch aggregates and *_merge match their goldens") {
    functions.registerAll(spark)
    planned("split").createOrReplaceTempView("golden_turns")
    val rows = withPlan("split")(spark.sql(
      """SELECT g, hist_sketch(len) AS hist, hist_sketch_weighted(len, w) AS histw,
                hll_sketch(text, 10) AS hll, cms_sketch(tool, 4, 256) AS cms,
                bloom_sketch(turn_idx, 1000) AS bloom
         FROM golden_turns GROUP BY g""").localCheckpoint())
    rows.createOrReplaceTempView("golden_level1")
    val merged = spark.sql(
      """SELECT substr(g, 1, 12) AS g, hist_merge(hist) AS hist, hist_merge(histw) AS histw,
                hll_merge(hll) AS hll, cms_merge(cms) AS cms, bloom_merge(bloom) AS bloom
         FROM golden_level1 GROUP BY substr(g, 1, 12)""")
    def named(df: DataFrame, prefix: String): Seq[(String, Seq[(String, Array[Byte])])] = {
      val got = df.collect()
      df.columns.toSeq.tail.zipWithIndex.map { case (c, i) =>
        s"$prefix.$c" -> got.toSeq.map(r => r.getString(0) -> r.getAs[Array[Byte]](i + 1))
      }
    }
    verify(withPlan("split")(named(rows, "sql") ++ named(merged, "sql_merge")))
  }

  /** Seeded turn rows (text, tool, turn_idx, len, w), with a null tool on
   * every seventh row; `len` is log-uniform on [10, 1e5), so each of a few
   * hundred rows lands in a bin of its own or shares it with one or two. */
  private def partialRows(n: Int, seed: Long): Seq[InternalRow] = {
    val rnd = new java.util.SplittableRandom(seed)
    val tools = Seq("search", "python", "browser", "shell")
    (0 until n).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(12))(s"w${rnd.nextInt(300)}").mkString(" ")
      val tool = if (i % 7 == 3) null else UTF8String.fromString(tools(rnd.nextInt(tools.size)))
      InternalRow(UTF8String.fromString(words), tool, i,
        math.exp(rnd.nextDouble(math.log(10.0), math.log(1e5))), 1L + rnd.nextInt(3))
    }
  }

  test("partial buffers built by update serialize to their goldens") {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("tool", StringType),
      StructField("turn_idx", IntegerType), StructField("len", DoubleType),
      StructField("w", LongType)))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    // the DSL column's aggregate, its inputs bound to the row ordinals
    def aggregate(c: Column): TypedImperativeAggregate[AnyRef] = {
      val plan = empty.agg(c).queryExecution.analyzed
      val fn = plan.expressions.flatMap(_.collect {
        case a: AggregateExpression => a.aggregateFunction }).head
      BindReferences.bindReference(fn, plan.children.head.output)
        .asInstanceOf[TypedImperativeAggregate[AnyRef]]
    }
    val len = col("len")
    val aggs = Seq(
      "hist_sketch" -> hist_sketch(len, wideLayout),
      "hist_sketch_packed" -> hist_sketch_packed(len, wideLayout),
      "hist_sketch_weighted" -> hist_sketch_weighted(len, col("w"), wideLayout),
      "hll_sketch" -> hll_sketch(col("text"), 10),
      "hll_sketch_long" -> hll_sketch_long(col("turn_idx")),
      "cms_sketch" -> cms_sketch(col("tool"), 4, 256),
      "cms_sketch_weighted" -> cms_sketch_weighted(col("tool"), col("w"), 4, 256),
      "bloom_sketch" -> bloom_sketch(col("turn_idx"), 1000L),
      "kll_sketch" -> kll_sketch(len, 100),
      "tdigest_sketch" -> tdigest_sketch(len, 100.0))
    // an empty buffer, a conversation-sized group, and a group past the
    // 128-bin sparse cap whose bins hold one to a few counts each
    val sizes = Seq("empty" -> 0, "rows20" -> 20, "past_cap" -> 600)
    verify(for ((name, c) <- aggs; (size, n) <- sizes) yield {
      val agg = aggregate(c)
      val buffer = partialRows(n, seed = 31L + n)
        .foldLeft(agg.createAggregationBuffer())(agg.update)
      buffer match {
        case h: Histogram => assert(h.isDense == (size == "past_cap"), s"$name.$size")
        case _ =>
      }
      s"partial.$name.$size" -> Seq("" -> agg.serialize(buffer))
    })
  }

  /** One layout per [[LayoutCodec]] tag; all but the integer one have a
   * reference serial version too. */
  private val codecLayouts: Seq[(String, Layout)] = Seq(
    "custom" -> CustomLayout(Array.tabulate(40)(i => math.pow(10.0, i / 8.0))),
    "log_linear" -> LogLinearLayout(1e-2, 1e-2, 0, 1e6),
    "log_quadratic" -> LogQuadraticLayout(1e-5, 1e-2, -1e6, 1e6),
    "log_optimal" -> LogOptimalLayout(1e-2, 1e-2, 0, 1e6),
    "otel" -> OtelExponentialLayout(3),
    "integer" -> IntegerLayout(0, 100000))

  /** Histograms over `layout`: empty, one value, 20 values and 600 values
   * (past the sparse cap), the larger two with under- and overflow. */
  private def codecHistograms(layout: Layout): Seq[(String, Histogram)] = {
    val rnd = new java.util.SplittableRandom(47L)
    def filled(n: Int): Histogram = {
      val h = Histogram(layout)
      (0 until n).foreach(_ => h.addValue(math.exp(rnd.nextDouble(math.log(10.0), math.log(1e5)))))
      h.addValue(-1e9, 2L).addValue(1e9)
    }
    Seq("empty" -> Histogram(layout), "one" -> Histogram(layout).addValue(42.0),
      "rows20" -> filled(20), "past_cap" -> filled(600))
  }

  test("envelopes of every layout and their hist_to_reference blobs match their goldens") {
    import spark.implicits._
    verify(codecLayouts.flatMap { case (name, layout) =>
      val envelopes = codecHistograms(layout).map { case (k, h) => k -> SketchEnvelope.toBytes(h) }
      val reference =
        if (layout.isInstanceOf[IntegerLayout]) Nil
        else Seq(s"reference.$name" -> envelopes.toDF("k", "b")
          .select(col("k"), hist_to_reference(col("b"))).collect().toSeq
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)))
      (s"envelope.$name" -> envelopes) +: reference
    })
  }

  /** The three error-limiting shapes at three parameter sets
   * (absoluteLimit, relativeLimit, lo, hi): a wide signed range, the
   * recording benchmark's and the conversation sketches'. */
  private val pinnedLayouts: Seq[(String, ErrorLimitingLayout, Double, Double)] = {
    val params = Seq("wide" -> (1e-8, 1e-2, -1e6, 1e6), "bench" -> (10.0, 0.01, 0.0, 1e12),
      "conv" -> (1e-2, 1e-2, 0.0, 1e9))
    for {
      (shape, make) <- Seq[(String, (Double, Double, Double, Double) => ErrorLimitingLayout)](
        "log_linear" -> (LogLinearLayout(_, _, _, _)),
        "log_quadratic" -> (LogQuadraticLayout(_, _, _, _)),
        "log_optimal" -> (LogOptimalLayout(_, _, _, _)))
      (p, (abs, rel, lo, hi)) <- params
    } yield (s"$shape.$p", make(abs, rel, lo, hi), lo, hi)
  }

  /** 10^5 seeded values, a quarter each of any bit pattern (NaNs included),
   * uniform on [lo, hi], signed log-uniform on [1e-12, 1e13], and uniform
   * around the subnormal/normal hand-over; then the special values. */
  private def probeValues(abs: Double, lo: Double, hi: Double): Array[Double] = {
    val rnd = new java.util.SplittableRandom(101L)
    val drawn = Array.tabulate(100000) { i =>
      val sign = if (rnd.nextBoolean()) 1.0 else -1.0
      i % 4 match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => rnd.nextDouble(lo, hi)
        case 2 => sign * math.exp(rnd.nextDouble(math.log(1e-12), math.log(1e13)))
        case _ => rnd.nextDouble(-200.0, 200.0) * abs
      }
    }
    drawn ++ Array(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL, Double.MinPositiveValue,
      -Double.MinPositiveValue, Double.MaxValue, Double.MinValue, lo, hi,
      math.nextDown(lo), math.nextUp(hi))
  }

  test("error-limiting layouts map values and bound bins as their goldens record") {
    def sha(fill: java.nio.ByteBuffer => Unit, bytes: Int): String = {
      val buf = java.nio.ByteBuffer.allocate(bytes)
      fill(buf)
      java.security.MessageDigest.getInstance("SHA-256").digest(buf.array())
        .map(x => f"${x & 0xff}%02x").mkString
    }
    val bad = pinnedLayouts.flatMap { case (name, l, lo, hi) =>
      val under = l.underflowBinIndex
      val over = l.overflowBinIndex
      val values = probeValues(l.absoluteLimit, lo, hi)
      // every index from underflow - 1 to overflow + 1, and the Int extremes
      val indices = (Int.MinValue +: (under - 1 to over + 1)) :+ Int.MaxValue
      val got = Seq(
        s"layout.$name.range" -> s"$under:$over",
        s"layout.$name.map" -> sha(b => values.foreach(v => b.putInt(l.mapToBinIndex(v))),
          4 * values.length),
        s"layout.$name.bounds" -> sha(b => indices.foreach { i =>
          b.putLong(java.lang.Double.doubleToRawLongBits(l.binLowerBound(i)))
          b.putLong(java.lang.Double.doubleToRawLongBits(l.binUpperBound(i)))
        }, 16 * indices.length))
      got.collect { case (k, v) if !Goldens.expected(k).contains(v) => s"$k $v" }
    }
    assert(bad.isEmpty, bad.mkString("golden mismatches:\n", "\n", ""))
  }

  test("*_merge edge cases: empty input, all-null rows and zero-length blobs yield empty bytes") {
    import spark.implicits._
    val merges: Seq[Column => Column] =
      Seq(hist_merge, hll_merge, cms_merge, bloom_merge, tdigest_merge, kll_merge)
    val empty = Seq.empty[Array[Byte]].toDF("b")
    val nulls = Seq[Array[Byte]](null, null).toDF("b").repartition(2)
    val blanks = Seq(Array.empty[Byte], null, Array.empty[Byte]).toDF("b").repartition(2)
    for (m <- merges; df <- Seq(empty, nulls, blanks)) {
      val r = df.agg(m(col("b"))).collect()
      assert(r.length == 1 && !r(0).isNullAt(0) && r(0).getAs[Array[Byte]](0).isEmpty)
    }
    // grouped: a group of only null/empty blobs also yields empty bytes,
    // beside a group with a real sketch
    val sk = Seq(1.0, 2.0).toDF("v").agg(hist_sketch(col("v"), wideLayout)).head()
      .getAs[Array[Byte]](0)
    val grouped = Seq[(String, Array[Byte])](
        ("a", null), ("a", Array.empty[Byte]), ("b", sk), ("b", null))
      .toDF("g", "b").groupBy(col("g")).agg(hist_merge(col("b"))).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(grouped == Map("a" -> Seq.empty[Byte], "b" -> sk.toSeq))
  }
}
