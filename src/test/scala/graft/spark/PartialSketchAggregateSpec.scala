package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Layout, LogQuadraticLayout}
import graft.spark.expressions.SketchAgg

/** [[PartialSketchAggregateExec]] and [[SketchAggregationStrategy]]: which
 * aggregates get the codegen'd map-side operator, that its output bytes
 * equal the `ObjectHashAggregate` plan's under codegen, interpreted
 * execution and the sort fallback, and that exchange reuse tells partials
 * apart. */
class PartialSketchAggregateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val layout: Layout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)
  private val Operator = "PartialSketchAggregate"

  private def methods = spark.asInstanceOf[classic.SparkSession].experimental

  /** Runs `body` with the strategy taken out of the session's planner. */
  private def withoutStrategy[T](body: => T): T = {
    val saved = methods.extraStrategies
    methods.extraStrategies = saved.filterNot(_ eq SketchAggregationStrategy)
    try body finally methods.extraStrategies = saved
  }

  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 20 000 rows in 4 partitions: a long key with nulls, int, short and
   * byte keys, a value, a weight and string and long items (with nulls). */
  private lazy val input: DataFrame = spark.range(0, 20000, 1, 4).select(
    when(col("id") % 53 =!= 0, col("id") % 37).as("k_long"),
    (col("id") % 29).cast("int").as("k_int"),
    (col("id") % 23).cast("short").as("k_short"),
    (col("id") % 7).cast("byte").as("k_byte"),
    exp((col("id") * 7919 % 10007).cast("double") / 1000.0).as("v"),
    (col("id") % 5 + 1).as("w"),
    when(col("id") % 41 =!= 0, concat(lit("item-"), (col("id") % 1500).cast("string"))).as("s"),
    (col("id") % 5000).as("l"))

  /** Each eligible aggregate, by name. */
  private def eligible: Seq[(String, Column)] = Seq(
    "hist" -> functions.hist_sketch(col("v"), layout),
    "hist_packed" -> functions.hist_sketch_packed(col("v"), layout),
    "hist_weighted" -> functions.hist_sketch_weighted(col("v"), col("w"), layout),
    "hll" -> functions.hll_sketch(col("s"), 10),
    "hll_long" -> functions.hll_sketch_long(col("l"), 12),
    "cms" -> functions.cms_sketch(col("s"), 4, 256),
    "cms_long" -> CountMinLong(col("l")),
    "cms_weighted" -> functions.cms_sketch_weighted(col("s"), col("w"), 4, 256),
    "bloom" -> functions.bloom_sketch(col("l"), 5000))

  /** `cms_sketch` over a long item (the DSL casts to string). */
  private def CountMinLong(c: Column): Column =
    SketchAgg.column(SketchAgg.Cms(4, 256), c)

  private def aggregated(keys: Seq[String], aggs: Seq[(String, Column)]): DataFrame = {
    val cols = aggs.map { case (n, c) => c.as(n) }
    input.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.headOption.map(String.valueOf).getOrElse(""))

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def operators(df: DataFrame): Seq[PartialSketchAggregateExec] =
    collect(executed(df)) { case p: PartialSketchAggregateExec => p }

  /** A plan string without expression and plan ids. */
  private def normalized(s: String): String =
    s.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  /** The optimized and executed plans of `df`, planned afresh. */
  private def plans(df: DataFrame): (String, String) = {
    val qe = spark.asInstanceOf[classic.SparkSession].sessionState
      .executePlan(df.queryExecution.logical)
    (normalized(qe.optimizedPlan.toString), normalized(qe.executedPlan.toString))
  }

  /** Plans `df` with and without the strategy and asserts both are the
   * same and hold no partial sketch operator. */
  private def assertPlansAsToday(df: DataFrame): Unit = {
    val (optimized, physical) = plans(df)
    assert(!physical.contains(Operator), physical)
    assert((optimized, physical) == withoutStrategy(plans(df)))
  }

  test("a hist_ingest-shaped query runs the partial in a codegen stage under a final ObjectHashAggregate") {
    val ingest = spark.range(0, 100000, 1, 4)
      .select((col("id") % 4).as("role"), exp(col("id").cast("double") / 1e4).as("turn_len"))
      .groupBy(col("role"))
      .agg(functions.hist_sketch(col("turn_len"), layout).as("sk"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = executed(ingest).toString
      assert(("\\*\\(\\d+\\) " + Operator + "\\(").r.findFirstIn(plan).isDefined, plan)
      assert(plan.contains("partial_hist_sketch("), plan)
      assert("ObjectHashAggregate".r.findAllIn(plan).size == 1, plan)
      assert(plan.indexOf("ObjectHashAggregate") < plan.indexOf(Operator), plan)
    }
    val got = rows(ingest)
    assert(operators(ingest).size == 1)
    assert(got.size == 4)
    assert(got == withoutStrategy(rows(ingest)))
  }

  test("t-digest/KLL sets, string, multi-column, DISTINCT and FILTER aggregates plan as today") {
    val len = length(col("text")).cast("double")
    val convAggregates = Seq(
      functions.hist_sketch(len, layout).as("hist"),
      functions.hll_sketch(col("text"), 10).as("hll"),
      functions.cms_sketch(col("tool"), 4, 256).as("cms"),
      functions.bloom_sketch(col("turn_idx").cast("long"), 1000).as("bloom"),
      functions.kll_sketch(len, 100).as("kll"),
      functions.tdigest_sketch(len, 100.0).as("tdigest"))
    val turns = Transcripts.synthesize(spark, 50, seed = 3L, maxTextLen = 200)
      .select(col("conv_id"), col("text"), col("tool"), col("turn_idx"))
    // conv_sketches: string key and t-digest/KLL
    assertPlansAsToday(turns.groupBy(col("conv_id")).agg(convAggregates.head, convAggregates.tail: _*))
    // the same aggregate set under an integral key
    assertPlansAsToday(turns.groupBy(col("turn_idx")).agg(convAggregates.head, convAggregates.tail: _*))
    assertPlansAsToday(aggregated(Seq("s"), eligible.take(1)))
    assertPlansAsToday(aggregated(Seq("k_long", "k_int"), eligible.take(1)))
    val v = ColumnBridge.expression(col("v").cast("double"))
    assertPlansAsToday(input.groupBy(col("k_long")).agg(ColumnBridge.column(
      SketchAgg(SketchAgg.Hist(layout), Seq(v)).toAggregateExpression(isDistinct = true))))
    assertPlansAsToday(input.groupBy(col("k_long")).agg(ColumnBridge.column(
      SketchAgg(SketchAgg.Hist(layout), Seq(v)).toAggregateExpression(
        false, Some(ColumnBridge.expression(col("w") > 2))))))
    // one eligible and one order-dependent aggregate: the whole aggregate keeps Spark's plan
    assertPlansAsToday(aggregated(Seq("k_long"),
      eligible.take(1) :+ ("kll" -> functions.kll_sketch(col("v"), 100))))
  }

  test("streaming aggregates plan as today") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_partial_stream").toString
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      (0 until 500).map(i => (new java.sql.Timestamp(base.getTime + i * 1000L), i % 7L, i.toDouble))
        .toDF("ts", "k", "v").write.parquet(s"$tmp/in")
      val stream = spark.readStream.schema("ts timestamp, k long, v double").parquet(s"$tmp/in")
      val windowed = stream.withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(functions.hist_sketch(col("v"), layout).as("sk"))
      val keyed = stream.groupBy(col("k")).agg(functions.hist_sketch(col("v"), layout).as("sk"))
      for ((df, name) <- Seq(windowed -> "partial_windowed", keyed -> "partial_keyed")) {
        val q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
        assert(plan.contains("partial_hist_sketch(") && !plan.contains(Operator), plan)
        assert(spark.table(name).collect().map(r =>
          graft.core.SketchEnvelope.fromBytes(r.getAs[Array[Byte]](1)).totalCount).sum == 500L)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("every eligible aggregate writes the ObjectHashAggregate plan's bytes") {
    val settings = Seq(
      "codegen" -> Seq.empty,
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "fallback" -> Seq("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2"))
    val groups = Map(Seq("k_long") -> 38, Seq("k_int") -> 29, Seq("k_short") -> 23,
      Seq("k_byte") -> 7, Seq.empty[String] -> 1)
    for ((keys, n) <- groups; (mode, confs) <- settings) {
      withConf(confs: _*) {
        // built outside withoutStrategy: a DSL column installs the strategy
        val aggs = eligible
        val df = aggregated(keys, aggs)
        val got = rows(df)
        val ops = operators(df)
        assert(ops.size == 1, s"$keys $mode: ${executed(df)}")
        if (mode == "fallback" && keys.nonEmpty) {
          assert(ops.head.metrics("numTasksFallBacked").value > 0, s"$keys: no task fell back")
        }
        val expected = withoutStrategy {
          val plain = aggregated(keys, aggs)
          assert(operators(plain).isEmpty)
          rows(plain)
        }
        assert(got.size == n)
        assert(got == expected, s"$keys $mode")
      }
    }
  }

  test("a self-join of two different partials over one child reuses no exchange") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val hll = input.groupBy(col("k_long")).agg(functions.hll_sketch_long(col("l"), 12).as("a"))
      val bloom = input.groupBy(col("k_long")).agg(functions.bloom_sketch(col("l"), 5000).as("b"))
      val joined = hll.join(bloom, "k_long")
      val plan = executed(joined).toString
      assert(!plan.contains("ReusedExchange"), plan)
      assert(Operator.r.findAllIn(plan).size == 2, plan)
      val got = joined.collect().map(r =>
        (r.get(0), r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).toSet
      val byKey = (df: DataFrame) => df.collect().map(r => r.get(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val (a, b) = (byKey(hll), byKey(bloom))
      assert(got == a.keySet.filter(_ != null).map(k => (k, a(k), b(k))))
      // the same partial twice is one exchange, reused
      val same = hll.join(hll.withColumnRenamed("a", "a2"), "k_long")
      assert(executed(same).toString.contains("ReusedExchange"), executed(same))
    }
  }
}
