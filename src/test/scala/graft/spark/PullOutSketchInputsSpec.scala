package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Add, Alias, Attribute, AttributeReference, Expression, Literal, Rand}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Layout, LogQuadraticLayout}
import graft.spark.expressions.SketchAgg

/** [[PullOutSketchInputs]]: computed sketch inputs are projected once
 * below the aggregate, output bytes do not change, and the inputs it must
 * not move stay where they are. */
class PullOutSketchInputsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val layout: Layout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)

  private lazy val turns: DataFrame = Transcripts
    .synthesize(spark, 200, seed = 5L, maxTextLen = 1000)
    .select(col("conv_id"), col("text"), col("tool"), col("turn_idx"))
    .localCheckpoint()

  /** The six aggregates of a `conv_sketches` pass (perfbench), by column. */
  private def convAggregates: Seq[Column] = {
    val len = length(col("text")).cast("double")
    Seq(
      functions.hist_sketch(len, layout).as("hist"),
      functions.hll_sketch(col("text"), 10).as("hll"),
      functions.cms_sketch(col("tool"), 4, 256).as("cms"),
      functions.bloom_sketch(col("turn_idx").cast("long"), 1000).as("bloom"),
      functions.kll_sketch(len, 100).as("kll"),
      functions.tdigest_sketch(len, 100.0).as("tdigest"))
  }

  /** `aggs` is built after the session exists, as in an application: the
   * DSL installs the rule on the active session. */
  private def sketchTable(aggs: => Seq[Column]): DataFrame = {
    val grouped = turns.groupBy(col("conv_id"))
    val cols = aggs
    grouped.agg(cols.head, cols.tail: _*)
  }

  private def sketchInputs(plan: LogicalPlan): Seq[Expression] = plan.collect {
    case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression
          if ae.aggregateFunction.getClass.getName.startsWith("graft.spark.expressions.") =>
        ae.aggregateFunction.children
    }.flatten)
  }.flatten

  private def occurrences(plan: LogicalPlan, s: String): Int =
    s.r.findAllIn(plan.toString).size

  /** The shared `length(text)` input is computed once, as the rule's
   * native `char_count`. */
  private def assertCountedOnce(plan: LogicalPlan): Unit = {
    assert(occurrences(plan, "char_count\\(") == 1, plan)
    assert(occurrences(plan, "length\\(") == 0, plan)
  }

  /** Runs `body` with the rule taken out of the session's optimizer. */
  private def withoutRule[T](body: => T): T = {
    val methods = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val saved = methods.extraOptimizations
    methods.extraOptimizations = saved.filterNot(_ eq PullOutSketchInputs)
    try body finally methods.extraOptimizations = saved
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.head.toString)

  test("conv_sketches inputs are computed once, below the aggregate") {
    val plan = sketchTable(convAggregates).queryExecution.optimizedPlan
    assertCountedOnce(plan)
    val inputs = sketchInputs(plan)
    assert(inputs.size == 6)
    assert(inputs.forall(_.isInstanceOf[Attribute]), plan)
  }

  test("output bytes are identical with and without the rule") {
    turns // the session exists before the columns are built, which install the rule
    val aggs = convAggregates
    val withRule = sketchTable(aggs)
    assertCountedOnce(withRule.queryExecution.optimizedPlan)
    val expected = withoutRule {
      val df = sketchTable(aggs)
      assert(occurrences(df.queryExecution.optimizedPlan, "length\\(") == 3)
      rows(df)
    }
    val got = rows(withRule)
    assert(got.size == 200)
    assert(got == expected)
  }

  test("binary and collated length in a sketch input stay Spark's length") {
    turns // the session exists before the columns are built, which install the rule
    val aggs = Seq(
      functions.hist_sketch(length(col("text").cast("binary")), layout).as("bin"),
      functions.kll_sketch(length(collate(col("text"), "UTF8_LCASE")), 100).as("lcase"))
    val withRule = sketchTable(aggs)
    val plan = withRule.queryExecution.optimizedPlan
    assert(sketchInputs(plan).forall(_.isInstanceOf[Attribute]), plan)
    assert(occurrences(plan, "length\\(") == 2, plan)
    assert(occurrences(plan, "char_count\\(") == 0, plan)
    val got = rows(withRule)
    assert(got.size == 200)
    assert(got == withoutRule(rows(sketchTable(aggs))))
  }

  test("char_count equals Spark's length on non-ASCII, malformed and NULL strings") {
    import spark.implicits._
    val texts = Seq("plain ascii", "h\u00e9llo w\u00f6rld", "\u6f22\u5b57" * 9 + "\ud83d\ude00x",
      null, "x" * 17 + "\u00e9", "")
    // bytes that are not valid UTF-8 (a lone 0xC3, a lone continuation byte)
    val malformed = Seq("61C36280", "78787878787878787878C3").toDF("h")
      .select(unhex(col("h")).cast("string").as("s"))
    val in = texts.toDF("s").union(malformed).withColumn("g", monotonically_increasing_id())
      .localCheckpoint()
    def table(): DataFrame = in.groupBy(col("g")).agg(
      functions.hist_sketch(length(col("s")), layout).as("h"),
      functions.kll_sketch(length(col("s")), 100).as("k"),
      max(length(col("s"))).as("spark_len"))
    val withRule = table()
    assert(occurrences(withRule.queryExecution.optimizedPlan, "char_count\\(") == 1)
    val got = rows(withRule)
    assert(got.size == 8)
    assert(got == withoutRule(rows(table())))
    // each group holds one string: the sketch's max is its length
    val lengths = withRule.select(functions.hist_max(col("h")), col("spark_len")).collect()
    assert(lengths.count(_.isNullAt(1)) == 1)
    for (r <- lengths if !r.isNullAt(1)) assert(r.getDouble(0) == r.getInt(1).toDouble)
  }

  /** The update shapes [[convAggregates]] leaves out, each over computed
   * inputs: the weighted histogram and count-min, and integral items. */
  private def otherShapes: Seq[Column] = {
    val len = length(col("text")).cast("double")
    val w = col("turn_idx") % 5 + 1
    Seq(
      functions.hist_sketch_weighted(len, w, layout).as("hist_w"),
      functions.cms_sketch_weighted(col("tool"), w, 4, 256).as("cms_w"),
      functions.cms_sketch_weighted(col("turn_idx") * 2, w, 4, 256).as("cms_w_expr"),
      functions.hll_sketch_long(col("turn_idx") + 1).as("hll_long"),
      SketchAgg.column(SketchAgg.Cms(4, 256), (col("turn_idx") + 1).cast("long")).as("cms_long"),
      functions.bloom_sketch(col("turn_idx") * 3, 1000).as("bloom_long"))
  }

  test("output bytes of the weighted and integral-item shapes are identical with and without " +
    "the rule") {
    turns // the session exists before the columns are built, which install the rule
    val aggs = otherShapes
    val withRule = sketchTable(aggs)
    val plan = withRule.queryExecution.optimizedPlan
    assert(sketchInputs(plan).forall(_.isInstanceOf[Attribute]), plan)
    val expected = withoutRule {
      val df = sketchTable(aggs)
      assert(sketchInputs(df.queryExecution.optimizedPlan).exists(!_.isInstanceOf[Attribute]))
      rows(df)
    }
    val got = rows(withRule)
    assert(got.size == 200)
    assert(got == expected)
  }

  test("nondeterministic, DISTINCT and FILTER inputs are not pulled out") {
    def agg(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
        isDistinct: Boolean = false, filter: Option[Column] = None): Column =
      ColumnBridge.column(
        f.toAggregateExpression(isDistinct, filter.map(ColumnBridge.expression)))
    val len = ColumnBridge.expression(length(col("text")).cast("double"))
    val df = sketchTable(Seq(
      agg(SketchAgg(SketchAgg.Hist(layout), Seq(len)), isDistinct = true).as("distinct"),
      agg(SketchAgg(SketchAgg.Kll(100), Seq(len)), filter = Some(col("turn_idx") > 2))
        .as("filtered")))
    val plan = df.queryExecution.optimizedPlan
    val inputs = sketchInputs(plan)
    assert(inputs.size == 2 && inputs.forall(!_.isInstanceOf[Attribute]), plan)
    assert(!plan.toString.contains("_in#"), plan)
    assert(df.collect().length == 200)
    // the analyzer rejects nondeterministic aggregate arguments, so the
    // rule is applied to a hand-built plan
    val x = AttributeReference("x", DoubleType)()
    val random = Aggregate(Nil, Seq(Alias(
      SketchAgg(SketchAgg.Hist(layout), Seq(Add(x, Rand(Literal(7L))))).toAggregateExpression(),
      "r")()),
      LocalRelation(x))
    assert(PullOutSketchInputs(random) eq random)
  }

  test("a FILTER aggregate does not evaluate its input on filtered-out rows") {
    import spark.implicits._
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val in = Seq(("a", "1.5"), ("a", "x"), ("b", "2.5")).toDF("g", "s")
      val value = ColumnBridge.expression(col("s").cast("double"))
      val sketch = ColumnBridge.column(SketchAgg(SketchAgg.Hist(layout), Seq(value))
        .toAggregateExpression(false, Some(ColumnBridge.expression(col("s") =!= "x"))))
      val df = in.groupBy(col("g")).agg(functions.hist_total(sketch).as("n"))
      assert(sketchInputs(df.queryExecution.optimizedPlan).forall(!_.isInstanceOf[Attribute]))
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 1L, "b" -> 1L))
      // the same input without FILTER is pulled out and fails under ANSI
      val unfiltered = in.groupBy(col("g")).agg(functions.hist_sketch(col("s"), layout))
      assert(sketchInputs(unfiltered.queryExecution.optimizedPlan)
        .forall(_.isInstanceOf[Attribute]))
      intercept[Exception](unfiltered.collect())
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the rule is idempotent and install adds it once") {
    val aggs = convAggregates
    val before = withoutRule(sketchTable(aggs).queryExecution.optimizedPlan)
    val once = PullOutSketchInputs(before)
    assert(once ne before)
    assert(PullOutSketchInputs(once) eq once)
    PullOutSketchInputs.install(spark)
    PullOutSketchInputs.install(spark)
    val methods = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(methods.extraOptimizations.count(_ eq PullOutSketchInputs) == 1)
  }

  test("SQL through GraftExtensions gets the rewrite") {
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession
        .builder()
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne prior)
      s2.range(100).selectExpr("id % 3 AS g", "repeat('x', CAST(id AS INT)) AS s")
        .createOrReplaceTempView("pullout_t")
      val df = s2.sql(
        """SELECT g, hist_total(hist_sketch(length(s))) AS n, kll_sketch(length(s)) AS k,
          |tdigest_sketch(length(s)) AS t FROM pullout_t GROUP BY g""".stripMargin)
      val plan = df.queryExecution.optimizedPlan
      assertCountedOnce(plan)
      assert(sketchInputs(plan).forall(_.isInstanceOf[Attribute]), plan)
      assert(df.collect().map(_.getLong(1)).sum == 100L)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("a streaming windowed aggregate over a computed input still runs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pullout").toString
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val rows = (0 until 2000).map { i =>
        (new java.sql.Timestamp(base.getTime + (i % 600) * 1000L), "y" * (1 + i % 97))
      }
      rows.toDF("ts", "text").write.parquet(s"$tmp/in")
      def windowed(df: DataFrame): DataFrame = df
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(
          functions.hist_sketch(length(col("text")), layout).as("sk"),
          functions.kll_sketch(length(col("text")), 100).as("kll"))
        .select(col("window.start").as("w"), functions.hist_total(col("sk")).as("n"),
          functions.hist_quantile(col("sk"), 0.5).as("p50"), col("kll"))
      val stream = spark.readStream.schema("ts timestamp, text string").parquet(s"$tmp/in")
        .withWatermark("ts", "1 minute")
      val q = windowed(stream).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName("pullout_stream")
        .start()
      try q.processAllAvailable() finally q.stop()
      // histogram totals and quantiles do not depend on the merge order
      // (KLL bytes do), so only the histogram columns are compared
      def result(df: DataFrame): Set[(java.sql.Timestamp, Long, Double)] =
        df.collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(spark.table("pullout_stream").collect().forall(_.getAs[Array[Byte]](3).nonEmpty))
      val streamed = result(spark.table("pullout_stream"))
      assert(streamed.nonEmpty)
      assert(streamed == result(windowed(rows.toDF("ts", "text"))))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
