package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.spark.functions._

class ExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val layout = LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)

  test("hist_bin_index native expression agrees with the kernel mapping") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(3L)
    val vs = Array.fill(5000)(rnd.nextDouble(-2e6, 2e6))
    val got = vs.toSeq
      .toDF("v")
      .select(col("v"), hist_bin_index(col("v"), layout).as("idx"))
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    got.foreach { case (v, idx) =>
      assert(idx == layout.mapToBinIndex(v), s"v=$v")
    }
  }

  test("hist_bin_index handles nulls and stays inside whole-stage codegen") {
    // a range-backed plan (not a constant-foldable local relation): nulls via
    // a conditional, codegen visible in the physical plan
    val df = spark
      .range(0, 10)
      .select(
        hist_bin_index(
          when(col("id") % 3 === 0, col("id").cast("double")),
          layout).as("idx"),
        col("id"))
    val rows = df.collect()
    rows.foreach { r =>
      if (r.getLong(1) % 3 == 0) {
        assert(r.getInt(0) == layout.mapToBinIndex(r.getLong(1).toDouble))
      } else {
        assert(r.isNullAt(0))
      }
    }
    // "*(n)" prefixes mark operators inside a whole-stage-codegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.linesIterator.exists(l => l.contains("*(") && l.contains("hist_bin_index")),
      s"expression not inside a codegen stage:\n$plan")
  }

  test("per-bin counts via hist_bin_index groupBy equal exploded sketch bins") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(8L)
    val vs = Array.fill(20000)(rnd.nextDouble(0.001, 1e5))
    val df = vs.toSeq.toDF("v")
    val viaExpr = df
      .groupBy(hist_bin_index(col("v"), layout).as("bin_index"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val viaSketch = df
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(explode(hist_bins(col("sk"))).as("b"))
      .select(col("b.bin_index"), col("b.cnt"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    assert(viaExpr == viaSketch)
  }

  test("hist_sketch_binary (TypedImperativeAggregate) equals the Aggregator-based sketch") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(12L)
    val rows = (0 until 30000).map(i => (s"g${i % 5}", rnd.nextDouble() * 1e5))
    val df = rows.toDF("g", "v").repartition(8)
    def bytesOf(agg: org.apache.spark.sql.Column): Map[String, Array[Byte]] = df
      .groupBy(col("g"))
      .agg(agg.as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
    // the golden holds the kryo Aggregator's bytes for this input
    Goldens.check("expr.hist_sketch", bytesOf(hist_sketch(col("v"), layout)))
    Goldens.check("expr.hist_sketch", bytesOf(hist_sketch_binary(col("v"), layout)))
    // the binary-buffer variant must shuffle compact V1 payloads: its
    // serialized buffer is dramatically smaller than the kryo object graph
    val h = graft.core.Histogram(layout)
    rows.foreach(r => h.addValue(r._2))
    val v1 = graft.core.HistogramSerde.toBytes(h).length
    assert(v1 < 8 * h.nonEmptyBins.size, s"V1 size $v1 not compact")
  }

  test("native scalar sketch expressions agree with the kernel and stay in codegen") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(42L)
    val vs = Array.fill(10000)(rnd.nextDouble(0.5, 9e5))
    val kernel = graft.core.Histogram(layout)
    vs.foreach(kernel.addValue(_))
    val df = vs.toSeq
      .toDF("v")
      .repartition(4) // defeat local-relation constant folding
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(
        hist_quantile(col("sk"), 0.5).as("q50"),
        hist_value_at_rank(col("sk"), lit(vs.length / 2L)).as("var"),
        hist_total(col("sk")).as("n"),
        hist_min(col("sk")).as("mn"),
        hist_max(col("sk")).as("mx"),
        hist_underflow(col("sk")).as("uf"),
        hist_overflow(col("sk")).as("of"),
        hist_bins(col("sk")).as("bins"))
    val r = df.collect()(0)
    assert(r.getDouble(0) == kernel.quantile(0.5))
    assert(r.getDouble(1) == kernel.valueAt(vs.length / 2L))
    assert(r.getLong(2) == vs.length.toLong)
    assert(r.getDouble(3) == kernel.min && r.getDouble(4) == kernel.max)
    assert(r.getLong(5) == 0L && r.getLong(6) == 0L)
    val bins = r.getSeq[org.apache.spark.sql.Row](7)
    val kernelBins = kernel.nonEmptyBins
    assert(bins.length == kernelBins.length)
    bins.zip(kernelBins).foreach { case (row, b) =>
      assert(row.getInt(0) == b.binIndex && row.getLong(1) == b.binCount)
      assert(row.getDouble(2) == b.lowerBound && row.getDouble(3) == b.upperBound)
    }
    // the scalar queries must sit inside a whole-stage-codegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.linesIterator.exists(l => l.contains("*(") && l.contains("hist_quantile")),
      s"hist_quantile not inside a codegen stage:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("hist_total")))

    // the companion scalars are the same native shape (over stored blobs:
    // over a final ObjectHashAggregate they would run inside it)
    val ids = vs.indices.map(_.toLong)
    val blobs = ids.toDF("k")
      .repartition(4)
      .agg(hll_sketch(col("k")), kll_sketch(col("k")), bloom_sketch(col("k"), 20000L))
      .collect()(0)
    val comp = Seq((blobs.getAs[Array[Byte]](0), blobs.getAs[Array[Byte]](1),
        blobs.getAs[Array[Byte]](2)))
      .toDF("hll", "kll", "bf")
      .repartition(2)
      .select(
        hll_estimate(col("hll")).as("n"),
        kll_rank(col("kll"), lit(4999.5)).as("r"),
        bloom_might_contain(col("bf"), lit(17L)).as("b"))
    val c = comp.collect()(0)
    assert(math.abs(c.getDouble(0) / ids.length - 1.0) < 0.05, s"hll estimate ${c.getDouble(0)}")
    assert(math.abs(c.getLong(1) - 5000L) < 400L, s"kll rank ${c.getLong(1)}")
    assert(c.getBoolean(2))
    val compPlan = comp.queryExecution.executedPlan.toString
    for (name <- Seq("hll_estimate", "kll_rank", "bloom_might_contain")) {
      assert(compPlan.linesIterator.exists(l => l.contains("*(") && l.contains(name)),
        s"$name not inside a codegen stage:\n$compPlan")
    }
  }

  test("hist_quantiles native expression + reference-format migration columns") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(61L)
    val vs = Array.fill(8000)(rnd.nextDouble(1.0, 8e5))
    val kernel = graft.core.Histogram(layout)
    vs.foreach(kernel.addValue(_))
    val pre = kernel.preprocessed
    val df = vs.toSeq
      .toDF("v")
      .repartition(4)
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(
        hist_quantiles(col("sk"), Seq(0.1, 0.5, 0.9)).as("qs"),
        // round-trip through the reference's writeWithTypeInfo wire format
        hist_total(hist_from_reference(hist_to_reference(col("sk")))).as("n_rt"),
        hist_quantile(hist_from_reference(hist_to_reference(col("sk"))), 0.5).as("q_rt"))
    val r = df.collect()(0)
    val qs = r.getSeq[Double](0)
    assert(qs == Seq(0.1, 0.5, 0.9).map(pre.quantile(_)))
    assert(r.getLong(1) == vs.length.toLong)
    assert(r.getDouble(2) == kernel.quantile(0.5))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("hist_quantiles")))
  }

  test("SQL surface: layout-parameterized native aggregates through registerAll") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(77L)
    val vs = Array.fill(5000)(rnd.nextDouble(1.0, 5e5))
    vs.toSeq.toDF("v").createOrReplaceTempView("sql_vals")
    val kernel = graft.core.Histogram(LogQuadraticLayout(1e-3, 1e-2, 0, 1e6))
    vs.foreach(kernel.addValue(_))
    val r = spark
      .sql("""SELECT hist_quantile(sk, 0.5) AS q50,
                     hist_value_at_rank(sk, 10) AS v10,
                     hist_total(sk) AS n,
                     hist_max(sk) AS mx
              FROM (SELECT hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6) AS sk
                    FROM sql_vals)""")
      .collect()(0)
    assert(r.getDouble(0) == kernel.quantile(0.5))
    assert(r.getDouble(1) == kernel.valueAt(10L))
    assert(r.getLong(2) == vs.length.toLong)
    assert(r.getDouble(3) == kernel.max)
    // OTel + custom variants parse and aggregate
    val r2 = spark
      .sql("""SELECT hist_total(hist_sketch_otel(v, 4)) AS n1,
                     hist_underflow(hist_sketch_custom(v, 10.0, 1000.0)) AS uf
              FROM sql_vals""")
      .collect()(0)
    assert(r2.getLong(0) == vs.length.toLong)
    assert(r2.getLong(1) == vs.count(_ < 10.0).toLong)
    // SQL-callable native bin-index with layout literals == kernel mapping
    val sqlLayout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val binRows = spark
      .sql("""SELECT v, hist_bin_index_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6) AS b
              FROM sql_vals""")
      .collect()
    binRows.foreach(r => assert(r.getInt(1) == sqlLayout.mapToBinIndex(r.getDouble(0))))
    val customRows = spark
      .sql("SELECT v, hist_bin_index_custom(v, 10.0, 100.0, 1000.0) AS b FROM sql_vals")
      .collect()
    val cl = graft.core.CustomLayout(10.0, 100.0, 1000.0)
    customRows.foreach(r => assert(r.getInt(1) == cl.mapToBinIndex(r.getDouble(0))))
    // the three log shapes with the same literals stay three aggregates
    val shapes = Seq("log_linear", "log_quadratic", "log_optimal")
    val blobs = spark
      .sql(shapes.map(k => s"hist_sketch_$k(v, 1e-3, 1e-2, 0.0, 1e6) AS $k")
        .mkString("SELECT ", ", ", " FROM sql_vals"))
      .collect()(0)
    val layouts = shapes.indices.map(i => SketchEnvelope.fromBytes(blobs.getAs[Array[Byte]](i)).layout)
    assert(layouts == Seq(LogLinearLayout(1e-3, 1e-2, 0, 1e6),
      LogQuadraticLayout(1e-3, 1e-2, 0, 1e6), LogOptimalLayout(1e-3, 1e-2, 0, 1e6)))
    assert(shapes.indices.map(i => blobs.getAs[Array[Byte]](i).toSeq).distinct.size == 3)
  }

  test("estimator-parameterized native expressions agree with the kernel and stay in codegen") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(91L)
    val vs = Array.fill(10000)(rnd.nextDouble(0.5, 9e5))
    val kernel = graft.core.Histogram(layout)
    vs.foreach(kernel.addValue(_))
    val rank = vs.length / 3L
    val df = vs.toSeq
      .toDF("v")
      .repartition(4)
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(
        hist_value_at_rank(col("sk"), lit(rank), "uniform").as("v_u"),
        hist_value_at_rank(col("sk"), lit(rank), "lower_bound").as("v_lo"),
        hist_value_at_rank(col("sk"), lit(rank), "upper_bound").as("v_up"),
        hist_value_at_rank(col("sk"), lit(rank), "mid_point").as("v_mid"),
        hist_quantile(col("sk"), 0.5, 0.4, 0.4, "uniform").as("q_def"),
        hist_quantile(col("sk"), 0.9, 0.3, 0.7, "mid_point").as("q_m"))
    val r = df.collect()(0)
    assert(r.getDouble(0) == kernel.valueAt(rank, ValueEstimator.Uniform))
    assert(r.getDouble(1) == kernel.valueAt(rank, ValueEstimator.LowerBound))
    assert(r.getDouble(2) == kernel.valueAt(rank, ValueEstimator.UpperBound))
    assert(r.getDouble(3) == kernel.valueAt(rank, ValueEstimator.MidPoint))
    assert(r.getDouble(1) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(2))
    assert(r.getDouble(4) ==
      kernel.quantile(0.5, QuantileEstimator(0.4, 0.4), ValueEstimator.Uniform))
    assert(r.getDouble(4) == kernel.quantile(0.5)) // default plotting positions
    assert(r.getDouble(5) ==
      kernel.quantile(0.9, QuantileEstimator(0.3, 0.7), ValueEstimator.MidPoint))
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.linesIterator.exists(l => l.contains("*(") && l.contains("hist_value_at_rank")),
      s"estimator-parameterized expression not inside a codegen stage:\n$plan")
  }

  test("SQL surface: estimator overloads, rebin, and reference migration functions") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(83L)
    val vs = Array.fill(6000)(rnd.nextDouble(1.0, 5e5))
    vs.toSeq.toDF("v").createOrReplaceTempView("sql_vals3")
    val srcLayout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val kernel = graft.core.Histogram(srcLayout)
    vs.foreach(kernel.addValue(_))
    val r = spark
      .sql("""SELECT hist_value_at_rank(sk, 10, 'mid_point') AS v_mid,
                     hist_quantile(sk, 0.5, 0.4, 0.4) AS q4,
                     hist_quantile(sk, 0.5, 0.3, 0.7, 'mid_point') AS q5,
                     hist_total(hist_from_reference(hist_to_reference(sk))) AS n_rt,
                     hist_total(hist_rebin_custom(sk, 10.0, 1000.0)) AS n_rb,
                     hist_underflow(hist_rebin_custom(sk, 10.0, 1000.0)) AS uf_rb,
                     hist_total(hist_rebin_log_linear(sk, 1e-2, 1e-1, 0.0, 1e6)) AS n_rb2,
                     hist_total(hist_rebin_otel(sk, 2)) AS n_rb3
              FROM (SELECT hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6) AS sk
                    FROM sql_vals3)""")
      .collect()(0)
    assert(r.getDouble(0) == kernel.valueAt(10L, ValueEstimator.MidPoint))
    assert(r.getDouble(1) ==
      kernel.quantile(0.5, QuantileEstimator(0.4, 0.4), ValueEstimator.Uniform))
    assert(r.getDouble(2) ==
      kernel.quantile(0.5, QuantileEstimator(0.3, 0.7), ValueEstimator.MidPoint))
    assert(r.getLong(3) == vs.length.toLong)
    val rebinned = graft.core.Histogram(CustomLayout(10.0, 1000.0)).add(kernel)
    assert(r.getLong(4) == vs.length.toLong)
    assert(r.getLong(5) == rebinned.underflowCount)
    assert(r.getLong(6) == vs.length.toLong && r.getLong(7) == vs.length.toLong)
    // out-of-range integer literal fails analysis instead of wrapping
    val err = intercept[Exception] {
      spark.sql("SELECT hist_sketch_otel(v, 4294967296) FROM sql_vals3").collect()
    }
    assert(err.getMessage.contains("out of Int range"), err.getMessage)
    // weighted aggregate and rollup re-aggregators are SQL-callable
    val r4 = spark
      .sql("SELECT hist_total(hist_sketch_weighted(v, 3)) AS n FROM sql_vals3")
      .collect()(0)
    assert(r4.getLong(0) == 3L * vs.length)
    val r5 = spark
      .sql("""SELECT hll_merge(sk) AS merged,
                     (SELECT hll_sketch(CAST(CAST(v AS INT) AS STRING)) FROM sql_vals3)
                       AS direct
              FROM (SELECT hll_sketch(CAST(CAST(v AS INT) AS STRING)) AS sk
                    FROM sql_vals3 GROUP BY CAST(v AS INT) % 8)""")
      .collect()(0)
    assert(java.util.Arrays.equals(r5.getAs[Array[Byte]](0), r5.getAs[Array[Byte]](1)),
      "SQL two-level hll_merge rollup must be byte-identical to the direct sketch")
  }

  test("hist_sketch_weighted_binary is byte-identical to the kryo weighted aggregator " +
    "and to weight-fold repetition") {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(19L)
    val rows = (0 until 20000).map { i =>
      (s"g${i % 7}", rnd.nextDouble() * 1e5, (rnd.nextInt(5) + 1).toLong)
    }
    val df = rows.toDF("g", "v", "w").repartition(8)
    def bytesOf(agg: org.apache.spark.sql.Column): Map[String, Seq[Byte]] = df
      .groupBy(col("g"))
      .agg(agg.as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
      .toMap
    // the golden holds the kryo weighted Aggregator's bytes for this input
    val native = bytesOf(hist_sketch_weighted_binary(col("v"), col("w"), layout))
    Goldens.check("expr.hist_sketch_weighted", native.map { case (g, b) => g -> b.toArray })
    assert(bytesOf(hist_sketch_weighted(col("v"), col("w"), layout)) == native)
    // weight w must equal adding the value w times (reference addValue(v, n))
    val repeated = rows
      .flatMap { case (g, v, w) => Seq.fill(w.toInt)((g, v)) }
      .toDF("g", "v")
      .repartition(8)
      .groupBy(col("g"))
      .agg(hist_sketch_binary(col("v"), layout).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
      .toMap
    assert(native == repeated)
  }

  test("item-sketch UTF8-byte hashing is byte-identical to the String path " +
    "(ASCII, multi-byte, surrogate pairs) and Int weights are accepted") {
    import spark.implicits._
    // the native update hashes UTF8String bytes directly (no per-row
    // java.lang.String); hashString is defined as the hash of the UTF-8
    // encoding, so sketches must stay byte-identical to the kryo String
    // path on every UTF-8 shape: 1-byte ASCII, 2-byte (é), 3-byte (CJK),
    // and 4-byte supplementary characters (surrogate pairs in the String)
    val texts = Seq(
      "plain_ascii", "café", "中文文本",
      "mixed ü世界", new String(Character.toChars(0x1F600)),
      "äb" + new String(Character.toChars(0x10348)), "")
    val df = (texts ++ texts ++ texts.map(_ + "x")).zipWithIndex
      .map { case (s, i) => (s, i % 3 + 1) }
      .toDF("s", "wi")
    def b(c: org.apache.spark.sql.Column): Array[Byte] =
      df.agg(c).collect()(0).getAs[Array[Byte]](0)
    // the goldens hold the kryo String-path bytes for these inputs
    import graft.spark.expressions.SketchAgg
    Goldens.check("expr.utf8.hll", b(SketchAgg.column(SketchAgg.Hll(12), col("s"))))
    Goldens.check("expr.utf8.hll", b(functions.hll_sketch(col("s"), 12)))
    Goldens.check("expr.utf8.cms", b(SketchAgg.column(SketchAgg.Cms(5, 512), col("s"))))
    Goldens.check("expr.utf8.cms", b(functions.cms_sketch(col("s"), 5, 512)))
    // malformed UTF-8 (unreachable via well-formed sources, but parquet
    // bytes are not validated): the hash must match what the kryo String
    // path computes after toString's U+FFFD replacement
    for (bad <- Seq(Array(0x80.toByte), Array('a'.toByte, 0xC3.toByte),
        Array(0xED.toByte, 0xA0.toByte, 0x80.toByte))) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromBytes(bad)
      assert(SketchAgg.utf8Hash(u) ==
        graft.sketches.Hashing.hashString(u.toString))
    }

    // weighted CMS with a RAW IntegerType weight child (no Cast wrapper —
    // the direct case-class construction advice-r6 flagged as an
    // asInstanceOf[Long] ClassCastException) must equal the kryo path fed
    // the same weights as longs
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rawIntWeight = ColumnBridge.column(
      SketchAgg(SketchAgg.Cms(5, 512),
        Seq(ColumnBridge.expression(col("s")), ColumnBridge.expression(col("wi"))))
        .toAggregateExpression())
    Goldens.check("expr.utf8.cms_weighted", b(rawIntWeight))
    Goldens.check("expr.utf8.cms_weighted",
      b(functions.cms_sketch_weighted(col("s"), col("wi").cast("long"), 5, 512)))
  }

  test("compact shuffle buffers: grouped native companion sketches stay " +
    "byte-identical to the kryo aggregators at high group cardinality") {
    import spark.implicits._
    // 300 groups x 4 partitions: every group's partial buffer crosses the
    // shuffle in the compact (sparse/varint) form and must merge to the
    // exact same dense result bytes the kryo path produces
    val rnd = new java.util.SplittableRandom(9L)
    val rows = (0 until 6000).map { i => (i % 300, s"it_${rnd.nextInt(200)}", i.toLong) }
    val df = rows.toDF("g", "s", "id").repartition(4)
    def collectMap(c: org.apache.spark.sql.Column): Map[String, Array[Byte]] =
      df.groupBy(col("g")).agg(c.as("sk")).collect()
        .map(r => r.getInt(0).toString -> r.getAs[Array[Byte]](1)).toMap
    // the goldens hold the kryo Aggregators' bytes for this input
    import graft.spark.expressions.SketchAgg
    Goldens.check("expr.grouped.hll_long",
      collectMap(SketchAgg.column(SketchAgg.Hll(14), col("id"))))
    Goldens.check("expr.grouped.hll_long", collectMap(functions.hll_sketch_long(col("id"), 14)))
    Goldens.check("expr.grouped.cms",
      collectMap(SketchAgg.column(SketchAgg.Cms(5, 2048), col("s"))))
    Goldens.check("expr.grouped.cms", collectMap(functions.cms_sketch(col("s"), 5, 2048)))
    Goldens.check("expr.grouped.bloom",
      collectMap(SketchAgg.column(SketchAgg.Bloom(100000, 0.01), col("id"))))
    Goldens.check("expr.grouped.bloom",
      collectMap(functions.bloom_sketch(col("id"), 100000, 0.01)))
  }

  test("native binary sketch aggregates survive the sort-based fallback byte-identically") {
    import spark.implicits._
    // 1000 groups with the ObjectHashAggregate in-memory limit forced to 2
    // groups: the exec spills to the sort-based path after the 2nd group —
    // the code path 10^6-group jobs live in. Results must be byte-identical
    // to the default (hash) path.
    val rnd = new java.util.SplittableRandom(23L)
    val rows = (0 until 50000).map { i =>
      (i % 1000, rnd.nextDouble() * 1e4, (rnd.nextInt(3) + 1).toLong)
    }
    val df = rows.toDF("g", "v", "w").repartition(8)
    def run(): (Map[Int, Seq[Byte]], Map[Int, Seq[Byte]]) = {
      val plain = df
        .groupBy(col("g"))
        .agg(hist_sketch_binary(col("v"), layout).as("sk"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      val weighted = df
        .groupBy(col("g"))
        .agg(hist_sketch_weighted_binary(col("v"), col("w"), layout).as("sk"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      (plain, weighted)
    }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    val (hashPlain, hashWeighted) = run()
    val (sortPlain, sortWeighted) =
      try { spark.conf.set(key, "2"); run() }
      finally spark.conf.set(key, prev)
    assert(sortPlain == hashPlain)
    assert(sortWeighted == hashWeighted)
    assert(sortPlain.size == 1000 && sortPlain.values.forall(_.nonEmpty))
  }

  test("SQL surface: weighted native aggregates with layout literals") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(29L)
    val rows = (0 until 5000).map(_ => (rnd.nextDouble(1.0, 5e5), (rnd.nextInt(4) + 1).toLong))
    rows.toDF("v", "w").createOrReplaceTempView("sql_weighted")
    val kernel = graft.core.Histogram(LogQuadraticLayout(1e-3, 1e-2, 0, 1e6))
    rows.foreach { case (v, w) => kernel.addValue(v, w) }
    val r = spark
      .sql("""SELECT hist_total(sk) AS n, hist_min(sk) AS mn, hist_max(sk) AS mx
              FROM (SELECT hist_sketch_weighted_log_quadratic(v, w, 1e-3, 1e-2, 0.0, 1e6) AS sk
                    FROM sql_weighted)""")
      .collect()(0)
    assert(r.getLong(0) == kernel.totalCount)
    assert(r.getDouble(1) == kernel.min && r.getDouble(2) == kernel.max)
    val r2 = spark
      .sql("""SELECT hist_total(hist_sketch_weighted_custom(v, w, 10.0, 1000.0)) AS n
              FROM sql_weighted""")
      .collect()(0)
    assert(r2.getLong(0) == rows.map(_._2).sum)
  }

  test("SQL surface: text-analysis and similarity scalars resolve and match direct calls") {
    functions.registerAll(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and runs away fast."),
      (2L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (3L, "abcdefg 1234567 !!!???"))
    docs.toDF("id", "text").createOrReplaceTempView("sql_docs")
    val rows = spark
      .sql("""SELECT id, token_count(text) AS tc, bpeish_token_count(text) AS btc,
                     quality_score(text) AS q, lang_id(text) AS lang,
                     doc_fingerprint(text) AS fp, simhash64(text) AS sh,
                     size(minhash_signature(text, 16, 3)) AS mh
              FROM sql_docs ORDER BY id""")
      .collect()
    docs.zip(rows).foreach { case ((_, text), r) =>
      assert(r.getInt(1) == graft.text.TextFunctions.tokenCount(text))
      assert(r.getInt(2) == graft.text.TextFunctions.bpeishTokenCount(text))
      assert(r.getDouble(3) == graft.text.TextFunctions.qualityScore(text))
      assert(r.getString(4) == graft.text.TextFunctions.langId(text))
      assert(r.getLong(5) == graft.text.TextFunctions.fingerprint64(text))
      assert(r.getLong(6) == graft.text.TextFunctions.simhash64(text))
      assert(r.getInt(7) == 16)
    }
    // pairwise scalars: simhash distance of near-identical docs is small,
    // shingle jaccard matches the kernel, cosine_sim matches double math
    val pair = spark
      .sql("""SELECT hamming64(simhash64(a.text), simhash64(b.text)) AS hd,
                     shingle_jaccard(a.text, b.text, 3) AS j
              FROM sql_docs a JOIN sql_docs b ON a.id = 1 AND b.id = 2""")
      .collect()(0)
    assert(pair.getInt(0) == graft.text.TextFunctions.hammingDistance(
      graft.text.TextFunctions.simhash64(docs(0)._2),
      graft.text.TextFunctions.simhash64(docs(1)._2)))
    assert(pair.getDouble(1) ==
      graft.text.TextFunctions.shingleJaccard(docs(0)._2, docs(1)._2, 3))
    Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
      .createOrReplaceTempView("sql_vecs")
    val cos = spark.sql("SELECT cosine_sim(a, b) AS c FROM sql_vecs").collect()(0).getDouble(0)
    assert(math.abs(cos - 10.0 / 14.0) < 1e-12)
  }

  test("many-group sketch aggregation is correct past the object-hash fallback threshold") {
    import spark.implicits._
    // 20k groups >> spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // (default 128): exercises the sort-based fallback path with object buffers
    val rnd = new java.util.SplittableRandom(5L)
    val rows = (0 until 200000).map(i => (i % 20000, rnd.nextDouble() * 1000))
    val out = rows
      .toDF("g", "v")
      .groupBy(col("g"))
      .agg(hist_sketch(col("v"), layout).as("sk"))
      .select(col("g"), functions.hist_total(col("sk")).as("n"))
      .collect()
    assert(out.length == 20000)
    assert(out.forall(_.getLong(1) == 10L))
  }

  test("SQL surface: parameterized companion-sketch native aggregates") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(123L)
    val rows = (0 until 4000).map { i =>
      (s"item_${rnd.nextInt(500)}", (i % 7 + 1).toLong, rnd.nextDouble() * 1000.0, i.toLong)
    }
    val df = rows.toDF("s", "w", "v", "id")
    df.createOrReplaceTempView("sql_comp")
    def bytes(q: String): Array[Byte] =
      spark.sql(q).collect()(0).getAs[Array[Byte]](0)
    def dslBytes(c: org.apache.spark.sql.Column): Array[Byte] =
      df.agg(c).collect()(0).getAs[Array[Byte]](0)

    // deterministic formats: native SQL builder with explicit parameters
    // gives the DSL's bytes, pinned to goldens of the kryo Aggregator DSL
    // (HLL register-max, CMS counter-add, Bloom bit-OR are order-insensitive)
    def same(golden: String, sql: String, dsl: org.apache.spark.sql.Column): Unit = {
      Goldens.check(golden, bytes(sql))
      Goldens.check(golden, dslBytes(dsl))
    }
    same("expr.sql.hll_12", "SELECT hll_sketch(s, 12) FROM sql_comp",
      functions.hll_sketch(col("s"), 12))
    same("expr.sql.cms_7_1024", "SELECT cms_sketch(s, 7, 1024) FROM sql_comp",
      functions.cms_sketch(col("s"), 7, 1024))
    same("expr.sql.cms_weighted_7_1024", "SELECT cms_sketch_weighted(s, w, 7, 1024) FROM sql_comp",
      functions.cms_sketch_weighted(col("s"), col("w"), 7, 1024))
    same("expr.sql.bloom_10000", "SELECT bloom_sketch(id, 10000, 0.01) FROM sql_comp",
      functions.bloom_sketch(col("id"), 10000L, 0.01))
    // long input through the native HLL (unboxed ordinal path) matches the
    // long-typed DSL aggregator
    same("expr.sql.hll_long_12", "SELECT hll_sketch(id, 12) FROM sql_comp",
      functions.hll_sketch_long(col("id"), 12))

    // default-parameter 1-arg forms still resolve (DSL defaults)
    same("expr.sql.hll_default", "SELECT hll_sketch(s) FROM sql_comp",
      functions.hll_sketch(col("s")))

    // scalar queries over the SQL-built sketches: estimate within HLL bound,
    // CMS overestimates-only, Bloom no false negatives
    val distinct = rows.map(_._1).distinct.length.toDouble
    val est = spark
      .sql("SELECT hll_estimate(hll_sketch(s, 12)) FROM sql_comp")
      .collect()(0).getDouble(0)
    assert(math.abs(est - distinct) / distinct <= 3 * 1.04 / math.sqrt(4096.0))
    val trueCount = rows.count(_._1 == rows.head._1).toLong
    val cmsEst = spark
      .sql(s"SELECT cms_estimate(cms_sketch(s, 7, 1024), '${rows.head._1}') FROM sql_comp")
      .collect()(0).getLong(0)
    assert(cmsEst >= trueCount)
    val contains = spark
      .sql("""SELECT bloom_might_contain(bloom_sketch(id, 10000, 0.01), 42L),
                     bloom_might_contain(bloom_sketch(id, 10000, 0.01), -99999L)
              FROM sql_comp""")
      .collect()(0)
    assert(contains.getBoolean(0)) // 42 is a member: never a false negative
    // -99999 is a non-member: a false positive is allowed, so there is
    // nothing to assert about its value — evaluating the call above without
    // throwing is the check (advice-r6: the old `|| true` was a tautology)

    // order-sensitive formats (t-digest/KLL): parameterized SQL forms keep
    // their rank-error bounds vs the exact order statistics
    val sorted = rows.map(_._3).sorted
    def rankOf(x: Double): Double = {
      val i = sorted.count(_ <= x)
      i.toDouble / sorted.length
    }
    val td = spark
      .sql("SELECT tdigest_quantile(tdigest_sketch(v, 50.0), 0.5) FROM sql_comp")
      .collect()(0).getDouble(0)
    assert(math.abs(rankOf(td) - 0.5) < 0.05, s"tdigest p50 rank ${rankOf(td)}")
    val kq = spark
      .sql("SELECT kll_quantile(kll_sketch(v, 160), 0.5) FROM sql_comp")
      .collect()(0).getDouble(0)
    assert(math.abs(rankOf(kq) - 0.5) < 0.05, s"kll p50 rank ${rankOf(kq)}")

    // the hist_sketch_packed_* SQL names are aliases: byte-identical to the
    // plain native aggregate
    assert(java.util.Arrays.equals(
      bytes("SELECT hist_sketch_packed_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6) FROM sql_comp"),
      bytes("SELECT hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6) FROM sql_comp")))
    assert(java.util.Arrays.equals(
      bytes("SELECT hist_sketch_packed_custom(v, 10.0, 500.0, 900.0) FROM sql_comp"),
      bytes("SELECT hist_sketch_custom(v, 10.0, 500.0, 900.0) FROM sql_comp")))

    // wrong arity fails analysis with the builder's message, not an
    // IndexOutOfBounds
    val e = intercept[Exception] {
      spark.sql("SELECT hll_sketch(s, 12, 99) FROM sql_comp").collect()
    }
    assert(e.getMessage.contains("hll_sketch"), e.getMessage)
  }

  test("bad sketch parameters fail when the call is analyzed or built, not in a task") {
    functions.registerAll(spark)
    import spark.implicits._
    Seq(("a", 1.0)).toDF("x", "v").createOrReplaceTempView("bad_params")
    // the sketch factory's own parameter check, anywhere in the cause
    // chain, with `param` in its message
    def factoryCheck(e: Throwable, param: String = ""): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case i: IllegalArgumentException =>
          i.getMessage.startsWith("requirement failed") && i.getMessage.contains(param)
        case _ => false
      }
    for ((call, param) <- Seq("hll_sketch(x, 40)", "hll_sketch(x, 31)", "kll_sketch(v, 2)",
        "tdigest_sketch(v, 1)",
        "cms_sketch(x, 0, 10)", "cms_sketch_weighted(x, 1, 5, 0)", "bloom_sketch(x, 0)")
        .map(_ -> "") ++ Seq(
        "hist_sketch_log_linear(v, 0.0, 0.01, 0.0, 1.0)" -> "absoluteLimit",
        "hist_sketch_log_quadratic(v, 1e-3, -0.01, 0.0, 1.0)" -> "relativeLimit",
        "hist_sketch_log_optimal(v, 1e-3, 0.01, 2.0, 1.0)" -> "valueRangeLowerBound 2.0",
        "hist_sketch_log_linear(v, 1e-3, 0.01, 0.0, double('Infinity'))" ->
          "valueRangeUpperBound")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM bad_params"))
      assert(factoryCheck(e, param), s"$call: $e")
    }
    for (build <- Seq[() => org.apache.spark.sql.Column](
        () => hll_sketch(col("x"), 40), () => hll_sketch(col("x"), -1),
        () => hll_sketch_long(col("x"), 3),
        () => kll_sketch(col("v"), 2), () => tdigest_sketch(col("v"), 1.0),
        () => cms_sketch(col("x"), 0, 10), () => cms_sketch_weighted(col("x"), col("v"), 5, 0),
        () => bloom_sketch(col("x"), 0L), () => bloom_sketch(col("x"), 100L, 1.5))) {
      assert(factoryCheck(intercept[IllegalArgumentException](build())))
    }
  }

  test("every sketch scalar returns NULL when its sketch or value argument is NULL") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(17L)
    (0 until 300).map(i => (rnd.nextDouble() * 1000.0, s"item_${i % 40}", i.toLong))
      .toDF("v", "s", "k").createOrReplaceTempView("null_in")
    spark.sql("""SELECT hist_sketch(v) AS hist, hll_sketch(s) AS hll, cms_sketch(s) AS cms,
                        bloom_sketch(k, 1000) AS bf, tdigest_sketch(v) AS td,
                        kll_sketch(v) AS kll, 2.5D AS v, 'item_1' AS s, 7L AS k
                 FROM null_in""").createOrReplaceTempView("null_sk")
    // (name, arguments, how many leading arguments are row arguments)
    val layouts = Seq("log_quadratic" -> "1e-3, 1e-2, 0.0, 1e6",
      "log_linear" -> "1e-3, 1e-2, 0.0, 1e6", "log_optimal" -> "1e-3, 1e-2, 0.0, 1e6",
      "otel" -> "6", "custom" -> "10.0, 100.0")
    val cases: Seq[(String, Seq[String], Int)] = Seq(
      ("hist_quantile", Seq("hist", "0.5D"), 2),
      ("hist_quantile", Seq("hist", "0.5D", "0.4D", "0.4D", "'mid_point'"), 2),
      ("hist_value_at_rank", Seq("hist", "10L"), 2),
      ("hist_value_at_rank", Seq("hist", "10L", "'lower_bound'"), 2),
      ("hist_quantiles", Seq("hist", "array(0.5D)"), 2),
      ("hll_estimate", Seq("hll"), 1),
      ("cms_estimate", Seq("cms", "s"), 2),
      ("cms_total", Seq("cms"), 1),
      ("bloom_might_contain", Seq("bf", "k"), 2),
      ("tdigest_quantile", Seq("td", "0.5D"), 2),
      ("tdigest_cdf", Seq("td", "v"), 2),
      ("kll_quantile", Seq("kll", "0.5D"), 2),
      ("kll_rank", Seq("kll", "v"), 2)) ++
      Seq("hist_total", "hist_min", "hist_max", "hist_underflow", "hist_overflow", "hist_bins",
        "hist_from_reference", "hist_to_reference").map(n => (n, Seq("hist"), 1)) ++
      layouts.map { case (kind, lits) => (s"hist_rebin_$kind", Seq("hist", lits), 1) } ++
      layouts.filter(l => Set("log_quadratic", "otel", "custom")(l._1)).map {
        case (kind, lits) => (s"hist_bin_index_$kind", Seq("v", lits), 1)
      }
    val scalarNames = GraftExtensions.functionTable
      .filter(_.info.getClassName == classOf[graft.spark.expressions.SketchScalar].getName)
      .map(_.name).toSet
    assert(cases.map(_._1).toSet == scalarNames)
    // a NULL literal (constant-folded) and a NULL the row computes (codegen)
    val nulls = Seq[String => String](_ => "NULL", a => s"IF(id < 0, $a, NULL)")
    val failures = for {
      (name, args, rowArgs) <- cases
      i <- 0 until rowArgs
      asNull <- nulls
    } yield {
      val call = s"$name(${args.updated(i, asNull(args(i))).mkString(", ")})"
      val got = scala.util.Try(
        spark.sql(s"SELECT $call FROM range(2) CROSS JOIN null_sk").collect().toSeq)
      if (got.toOption.exists(rows => rows.size == 2 && rows.forall(_.isNullAt(0)))) None
      else Some(s"$call -> $got")
    }
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n"))
  }

  test("SQL surface: cms_total, tdigest_cdf and kll_rank equal the DSL over one blob") {
    functions.registerAll(spark)
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(123L)
    val rows = (0 until 4000).map { i =>
      (s"item_${rnd.nextInt(500)}", (i % 7 + 1).toLong, rnd.nextDouble() * 1000.0, i.toLong)
    }
    rows.toDF("s", "w", "v", "id").createOrReplaceTempView("sql_comp")
    // t-digest and KLL merges depend on partial order: build the blobs once
    // and query the same bytes through both surfaces
    val blobs = spark
      .sql("""SELECT cms_sketch(s, 7, 1024) AS cms, tdigest_sketch(v, 50.0) AS td,
                     kll_sketch(v, 160) AS kll FROM sql_comp""")
      .collect()(0)
    val sk = Seq((blobs.getAs[Array[Byte]](0), blobs.getAs[Array[Byte]](1),
      blobs.getAs[Array[Byte]](2))).toDF("cms", "td", "kll")
    sk.createOrReplaceTempView("sql_comp_sk")
    val sql = spark
      .sql("SELECT cms_total(cms), tdigest_cdf(td, 500.0D), kll_rank(kll, 500.0D) FROM sql_comp_sk")
      .collect()(0)
    val dsl = sk
      .select(
        cms_total(col("cms")), tdigest_cdf(col("td"), lit(500.0)), kll_rank(col("kll"), lit(500.0)))
      .collect()(0)
    assert(sql.getLong(0) == dsl.getLong(0))
    assert(sql.getDouble(1) == dsl.getDouble(1))
    assert(sql.getLong(2) == dsl.getLong(2))
    assert(sql.getLong(0) == rows.length.toLong)
    val exact = rows.count(_._3 <= 500.0).toDouble / rows.length
    assert(math.abs(sql.getDouble(1) - exact) < 0.05, s"tdigest cdf ${sql.getDouble(1)} vs $exact")
    val kllFrac = sql.getLong(2).toDouble / rows.length // kll_rank counts values <= x
    assert(math.abs(kllFrac - exact) < 0.05, s"kll rank fraction $kllFrac vs $exact")
  }
}
