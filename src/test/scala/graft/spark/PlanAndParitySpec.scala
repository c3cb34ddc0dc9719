package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, length => sqlLength}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LogQuadraticLayout
import graft.spark.functions._

/** Physical-plan hygiene and accuracy parity against Spark's built-in
 * approximate aggregates. */
class PlanAndParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
  private val sf = "/root/testdata/sf0.001"

  test("sketch aggregation prunes the parquet scan to the needed column") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    // ReadSchema must contain only the aggregated column, none of the other 10
    assert(plan.contains("l_extendedprice"))
    assert(!plan.contains("l_comment") && !plan.contains("l_orderkey"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(
      readSchema.contains("l_extendedprice") && !readSchema.contains("l_quantity"),
      s"scan not pruned: $readSchema")
  }

  test("weighted sketch and rollup driver queries prune their parquet scans") {
    // q26: weighted aggregation reads exactly (value, weight)
    val q26 = graft.SparkEntry.queries("q26_weighted_hist")(spark, sf)
    val rs26 = q26.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs26.contains("l_extendedprice") && rs26.contains("l_linenumber"))
    assert(!rs26.contains("l_quantity") && !rs26.contains("l_orderkey"),
      s"q26 scan not pruned: $rs26")
    // q27's level-1 sketch table reads only the five sketched columns
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .groupBy(col("l_linestatus"))
      .agg(
        hist_sketch(col("l_extendedprice"), layout),
        hll_sketch_long(col("l_partkey")),
        cms_sketch(col("l_returnflag")))
    val rs27 = partials.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs27.contains("l_partkey") && rs27.contains("l_linestatus"))
    assert(!rs27.contains("l_quantity") && !rs27.contains("l_discount"),
      s"q27 scan not pruned: $rs27")
  }

  test("filters push down to the parquet scan below the sketch aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li
      .filter(col("l_quantity") > 10)
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10"))
  }

  test("sketch aggregation plans as partial + final ObjectHashAggregate") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def plan(sketch: Column): String = li
      .groupBy(col("l_linenumber"))
      .agg(sketch)
      .queryExecution
      .executedPlan
      .toString
    // map-side partial on the codegen'd sketch operator, final on ObjectHashAggregate
    for (p <- Seq(plan(hist_sketch(col("l_extendedprice"), layout)),
        // the native TypedImperativeAggregate variant plans identically
        plan(hist_sketch_binary(col("l_extendedprice"), layout)))) {
      assert("PartialSketchAggregate".r.findAllIn(p).size == 1, s"no partial phase:\n$p")
      assert("ObjectHashAggregate".r.findAllIn(p).size == 1, s"no final phase:\n$p")
      assert(p.indexOf("ObjectHashAggregate") < p.indexOf("PartialSketchAggregate"), p)
      assert(p.contains("partial_hist_sketch("), s"no partial phase:\n$p")
    }
    // a string key keeps ObjectHashAggregate for both phases
    val byFlag = li
      .groupBy(col("l_returnflag"))
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    assert("ObjectHashAggregate".r.findAllIn(byFlag).size == 2, byFlag)
    assert(byFlag.contains("partial_hist_sketch("), byFlag)
  }

  test("HLL accuracy is in the same class as approx_count_distinct (HLL++)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val row = orders
      .agg(
        hll_sketch_long(col("o_custkey")).as("ours"),
        org.apache.spark.sql.functions.approx_count_distinct(col("o_custkey")).as("theirs"),
        countDistinct(col("o_custkey")).as("exact"))
      .select(hll_estimate(col("ours")).as("ours"), col("theirs"), col("exact"))
      .collect()(0)
    val exact = row.getLong(2).toDouble
    val ourErr = math.abs(row.getDouble(0) - exact) / exact
    val theirErr = math.abs(row.getLong(1) - exact) / exact
    assert(ourErr <= 0.05, s"our HLL err $ourErr")
    // same accuracy class: within 3x of the built-in (both ~1% sketches)
    assert(ourErr <= math.max(0.03, 3 * theirErr), s"ours=$ourErr theirs=$theirErr")
  }

  test("KLL quantiles agree with percentile_approx within rank tolerance") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val row = li
      .agg(
        kll_sketch(col("l_extendedprice"), 200).as("kll"),
        org.apache.spark.sql.functions
          .percentile_approx(col("l_extendedprice"), org.apache.spark.sql.functions.lit(0.5),
            org.apache.spark.sql.functions.lit(10000))
          .as("pa"))
      .select(kll_quantile(col("kll"), 0.5).as("ours"), col("pa"))
      .collect()(0)
    val n = li.count()
    val ourRank = li.filter(col("l_extendedprice") <= row.getDouble(0)).count().toDouble / n
    val theirRank = li.filter(col("l_extendedprice") <= row.getDouble(1)).count().toDouble / n
    assert(math.abs(ourRank - 0.5) <= 0.02, s"our rank $ourRank")
    assert(math.abs(ourRank - 0.5) <= math.abs(theirRank - 0.5) + 0.02)
  }

  test("bloom filter parity with df.stat.bloomFilter on membership") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val n = cust.count()
    val ours = graft.sketches.BloomFilter.fromBytes(
      cust.agg(bloom_sketch(col("c_custkey"), n, 0.01)).collect()(0).getAs[Array[Byte]](0))
    val theirs = cust.stat.bloomFilter("c_custkey", n, 0.01)
    val keys = cust.select(col("c_custkey")).collect().map(_.getLong(0))
    assert(keys.forall(ours.mightContainLong), "our bloom has a false negative")
    assert(keys.forall(theirs.mightContainLong(_)), "spark bloom has a false negative")
  }

  test("driver smoke: SparkEntry.entry returns rows at sf0.001") {
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getLong(1) > 0)) // n_turns per role
  }

  test("date-partitioned transcript layout: partition pruning reaches the scan") {
    // Iceberg-shaped layout without Iceberg jars: the transcript table is
    // written hive-partitioned by day; a day-ranged sketch query must prune
    // to the matching partitions (the plan carries PartitionFilters and the
    // scan reads only the selected directories)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      val rnd = new java.util.SplittableRandom(9L)
      val rows = (0 until 20000).map { i =>
        (s"conv${i % 500}", i / 500, f"2026-01-${1 + i % 10}%02d", rnd.nextDouble() * 1e4)
      }
      rows.toDF("conv_id", "turn_idx", "day", "turn_len")
        .write.partitionBy("day").mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
        .filter(col("day") === "2026-01-03")
        .agg(hist_sketch(col("turn_len"), layout).as("sk"))
        .select(functions.hist_total(col("sk")).as("n"))
      val plan = df.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("day"), s"no partition filter on day:\n$plan")
      // pruning really happened: only 1 of 10 day-directories is read
      // (sparkPlan, not executedPlan: the AQE wrapper is a leaf node that
      // hides the scan from collectLeaves)
      val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.nonEmpty, s"no file scan found:\n$plan")
      assert(
        scan.get.selectedPartitions.partitionCount == 1,
        s"expected 1 pruned partition, got ${scan.get.selectedPartitions.partitionCount}")
      assert(df.collect()(0).getLong(0) == rows.count(_._3 == "2026-01-03").toLong)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("hist_sketch_packed names build hist_sketch's aggregate, planned once beside it") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import spark.implicits._
    def aggregateFunctions(df: DataFrame) = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction })
    def partials(df: DataFrame): Int =
      "partial_hist_sketch\\(".r.findAllIn(df.queryExecution.sparkPlan.toString).size
    val df = Seq(("a", 1L, 3.0), ("a", 2L, 40.0), ("b", 1L, 700.0)).toDF("source", "k", "v")
    // DSL: one input, both names, one aggregate in the plan
    val dsl = df.groupBy(col("k"))
      .agg(hist_sketch(col("v"), layout).as("sk"), hist_sketch_packed(col("v"), layout).as("skp"))
    val Seq(plain, packed) = aggregateFunctions(dsl)
    assert(packed == plain)
    assert(partials(dsl) == 1, dsl.queryExecution.sparkPlan)
    // SQL: both builders, and a q33-shaped query over a string key
    functions.registerAll(spark)
    df.createOrReplaceTempView("packed_alias_t")
    for ((packedCall, plainCall) <- Seq(
        "hist_sketch_packed_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6)" ->
          "hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6)",
        "hist_sketch_packed_custom(v, 10.0, 500.0, 900.0)" ->
          "hist_sketch_custom(v, 10.0, 500.0, 900.0)")) {
      val q = spark.sql(s"SELECT source, $plainCall AS sk, $packedCall AS skp " +
        "FROM packed_alias_t GROUP BY source")
      val Seq(p, pk) = aggregateFunctions(q)
      assert(pk == p, packedCall)
      assert(partials(q) == 1, q.queryExecution.sparkPlan)
    }
  }

  test("GraftExtensions installs the SQL surface via withExtensions") {
    val prior = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a NEW session on the shared context, with extensions applied
      val s2 = SparkSession
        .builder()
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne prior)
      s2.range(100).createOrReplaceTempView("ext_t")
      val r = s2
        .sql("SELECT hist_total(hist_sketch(CAST(id AS DOUBLE))) AS n FROM ext_t")
        .collect()(0)
      assert(r.getLong(0) == 100L)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  /** A new session on the shared context, built with [[GraftExtensions]]. */
  private lazy val extensionsSession: SparkSession = {
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      SparkSession.builder()
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  /** A new session on the shared context, set up with `registerAll`. */
  private lazy val registeredSession: SparkSession = {
    val s = spark.newSession()
    functions.registerAll(s)
    s
  }

  test("GraftExtensions and registerAll install the same SQL functions") {
    val ext = extensionsSession
    val reg = registeredSession
    assert(ext ne spark)
    def allNames(s: SparkSession): Set[String] =
      s.catalog.listFunctions().collect().map(_.name).toSet
    val builtin = allNames(spark.newSession())
    def names(s: SparkSession): Set[String] = allNames(s) -- builtin
    val layouts = Seq("log_quadratic", "log_linear", "log_optimal", "otel", "custom")
    val expected = Set("hist_sketch", "hist_sketch_weighted", "hist_quantile",
      "hist_value_at_rank", "hist_from_reference", "hist_to_reference", "hist_quantiles",
      "hist_total", "hist_min", "hist_max", "hist_underflow", "hist_overflow", "hist_bins",
      "hll_sketch", "cms_sketch", "cms_sketch_weighted", "bloom_sketch", "tdigest_sketch",
      "kll_sketch", "hist_sketch_weighted_log_quadratic", "hist_sketch_weighted_custom",
      "hist_sketch_packed_log_quadratic", "hist_sketch_packed_custom",
      "hist_bin_index_log_quadratic", "hist_bin_index_otel", "hist_bin_index_custom",
      "hist_merge", "hll_merge", "cms_merge", "bloom_merge", "tdigest_merge", "kll_merge",
      "hll_estimate", "cms_estimate", "cms_total", "bloom_might_contain", "tdigest_quantile",
      "tdigest_cdf", "kll_quantile", "kll_rank", "token_count", "bpeish_token_count",
      "quality_score", "lang_id", "doc_fingerprint", "simhash64", "hamming64",
      "shingle_jaccard", "minhash_signature", "cosine_sim") ++
      layouts.map("hist_sketch_" + _) ++ layouts.map("hist_rebin_" + _)
    assert(expected.size == 60)
    assert(names(ext) == expected, (names(ext) -- expected, expected -- names(ext)))
    assert(names(reg) == expected, (names(reg) -- expected, expected -- names(reg)))

    // every companion and text scalar resolves and evaluates alike on both
    // sessions
    val calls = Seq("hll_estimate(hll)", "cms_estimate(cms, s)", "cms_total(cms)",
      "bloom_might_contain(bf, id)", "tdigest_quantile(td, 0.5D)", "tdigest_cdf(td, v)",
      "kll_quantile(kll, 0.5D)", "kll_rank(kll, v)", "token_count(s)",
      "bpeish_token_count(s)", "quality_score(s)", "lang_id(s)", "doc_fingerprint(s)",
      "simhash64(s)", "hamming64(id, 3L)", "shingle_jaccard(s, 'the quick fox', 3)",
      "size(minhash_signature(s, 16, 3))", "cosine_sim(vec, vec)")
    def evaluate(sess: SparkSession): (Seq[String], Seq[Any]) = {
      sess.sql("""SELECT 'the quick brown fox' AS s, 7L AS id, 2.5D AS v,
                         array(1.0F, 2.0F) AS vec""").createOrReplaceTempView("udf_t")
      sess.sql("""SELECT hll_sketch(s) AS hll, cms_sketch(s) AS cms, bloom_sketch(id, 100) AS bf,
                         tdigest_sketch(v) AS td, kll_sketch(v) AS kll FROM udf_t""")
        .createOrReplaceTempView("udf_sk")
      val df = sess.sql(s"SELECT ${calls.mkString(", ")} FROM udf_t CROSS JOIN udf_sk")
      (df.columns.toSeq, df.collect()(0).toSeq)
    }
    val (extColumns, extValues) = evaluate(ext)
    assert(evaluate(reg) == ((extColumns, extValues)))
    assert(extColumns.take(3) == Seq("hll_estimate(hll)", "cms_estimate(cms, s)", "cms_total(cms)"))
    assert(extValues(1) == 1L && extValues(2) == 1L)

    // the column header of a SQL call and of a DSL call names the function
    for (sess <- Seq(ext, reg)) {
      assert(sess.sql("SELECT hll_estimate(hll) FROM udf_sk").columns.toSeq ==
        Seq("hll_estimate(hll)"))
      assert(sess.table("udf_sk").select(hll_estimate(col("hll"))).columns.toSeq ==
        Seq("hll_estimate(hll)"))
    }
  }

  test("DESCRIBE FUNCTION reports each function's own class on both install paths") {
    import graft.spark.expressions.{SketchAgg, SketchScalar}
    def classLine(s: SparkSession, name: String): String =
      s.sql(s"DESCRIBE FUNCTION EXTENDED $name").collect().map(_.getString(0))
        .find(_.startsWith("Class:")).getOrElse(fail(s"no Class: line for $name"))
    for ((name, cls) <- Seq(
        "hll_sketch" -> classOf[SketchAgg[_]], "hist_rebin_custom" -> classOf[SketchScalar])) {
      val line = classLine(extensionsSession, name)
      assert(line == s"Class: ${cls.getName}")
      assert(classLine(registeredSession, name) == line)
    }
  }

  test("every DSL and SQL sketch aggregate is a native aggregate, never a udaf wrapper") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    // Spark plans `udaf(Aggregator)` as a ScalaAggregator (kryo-encoded
    // buffers) and a UserDefinedAggregateFunction as a ScalaUDAF
    def aggregates(e: Expression): Seq[String] =
      e.collect { case a: AggregateFunction => a.getClass.getName }
    def wrapped(cls: String): Boolean =
      cls.endsWith(".ScalaAggregator") || cls.endsWith(".ScalaUDAF")
    def native(classes: Seq[String]): Boolean =
      classes.nonEmpty && classes.forall(_.startsWith("graft.spark.expressions."))
    val sketchAggregates = Seq("hist_sketch", "hist_sketch_weighted", "hll_sketch",
      "cms_sketch", "cms_sketch_weighted", "bloom_sketch", "tdigest_sketch", "kll_sketch",
      "hist_merge", "hll_merge", "cms_merge", "bloom_merge", "tdigest_merge", "kll_merge")

    // DSL: every Column-returning method of `functions`, called with
    // placeholder arguments of its parameter types (a double or a binary
    // column for each Column), analyzed in a select
    import spark.implicits._
    val guard = Seq((1.0, 1L, Array[Byte](1))).toDF("x", "w", "b")
    // a double is a probability, except t-digest's compression (at least
    // 10), which is checked when the column is built
    def placeholder(c: Class[_], column: String, fn: String): AnyRef =
      if (c == classOf[Column]) col(column)
      else if (classOf[graft.core.Layout].isAssignableFrom(c)) layout
      else if (c == java.lang.Integer.TYPE) Int.box(12)
      else if (c == java.lang.Long.TYPE) Long.box(1000L)
      else if (c == java.lang.Double.TYPE) Double.box(if (fn == "tdigest_sketch") 100.0 else 0.5)
      else if (c == classOf[String]) "uniform"
      else if (c == classOf[Seq[_]]) Seq(0.5)
      else fail(s"no placeholder for $c")
    val dsl = functions.getClass.getMethods.toSeq
      .filter(m => m.getReturnType == classOf[Column] && !m.getName.contains("$"))
      .map { m =>
        m.getName -> Seq("x", "b").flatMap { column =>
          val args = m.getParameterTypes.map(placeholder(_, column, m.getName))
          val c = m.invoke(functions, args: _*)
          scala.util.Try(guard.select(c.asInstanceOf[Column]).queryExecution.analyzed
            .flatMap(_.expressions.flatMap(aggregates))).getOrElse(Nil)
        }
      }
      .filter(_._2.nonEmpty)
    val dslWrapped = dsl.filter(_._2.exists(wrapped))
    assert(dslWrapped.isEmpty, s"DSL aggregates on a udaf wrapper: $dslWrapped")
    val dslNative = dsl.filter(d => native(d._2)).map(_._1).toSet
    assert((sketchAggregates.toSet ++ Set("hll_sketch_long", "hist_sketch_packed"))
      .subsetOf(dslNative), s"DSL aggregates not native: $dsl")

    // SQL: every function of the table registerAll installs, analyzed over
    // argument lists that fit each sketch aggregate's and scalar's signature
    val s = spark.newSession()
    functions.registerAll(s)
    s.createDataFrame(guard.rdd, guard.schema).createOrReplaceTempView("guard_t")
    val valueArgs = Seq("x", "x, w", "x, 4", "x, 12", "x, 5, 64", "x, w, 5, 64",
      "x, 1e-3, 1e-2, 0.0, 1e6", "x, w, 1e-3, 1e-2, 0.0, 1e6")
    val argLists = valueArgs ++ valueArgs.map("b" + _.drop(1)) ++
      Seq("'a'", "b, 'a'", "b, w, 'uniform'", "b, x, 0.4, 0.4, 'uniform'", "b, array(0.5D)")
    val names = GraftExtensions.functionTable.map(_.name)
    val analyzed = names.map { name =>
      name -> argLists.flatMap { args =>
        scala.util.Try(s.sql(s"SELECT $name($args) FROM guard_t").queryExecution.analyzed)
          .toOption.toSeq.flatMap(_.flatMap(_.expressions))
      }
    }
    val sql = analyzed.map { case (name, es) => name -> es.flatMap(aggregates) }
      .filter(_._2.nonEmpty)
    val sqlWrapped = sql.filter(_._2.exists(wrapped))
    assert(sqlWrapped.isEmpty, s"SQL aggregates on a udaf wrapper: $sqlWrapped")
    assert(sketchAggregates.toSet.subsetOf(sql.filter(q => native(q._2)).map(_._1).toSet),
      s"SQL aggregates not native: $sql")

    // every name but the ten text scalars analyzes, and to no ScalaUDF
    val textScalars = Set("token_count", "bpeish_token_count", "quality_score", "lang_id",
      "doc_fingerprint", "simhash64", "hamming64", "shingle_jaccard", "minhash_signature",
      "cosine_sim")
    val udfs = analyzed.map { case (name, es) =>
      name -> es.flatMap(_.collect { case u: ScalaUDF => u.udfName.getOrElse("?") })
    }.toMap
    val sketchNames = names.filterNot(textScalars)
    assert(sketchNames.size == names.size - textScalars.size)
    val unresolved = analyzed.collect { case (n, Seq()) if !textScalars(n) => n }
    assert(unresolved.isEmpty, s"no argument list analyzes: $unresolved")
    val onUdf = sketchNames.filter(n => udfs(n).nonEmpty)
    assert(onUdf.isEmpty, s"sketch functions on a ScalaUDF: $onUdf")
    // the check has teeth: a text scalar is a ScalaUDF
    assert(udfs("token_count").contains("token_count"))
  }
}
