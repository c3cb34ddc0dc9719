package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Layout, LogQuadraticLayout}
import graft.spark.{functions => F}

/** One timed operation: its wall time, the CPU time and the heap bytes
 * allocated by the whole JVM meanwhile, and the work items it covered. */
final case class Sample(
    label: String, seconds: Double, cpuSeconds: Double, allocBytes: Long, items: Long)

/** One workload iteration: its timed samples, the operations that threw,
 * and a deferred output check that returns one message per wrong result.
 * Checks run after the timed loop and the memory reading, against
 * references made only then; a check holds just the small results its
 * iteration collected. A failed check marks the iteration's samples wrong. */
final case class Iter(samples: Seq[Sample], check: () => Seq[String], thrown: Seq[String] = Nil)

trait Workload {
  def name: String
  def item: String
  /** Input staging (part of set-up). */
  def stage(): Unit = ()
  /** Exact references for the output checks (after the timed loop). */
  def prepareChecks(): Unit = ()
  def iteration(i: Int, t: Tracer): Iter
  /** Untimed iterations before timing, so the JIT and caches settle. */
  def warmups: Int
  /** Iterations per side in a traced run: fixed, so counts repeat; even,
   * so the ABBA order balances. */
  def tracedIterations: Int
  /** Values the L0 histogram loops record: the workload's own inputs. */
  def values: Array[Double]
  /** `n` conversation turns (conv_id, turn_idx, text, tool) for the
   * sketch and DSL probes of a traced run. */
  def probeTurns(n: Int): DataFrame
  def sizes: Seq[(String, String)]
  /** Named metrics beyond timing, e.g. stored bytes or error ratios. */
  def extras: Seq[(String, Double)] = Nil
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Runs one operation and returns its sample. */
  def sample[T](label: String, items: => Long)(body: => T): (T, Sample) = {
    val a0 = threads.getTotalThreadAllocatedBytes
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    (r, Sample(label, wall, cpu, threads.getTotalThreadAllocatedBytes - a0, items))
  }

  /** SciPy `mquantiles` (alphap = betap = 0.4) over sorted values. */
  def sciPyQuantile(sorted: Array[Double], p: Double): Double = {
    val n = sorted.length
    if (n == 1) return sorted(0)
    val aleph = n * p + (0.4 + p * (1 - 0.4 - 0.4))
    val k = math.min(math.max(math.floor(aleph).toInt, 1), n - 1)
    val gamma = math.min(math.max(aleph - k, 0.0), 1.0)
    (1 - gamma) * sorted(k - 1) + gamma * sorted(k)
  }

  /** |estimate - exact| as a share of the layout's error limit at `exact`. */
  def errOverBound(layout: Layout, est: Double, exact: Double): Double = {
    val (abs, rel) = layout match {
      case l: graft.core.ErrorLimitingLayout => (l.absoluteLimit, l.relativeLimit)
    }
    math.abs(est - exact) / math.max(abs, rel * math.abs(exact))
  }

  def dirBytes(path: String): Long = {
    val files = Option(new File(path).listFiles()).getOrElse(Array.empty[File])
    files.filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length()).sum
  }

  val Layout: LogQuadraticLayout = LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)
  val Ps: Seq[Double] = Seq(0.001, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
}

/** Synthesized turn lengths: log-uniform on [10, 10^4] from a seeded hash
 * of the row id. The plain-Scala twin reproduces the same doubles. */
object TurnGen {
  private val Unit53 = 1.0 / (1L << 53)
  private val LnLo = math.log(10.0)
  private val LnSpan = math.log(1e4) - math.log(10.0)

  def column(id: Column, seed: Long): Column =
    exp(shiftrightunsigned(xxhash64(id, lit(seed)), 11).cast("double") *
      lit(Unit53) * lit(LnSpan) + lit(LnLo))

  def value(id: Long, seed: Long): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // xxhash64(a, b) folds its columns starting from Spark's fixed seed 42
    val h = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
    StrictMath.exp((h >>> 11).toDouble * Unit53 * LnSpan + LnLo)
  }
}

/** Conversation turns from `Transcripts.synthesize`, cut to a fixed turn
 * count so every seed does the same amount of work. */
object Turns {
  def synth(spark: SparkSession, turns: Long, seed: Long): DataFrame =
    graft.spark.Transcripts.synthesize(spark, turns / 16, seed = seed, maxTextLen = 1000)
      .orderBy(col("conv_id"), col("turn_idx")).limit(turns.toInt).toDF()

  /** The columns the probes read. */
  def probeColumns(df: DataFrame): DataFrame =
    df.select(col("conv_id"), col("turn_idx"), col("text"), col("tool"))
}

/** 4 groups over `n` synthesized rows: the record kernel dominates. */
final class HistIngest(spark: SparkSession, seed: Long, nproc: Int, n: Long) extends Workload {
  import Workload._
  val name = "hist_ingest"
  val item = "turn"
  private var exact: Array[Array[Double]] = _
  private var maxErr = 0.0

  /** One pass: the 4 role sketches, finished with the scalars. */
  def query: DataFrame =
    spark.range(0, n, 1, nproc * 4)
      .select((col("id") % 4).as("role"), TurnGen.column(col("id"), seed).as("turn_len"))
      .groupBy(col("role"))
      .agg(F.hist_sketch(col("turn_len"), Layout).as("sk"))
      .select(col("role"), F.hist_total(col("sk")), F.hist_min(col("sk")),
        F.hist_max(col("sk")), F.hist_quantiles(col("sk"), Ps))

  override def prepareChecks(): Unit = {
    exact = new Array[Array[Double]](4)
    java.util.stream.IntStream.range(0, 4).parallel().forEach { (r: Int) =>
      val x = new Array[Double](((n - r + 3) / 4).toInt)
      var k = 0
      while (k < x.length) { x(k) = TurnGen.value(4L * k + r, seed); k += 1 }
      java.util.Arrays.sort(x)
      exact(r) = x
    }
  }

  def iteration(i: Int, t: Tracer): Iter = {
    val (rows, s) = sample("pass", n)(t.span("action:collect")(query.collect()))
    Iter(Seq(s), () => check(rows))
  }

  private def check(rows: Array[Row]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (rows.length != 4) bad += s"expected 4 roles, got ${rows.length}"
    for (r <- rows) {
      val role = r.getLong(0).toInt
      val x = exact(role)
      if (r.getLong(1) != x.length) bad += s"role $role count ${r.getLong(1)} != ${x.length}"
      if (r.getDouble(2) != x(0)) bad += s"role $role min ${r.getDouble(2)} != ${x(0)}"
      if (r.getDouble(3) != x.last) bad += s"role $role max ${r.getDouble(3)} != ${x.last}"
      val qs = r.getSeq[Double](4)
      for ((p, est) <- Ps.zip(qs)) {
        val e = errOverBound(Layout, est, sciPyQuantile(x, p))
        maxErr = math.max(maxErr, e)
        if (e > 1 + 1e-9) bad += s"role $role q$p=$est exceeds the layout bound ($e)"
      }
    }
    bad.toSeq
  }

  def warmups: Int = 8
  def tracedIterations: Int = 2
  def values: Array[Double] = Array.tabulate(1 << 20)(i => TurnGen.value(i.toLong, seed))
  def probeTurns(k: Int): DataFrame = Turns.probeColumns(Turns.synth(spark, k, seed))
  def sizes: Seq[(String, String)] = Seq("rows_per_pass" -> n.toString, "groups" -> "4")
  override def extras: Seq[(String, Double)] = Seq("err_over_bound" -> maxErr)
}

/** Six sketch kinds per conversation (about 20 rows a group) over `turns`
 * staged turns. */
final class ConvSketches(spark: SparkSession, seed: Long, nproc: Int, work: String, turns: Long)
    extends Workload {
  import Workload._
  val name = "conv_sketches"
  val item = "turn"
  private val turnsPath = s"$work/conv_turns"
  private val outPath = s"$work/conv_sketch_table"
  private var convs = 0L
  private var sampledIds: Seq[String] = Nil
  private var sampled: Map[String, Array[Double]] = Map.empty
  private var storedBytes = 0L
  private var maxErr = 0.0

  override def stage(): Unit = {
    // whole conversations per file, four files per core
    Turns.synth(spark, turns, seed).repartition(nproc * 4, col("conv_id"))
      .write.mode("overwrite").parquet(turnsPath)
    convs = spark.read.parquet(turnsPath).select(col("conv_id")).distinct().count()
    val rnd = new scala.util.Random(seed)
    sampledIds =
      ("conv-00000000" +: Seq.fill(31)(f"conv-${1 + rnd.nextInt(convs.toInt - 2)}%08d")).distinct
  }

  override def prepareChecks(): Unit =
    sampled = spark.read.parquet(turnsPath).filter(col("conv_id").isin(sampledIds: _*))
      .select(col("conv_id"), length(col("text")).cast("double")).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }

  private def sketchTable: DataFrame = {
    val aggs = ConvSketches.aggregates.map { case (k, a) => a.as(k) }
    spark.read.parquet(turnsPath).groupBy(col("conv_id")).agg(aggs.head, aggs.tail: _*)
  }

  def iteration(i: Int, t: Tracer): Iter = {
    val (_, s) = sample("pass", turns)(t.span("action:write_parquet")(
      sketchTable.write.mode("overwrite").parquet(outPath)))
    // untimed: read back what the check needs before the next pass overwrites it
    val out = spark.read.parquet(outPath)
    val totals = out.agg(count(lit(1)), sum(F.hist_total(col("hist")))).head()
    val got = out.filter(col("conv_id").isin(sampledIds: _*))
      .select(col("conv_id"), F.hist_quantiles(col("hist"), Ps)).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1))
    storedBytes = dirBytes(outPath)
    Iter(Seq(s), () => check(totals.getLong(0), totals.getLong(1), got))
  }

  private def check(rows: Long, total: Long, got: Array[(String, Seq[Double])]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (rows != convs) bad += s"rows $rows != conversations $convs"
    if (total != turns) bad += s"sum(hist_total) $total != turns $turns"
    if (got.length != sampled.size) bad += s"sampled conversations ${got.length} != ${sampled.size}"
    for ((id, qs) <- got; (p, est) <- Ps.zip(qs)) {
      val e = errOverBound(Layout, est, sciPyQuantile(sampled(id), p))
      maxErr = math.max(maxErr, e)
      if (e > 1 + 1e-9) bad += s"$id q$p=$est exceeds the layout bound ($e)"
    }
    bad.toSeq
  }

  def warmups: Int = 5
  def tracedIterations: Int = 2
  def values: Array[Double] =
    spark.read.parquet(turnsPath).select(length(col("text")).cast("double"))
      .limit(1 << 20).collect().map(_.getDouble(0))
  def probeTurns(k: Int): DataFrame = Turns.probeColumns(spark.read.parquet(turnsPath).limit(k))
  def sizes: Seq[(String, String)] =
    Seq("conversations" -> convs.toString, "turns" -> turns.toString, "max_text_len" -> "1000")
  override def extras: Seq[(String, Double)] = Seq(
    "stored_bytes_per_conv" -> storedBytes.toDouble / convs,
    "err_over_bound" -> maxErr)
}

object ConvSketches {
  /** The six aggregates of a pass over turn columns, by output column. */
  def aggregates: Seq[(String, Column)] = {
    val len = length(col("text")).cast("double")
    Seq(
      "hist" -> F.hist_sketch(len, Workload.Layout),
      "hll" -> F.hll_sketch(col("text"), 10),
      "cms" -> F.cms_sketch(col("tool"), 4, 256),
      "bloom" -> F.bloom_sketch(col("turn_idx").cast("long"), 1000),
      "kll" -> F.kll_sketch(len, 100),
      "tdigest" -> F.tdigest_sketch(len, 100.0))
  }
}
