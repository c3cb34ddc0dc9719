package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.sketches._
import graft.spark.{functions => F}

/**
 * Per-layer probes of the traced run. Every probe is a span around calls
 * into one layer's public functions; L0 kernel loops record the
 * workload's own values.
 */
final class Layers(spark: SparkSession, t: Tracer, seed: Long, smoke: Boolean, nproc: Int,
    work: String) {
  val out = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var blackhole = 0L

  /** Median ns per operation over repetitions of `body` (ops per rep). */
  private def kernel(name: String, ops: Int)(body: => Long): Unit = {
    val budgetNs = if (smoke) 5e6 else 1.5e8
    val times = mutable.ArrayBuffer.empty[Double]
    t.span(s"kernel:$name") {
      val start = System.nanoTime()
      while (times.size < 5 || (System.nanoTime() - start < budgetNs && times.size < 200)) {
        val t0 = System.nanoTime()
        blackhole += body
        times += (System.nanoTime() - t0).toDouble / ops
      }
    }
    out(name) = Stats.median(times.toSeq)
  }

  def core(values: Array[Double]): Unit = t.span("layer:core") {
    val vs = values.take(if (smoke) 1 << 12 else 1 << 18)
    def lay(f: (Double, Double, Double, Double) => Layout) = f(1e-2, 1e-2, 0, 1e9)
    val layouts = Seq(
      "log_linear" -> lay(LogLinearLayout(_, _, _, _)),
      "log_quadratic" -> lay(LogQuadraticLayout(_, _, _, _)),
      "log_optimal" -> lay(LogOptimalLayout(_, _, _, _)),
      "otel" -> OtelExponentialLayout(6))
    def record(h: Histogram): Long = {
      var i = 0
      while (i < vs.length) { h.addValue(vs(i)); i += 1 }
      h.totalCount
    }
    for ((n, l) <- layouts) kernel(s"core.record_ns.$n.plain", vs.length)(record(Histogram(l)))
    val lq = layouts(1)._2
    kernel("core.record_ns.log_quadratic.static", vs.length)(record(Histogram.static(lq)))
    kernel("core.record_ns.log_quadratic.packed", vs.length)(record(Histogram.packed(lq)))

    // per-conversation sizes: 20 values per histogram
    val hs = vs.grouped(20).take(2000).map { g =>
      val h = Histogram(lq); g.foreach(h.addValue); h
    }.toArray
    val blobs = hs.map(SketchEnvelope.toBytes)
    kernel("core.merge_ns", hs.length) {
      val acc = Histogram(lq); hs.foreach(acc.add(_)); acc.totalCount
    }
    kernel("core.encode_ns", hs.length)(hs.map(SketchEnvelope.toBytes(_).length.toLong).sum)
    kernel("core.decode_ns", blobs.length)(blobs.map(SketchEnvelope.fromBytes(_).totalCount).sum)
    kernel("core.quantile_ns", hs.length)(hs.map(_.quantile(0.5).toLong).sum)
    out("core.blob_bytes") = blobs.map(_.length.toDouble).sum / blobs.length
  }

  /** L0 loops of the five companion sketches over conversation turns, with
   * conv_sketches' parameters: HLL over text, CMS over tool, Bloom over
   * turn_idx, KLL and t-digest over text length. Merge and decode run on one
   * sketch per conversation, as a pass's final aggregation does. */
  def sketches(turns: DataFrame): Unit = t.span("layer:sketches") {
    val rows = turns.collect()
    val conv = rows.map(_.getString(0))
    val idx = rows.map(_.getInt(1).toLong)
    val text = rows.map(_.getString(2))
    val tool = rows.map(_.getString(3))
    val len = text.map(_.length.toDouble)
    final case class Kind[S](
        name: String, make: () => S, add: (S, Int) => Unit, merge: (S, S) => Unit,
        bytes: S => Array[Byte], decode: Array[Byte] => Any)
    val kinds: Seq[Kind[_]] = Seq(
      Kind[Hll]("hll", () => Hll(10), (s, i) => s.addString(text(i)), (a, b) => a.merge(b),
        _.toBytes, Hll.fromBytes),
      Kind[CountMin]("cms", () => CountMin(4, 256), (s, i) => if (tool(i) != null) s.addString(tool(i)),
        (a, b) => a.merge(b), _.toBytes, CountMin.fromBytes),
      Kind[BloomFilter]("bloom", () => BloomFilter(1000, 0.01), (s, i) => s.addLong(idx(i)),
        (a, b) => a.merge(b), _.toBytes, BloomFilter.fromBytes),
      Kind[Kll]("kll", () => Kll(100), (s, i) => s.add(len(i)), (a, b) => a.merge(b),
        _.toBytes, Kll.fromBytes),
      Kind[TDigest]("tdigest", () => TDigest(100.0), (s, i) => s.add(len(i)),
        (a, b) => a.merge(b), _.toBytes, TDigest.fromBytes))
    val perConv = rows.indices.groupBy(conv(_)).values.take(500).toSeq
    def probe[S](k: Kind[S]): Unit = {
      kernel(s"sketches.${k.name}.update_ns", rows.length) {
        val s = k.make(); var i = 0
        while (i < rows.length) { k.add(s, i); i += 1 }
        k.bytes(s).length.toLong
      }
      val small = perConv.map { is => val s = k.make(); is.foreach(k.add(s, _)); s }
      val blobs = small.map(k.bytes)
      kernel(s"sketches.${k.name}.merge_ns", small.size) {
        val acc = k.make(); small.foreach(k.merge(acc, _)); k.bytes(acc).length.toLong
      }
      kernel(s"sketches.${k.name}.decode_ns", blobs.size)(blobs.map(k.decode(_).hashCode.toLong).sum)
    }
    kinds.foreach(k => probe(k))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timedMedian(name: String, reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); t.span(name)(body); (System.nanoTime() - t0) / 1e9
    })

  /** The DSL aggregates and scalars: hist_sketch through hist_ingest's own
   * pass, the other aggregates and everything at many groups over
   * conversation turns (cached) with conv_sketches' parameters. */
  def functions(turns: DataFrame): Unit = t.span("layer:functions") {
    val aggs = ConvSketches.aggregates
    val conv = turns.repartition(nproc * 4).cache()
    val n = t.span("action:cache")(conv.count())
    def byHash(groups: Long): Column = pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(groups))
    val ingestRows = if (smoke) 200000L else 10000000L
    val ingest = new HistIngest(spark, seed, nproc, ingestRows)
    out("functions.hist_sketch.rows_per_s") =
      ingestRows / timedMedian("action:agg4:hist_sketch", 3)(ingest.query.collect())
    for ((k, a) <- aggs.tail) {
      out(s"functions.${k}_sketch.rows_per_s") =
        n / timedMedian(s"action:agg4:${k}_sketch", 3)(noop(conv.groupBy(byHash(4)).agg(a)))
      Main.note(s"functions ${k}_sketch at 4 groups")
    }
    val groups = n / 2
    for ((k, a) <- aggs) {
      t.span(s"action:agg_groups:${k}_sketch")(noop(conv.groupBy(byHash(groups)).agg(a)))
      out(s"functions.${k}_sketch.shuffle_bytes_per_group") =
        t.lastClosed.flatMap(s => t.recorder.countsOf(s.id)).map(_.shuffleWriteBytes)
          .getOrElse(0L).toDouble / groups
    }
    Main.note(s"functions at $groups groups")
    val table = s"$work/l1_sketch_table"
    val stored = n / 10
    t.span("action:write_table")(conv.groupBy(byHash(stored).as("g"))
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (k, a) => a.as(k) }: _*)
      .write.mode("overwrite").parquet(table))
    conv.unpersist()
    val storedDf = spark.read.parquet(table)
    val scalars = Seq(
      "hist_quantile" -> F.hist_quantile(col("hist"), 0.5),
      "hll_estimate" -> F.hll_estimate(col("hll")),
      "cms_estimate" -> F.cms_estimate(col("cms"), lit("search")),
      "bloom_might_contain" -> F.bloom_might_contain(col("bloom"), lit(7L)),
      "kll_quantile" -> F.kll_quantile(col("kll"), 0.5),
      "tdigest_quantile" -> F.tdigest_quantile(col("tdigest"), 0.5))
    for ((name, c) <- scalars) {
      val df = storedDf.select(c)
      out(s"functions.$name.ns_per_row") = timedMedian(s"action:scalar:$name", 3)(noop(df)) * 1e9 / stored
    }
  }

  /**
   * The SparkEntry layer: one pass of the given SparkEntry queries over the
   * fixed seed-42 tables their oracle is tied to. Each query is timed
   * through [[Layers.sink]], which evaluates every output column and keeps
   * the result for the DuckDB oracle (run after the JVM exits). Returns
   * the queries that threw.
   */
  def sparkEntry(dataDir: String, queries: Seq[String]): Seq[String] = t.span("layer:SparkEntry") {
    val dir = s"$work/suite_results"
    new java.io.File(dir).mkdirs()
    val oracle = queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), Json.obj(oracle))
    queries.flatMap { q =>
      try { t.span(s"query:$q")(Layers.sink(graft.SparkEntry.queries(q)(spark, dataDir), s"$dir/$q")); None }
      catch { case e: Throwable => Some(s"$q: $e") }
    }
  }
}

object Layers {
  /** The SparkEntry query sink: a parquet write evaluates every output column
   * (unlike `.count()`, which lets the optimizer prune them). */
  def sink(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Median seconds of hist_ingest's own pass, after one untimed pass. */
  def passSeconds(w: HistIngest, reps: Int): Double = {
    w.query.collect()
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); w.query.collect(); (System.nanoTime() - t0) / 1e9
    })
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
