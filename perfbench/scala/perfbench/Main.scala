package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * JVM side of the benchmark: one workload per process. Writes one JSON
 * artifact (samples, checks, set-up phases, spans, layer probes, run
 * metadata); `perfbench/run.py` turns it into metrics.
 *
 * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *   --out FILE --work DIR --data DIR --queries q01,q02,... [--smoke]
 */
object Main {
  def session(master: String, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (nproc * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the run log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val smoke = argv.contains("--smoke")
    val (workload, seed, seconds, trace) =
      (a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1")
    val (outFile, work, dataDir) = (a("out"), a("work"), a("data"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    var spark = session(s"local[$nproc]", nproc)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    val tracer = new Tracer(spark.sparkContext, trace, recorder)
    val off = new Tracer(spark.sparkContext, false, recorder)

    val w: Workload = workload match {
      case "hist_ingest" => new HistIngest(spark, seed, nproc, if (smoke) 200000L else 40000000L)
      case "conv_sketches" => new ConvSketches(spark, seed, nproc, work, if (smoke) 5000L else 500000L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val samples = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    val done = mutable.ArrayBuffer.empty[Iter]
    var attempted = 0L
    var failed = 0L
    /** Runs iteration i (negative: warm-up) and records it; its check waits. */
    def runIter(i: Int, t: Tracer): Unit = {
      val it = try t.span(s"iter:${w.name}")(w.iteration(i, t)) catch {
        case e: Throwable => Iter(Nil, () => Nil, Seq(s"iteration $i: $e"))
      }
      done += it
      for (s <- it.samples) samples += Json.obj(Seq(
        "label" -> Json.str(s.label), "seconds" -> Json.num(s.seconds),
        "cpu_seconds" -> Json.num(s.cpuSeconds), "alloc_bytes" -> Json.num(s.allocBytes),
        "items" -> Json.num(s.items), "traced" -> t.enabled.toString, "iter" -> i.toString))
    }

    note("session ready")
    val (_, stageS) = Workload.timed(w.stage())
    note("inputs staged")
    val (_, warmS) = Workload.timed((1 to w.warmups).foreach(k => runIter(-k, off)))
    note("warmed up")

    val layers = new Layers(spark, tracer, seed, smoke, nproc, work)
    val heap = new HeapWatch
    heap.on = true
    val loopStart = System.nanoTime()
    if (!trace) {
      val deadline = loopStart + (seconds * 1e9).toLong
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) { runIter(i, off); i += 1 }
    } else {
      // traced and untraced iterations alternate in ABBA order, so a warm-up
      // trend cancels out of their difference: the tracing overhead
      for (i <- 0 until 2 * w.tracedIterations)
        runIter(i, if (i % 4 == 1 || i % 4 == 2) tracer else off)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    note(s"timed loop done: ${samples.size} samples")
    val rssMb = peakRssMb()
    heap.on = false

    val (_, checkS) = Workload.timed {
      w.prepareChecks()
      for (it <- done) {
        val bad = it.check()
        attempted += it.samples.size + it.thrown.size
        failed += it.thrown.size + (if (bad.nonEmpty) it.samples.size else 0)
        failures ++= (it.thrown ++ bad).take(20)
      }
    }
    note("outputs checked")

    if (trace) {
      layers.core(w.values)
      note("core probes done")
      layers.sketches(w.probeTurns(if (smoke) 1 << 10 else 1 << 15))
      note("sketches probes done")
      layers.functions(w.probeTurns(if (smoke) 20000 else 200000))
      note("functions probes done")
      val thrown = layers.sparkEntry(dataDir, a("queries").split(",").toSeq)
      attempted += a("queries").split(",").length
      failed += thrown.size
      failures ++= thrown
      note("SparkEntry pass done")
      // scaling last: it replaces the session
      val rows = if (smoke) 200000L else 3000000L
      val tN = Layers.passSeconds(new HistIngest(spark, seed, nproc, rows), 2)
      spark.stop()
      spark = session("local[1]", 1)
      val t1 = Layers.passSeconds(new HistIngest(spark, seed, nproc, rows), 2)
      layers.out("runtime.scaling_eff") = t1 / tN / nproc
      note("scaling probe done")
    }

    val rt = Runtime.getRuntime
    val meta = Seq(
      "workload" -> Json.str(w.name), "seed" -> seed.toString, "trace" -> trace.toString,
      "smoke" -> smoke.toString, "seconds" -> Json.num(seconds), "nproc" -> nproc.toString,
      "heap_max_mb" -> Json.num(rt.maxMemory() / 1048576L),
      "spark_version" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "item" -> Json.str(w.item),
      "sizes" -> Json.obj(w.sizes.map { case (k, v) => k -> Json.str(v) }))
    val json = Json.obj(Seq(
      "meta" -> Json.obj(meta),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS), "stage_s" -> Json.num(stageS),
        "warmup_s" -> Json.num(warmS))),
      "check_s" -> Json.num(checkS),
      "loop_s" -> Json.num(loopS),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "samples" -> Json.arr(samples),
      "extras" -> Json.obj(w.extras.map { case (k, v) => k -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(rssMb),
      "heap_after_gc_mb" -> Json.arr(heap.samples.map(x => Json.num(x))),
      "runtime_total" -> recorder.total.json,
      "layers" -> Json.obj(layers.out.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> tracer.json))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    spark.stop()
  }
}
