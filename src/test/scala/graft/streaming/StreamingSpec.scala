package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LogQuadraticLayout

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.SparkTestSession.spark
  private val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)

  test("q35/q36 emission counts read a missing or null observed metric as 0") {
    import org.apache.spark.sql.Observation
    // a no-data micro-batch can complete its Observation without the
    // metric or with a null; the per-batch count must then be 0, not a
    // NoSuchElementException on the streaming thread
    val empty = spark.range(0).toDF("id")
    val other = Observation()
    empty.observe(other, count(lit(1)).as("m")).collect()
    assert(graft.SparkEntry.observedCount(other, "n") == 0L)
    val nulls = Observation()
    empty.observe(nulls, max(col("id")).as("n")).collect()
    assert(graft.SparkEntry.observedCount(nulls, "n") == 0L)
    val counted = Observation()
    spark.range(7).observe(counted, count(lit(1)).as("n")).collect()
    assert(graft.SparkEntry.observedCount(counted, "n") == 7L)
  }

  test("windowed streaming histogram equals the batch aggregation") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    try {
      val rnd = new java.util.SplittableRandom(1L)
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val rows = (0 until 20000).map { i =>
        (new java.sql.Timestamp(base.getTime + (i % 600) * 1000L), rnd.nextDouble() * 1000)
      }
      rows.toDF("ts", "v").write.parquet(s"$tmp/in")

      val stream = spark.readStream
        .schema("ts timestamp, v double")
        .parquet(s"$tmp/in")
      val agg = StreamingSketch.windowedHistogram(stream, "ts", "v", layout, "5 minutes", "1 minute")
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
      try {
        q.processAllAvailable()
      } finally q.stop()

      val streamed = spark
        .table("stream_out")
        .select(col("window_start"), col("n"), col("p50"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .toSet

      val batch = rows
        .toDF("ts", "v")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(graft.spark.functions.hist_sketch(col("v"), layout).as("sk"))
        .select(
          col("window.start"),
          graft.spark.functions.hist_total(col("sk")),
          graft.spark.functions.hist_quantile(col("sk"), 0.5))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .toSet

      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("watermark DROPS late data across micro-batches; finalized windows match batch recount") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_wm").toString
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // append output mode: a window row is emitted exactly once, when the
      // watermark (max event time - 30 min) passes the window end — so a
      // late row arriving after its window was finalized must be DROPPED,
      // not re-aggregated
      val file1 = Seq(
        (ts("2024-01-01 10:00:10"), 10.0),
        (ts("2024-01-01 10:10:00"), 20.0),
        (ts("2024-01-01 10:40:00"), 30.0), // 3 on-time rows in the 10:00 window
        (ts("2024-01-01 12:00:00"), 40.0)) // advances watermark to 11:30
      val file2 = Seq(
        (ts("2024-01-01 10:15:00"), 999.0), // LATE: watermark 11:30 > 10:15
        (ts("2024-01-01 14:00:00"), 50.0)) // advances watermark to 13:30
      val file3 = Seq(
        (ts("2024-01-01 16:00:00"), 60.0)) // advances watermark past 14:00's end
      file1.toDF("ts", "v").write.parquet(s"$tmp/in")

      val stream = spark.readStream
        .schema("ts timestamp, v double")
        .parquet(s"$tmp/in")
      val agg = StreamingSketch.windowedHistogram(stream, "ts", "v", layout, "1 hour", "30 minutes")
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .start()
      try {
        q.processAllAvailable()
        file2.toDF("ts", "v").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
        file3.toDF("ts", "v").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
      } finally q.stop()

      val emitted = spark
        .table("wm_out")
        .select(col("window_start"), col("n"), col("p50"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      val byWindow = emitted.groupBy(_._1)
      // exactly one emission per finalized window (append semantics)
      assert(byWindow.values.forall(_.length == 1), s"duplicate window emissions: $emitted")
      val counts = emitted.map(e => e._1 -> e._2).toMap
      // the 10:00 window holds ONLY the 3 on-time rows: the 999.0 row of
      // batch 2 was behind the watermark and must not have re-opened it
      assert(counts.get("2024-01-01 10:00:00.0").contains(3L),
        s"late row not dropped or window miscounted: $counts")
      assert(counts.get("2024-01-01 12:00:00.0").contains(1L), s"12:00 window: $counts")
      assert(counts.get("2024-01-01 14:00:00.0").contains(1L), s"14:00 window: $counts")
      // every finalized window matches a batch recount over the ON-TIME rows
      val batchCounts = (file1 ++ file3 ++ file2.filter(_._2 != 999.0))
        .toDF("ts", "v")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("n"))
        .collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1))
        .toMap
      counts.foreach { case (w, n) =>
        assert(batchCounts.get(w).contains(n), s"window $w: streamed $n vs batch ${batchCounts.get(w)}")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("stateful sketch state survives a query RESTART via checkpoint recovery") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    try {
      val rnd = new java.util.SplittableRandom(5L)
      val batch1 = (0 until 4000).map(i => (s"k${i % 3}", rnd.nextDouble() * 100))
      val batch2 = (0 until 4000).map(i => (s"k${i % 3}", 100 + rnd.nextDouble() * 100))
      batch1.toDF("k", "v").write.parquet(s"$tmp/in")

      def startQuery() = {
        val stream = spark.readStream
          .schema("k string, v double")
          .parquet(s"$tmp/in")
          .as[(String, Double)]
        StreamingSketch
          .statefulPerKeyHistogram(stream, layout)
          .toDF("k", "n", "p50")
          .writeStream
          .outputMode("update")
          // foreachBatch, not the memory sink: only fault-tolerant sinks
          // support restarting from a checkpoint
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.write.mode("append").parquet(s"$tmp/out")
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .start()
      }
      // first incarnation processes batch1, then the query is STOPPED
      val q1 = startQuery()
      try q1.processAllAvailable()
      finally q1.stop()
      // new data lands while the query is down
      batch2.toDF("k", "v").write.mode("append").parquet(s"$tmp/in")
      // second incarnation recovers per-key sketch state from the checkpoint
      val q2 = startQuery()
      try q2.processAllAvailable()
      finally q2.stop()

      val finalCounts = spark.read
        .parquet(s"$tmp/out")
        .groupBy(col("k"))
        .agg(max(col("n")).as("n"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      // counts cover BOTH batches: the restarted query resumed the sketches,
      // it did not restart them from zero
      val expected = (batch1 ++ batch2).groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(finalCounts == expected)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("stateful per-key sketch accumulates across micro-batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    try {
      val rnd = new java.util.SplittableRandom(2L)
      // two micro-batches as two files
      val batch1 = (0 until 5000).map(i => (s"k${i % 3}", rnd.nextDouble() * 100))
      val batch2 = (0 until 5000).map(i => (s"k${i % 3}", 100 + rnd.nextDouble() * 100))
      batch1.toDF("k", "v").write.parquet(s"$tmp/in")

      val stream = spark.readStream
        .schema("k string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in")
        .as[(String, Double)]
      val out = StreamingSketch.statefulPerKeyHistogram(stream, layout)
      val q = out
        .toDF("k", "n", "p50")
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
      try {
        q.processAllAvailable()
        batch2.toDF("k", "v").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
      } finally q.stop()

      // the last update per key must reflect ALL rows of both batches
      val finalCounts = spark
        .table("stateful_out")
        .groupBy(col("k"))
        .agg(max(col("n")).as("n"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      val expected = (batch1 ++ batch2).groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(finalCounts == expected)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("streaming exact dedup suppresses duplicates ACROSS micro-batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdedup_t").toString
    try {
      // batch 2 carries: an exact copy of a batch-1 doc (1L), a whitespace/
      // case variant of another (2L), an intra-batch duplicate pair (40/41),
      // and one genuinely new doc (42L)
      val batch1 = Seq(
        (1L, "alpha beta gamma"),
        (2L, "delta epsilon zeta"),
        (3L, "eta theta iota"))
      val batch2 = Seq(
        (10L, "alpha beta gamma"),
        (20L, "  Delta   EPSILON zeta  "),
        (40L, "kappa lambda mu"),
        (41L, "kappa lambda mu"),
        (42L, "nu xi omicron"))
      batch1.toDF("doc_id", "text").write.parquet(s"$tmp/in")
      val stream = spark.readStream.schema("doc_id long, text string").parquet(s"$tmp/in")
      val q = StreamingSketch
        .streamingExactDedup(stream, "text")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable()
        assert(spark.read.parquet(s"$tmp/out").count() == 3L)
        batch2.toDF("doc_id", "text").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.read.parquet(s"$tmp/out").select("doc_id", "fp").collect()
      // batch 2 adds only the two NEW distinct texts (one of 40/41, and 42)
      assert(out.length == 5, out.mkString(","))
      assert(out.map(_.getLong(1)).distinct.length == 5)
      val ids = out.map(_.getLong(0)).toSet
      assert(Set(1L, 2L, 3L, 42L).subsetOf(ids))
      assert((ids & Set(10L, 20L)).isEmpty) // cross-batch dups suppressed
      assert((ids & Set(40L, 41L)).size == 1) // intra-batch pair collapsed
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("within-watermark dedup: suppressed inside the delay, state evicted after") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdedup_wm").toString
    try {
      def write(rows: Seq[(Long, String, String)], mode: String): Unit =
        rows
          .toDF("doc_id", "text", "ts_s")
          .select(col("doc_id"), col("text"), col("ts_s").cast("timestamp").as("ts"))
          .write
          .mode(mode)
          .parquet(s"$tmp/in")
      // delay 10s. b1: A at t=0. b2: dup of A at t=5 (inside delay ->
      // suppressed) + an advancer at t=100 (watermark after b2 = 90s >
      // A's expiry, so A's state is evicted). b3: dup of A at t=95 (>
      // watermark 90, not late) -> re-emitted because the state is gone.
      write(Seq((1L, "alpha beta gamma", "2024-01-01 00:00:00")), "overwrite")
      val stream = spark.readStream
        .schema("doc_id long, text string, ts timestamp")
        .parquet(s"$tmp/in")
      val q = StreamingSketch
        .streamingExactDedupWithinWatermark(stream, "text", "ts", "10 seconds")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable()
        write(Seq(
          (2L, "alpha beta gamma", "2024-01-01 00:00:05"),
          (3L, "watermark advancer", "2024-01-01 00:01:40")), "append")
        q.processAllAvailable()
        write(Seq((4L, "alpha beta gamma", "2024-01-01 00:01:35")), "append")
        q.processAllAvailable()
      } finally q.stop()
      val ids = spark.read.parquet(s"$tmp/out").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L) && ids.contains(3L), ids)
      assert(!ids.contains(2L), s"within-delay duplicate re-emitted: $ids")
      assert(ids.contains(4L), s"post-eviction re-occurrence was NOT re-emitted: $ids")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("stateful per-key SKETCH emission: final sketch is byte-identical to a batch build") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    try {
      val rnd = new java.util.SplittableRandom(7L)
      val batch1 = (0 until 3000).map(i => (s"k${i % 2}", rnd.nextDouble() * 50))
      val batch2 = (0 until 3000).map(i => (s"k${i % 2}", 50 + rnd.nextDouble() * 50))
      batch1.toDF("k", "v").write.parquet(s"$tmp/in")
      val stream = spark.readStream
        .schema("k string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in")
        .as[(String, Double)]
      val q = StreamingSketch
        .statefulPerKeyHistogramSketch(stream, layout)
        .toDF("k", "n", "sketch")
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName("stateful_sketch_out")
        .start()
      try {
        q.processAllAvailable()
        batch2.toDF("k", "v").write.mode("append").parquet(s"$tmp/in")
        q.processAllAvailable()
      } finally q.stop()
      val finalSketches = spark
        .table("stateful_sketch_out")
        .groupBy(col("k"))
        .agg(max(struct(col("n"), col("sketch"))).as("f"))
        .select(col("k"), col("f.sketch"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
        .toMap
      // final emitted state == a single-pass kernel build over ALL the key's
      // rows, byte for byte (insertion order within a key is file order)
      (batch1 ++ batch2).groupBy(_._1).foreach { case (k, rows) =>
        val h = graft.core.Histogram(layout)
        rows.foreach(r => h.addValue(r._2))
        assert(
          java.util.Arrays.equals(
            finalSketches(k),
            graft.core.SketchEnvelope.toBytes(h)),
          s"key $k: streamed state != batch build")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("RocksDB state store: dedup + stateful sketch semantics are provider-identical") {
    import spark.implicits._
    // At the target scale the streaming state (dedup fingerprints, per-key
    // sketches) outgrows executor heap; RocksDBStateStoreProvider keeps it
    // off-heap/on-disk. Semantics must not depend on the provider: replay
    // the within-watermark eviction scenario and the per-key sketch flow
    // under RocksDB and assert the exact same emissions as the
    // HDFSBacked-default tests above.
    val tmp = java.nio.file.Files.createTempDirectory("graft_rocksdb").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def write(rows: Seq[(Long, String, String)], mode: String): Unit =
        rows
          .toDF("doc_id", "text", "ts_s")
          .select(col("doc_id"), col("text"), col("ts_s").cast("timestamp").as("ts"))
          .write
          .mode(mode)
          .parquet(s"$tmp/in")
      write(Seq((1L, "alpha beta gamma", "2024-01-01 00:00:00")), "overwrite")
      val stream = spark.readStream
        .schema("doc_id long, text string, ts timestamp")
        .parquet(s"$tmp/in")
      val q = StreamingSketch
        .streamingExactDedupWithinWatermark(stream, "text", "ts", "10 seconds")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable()
        write(Seq(
          (2L, "alpha beta gamma", "2024-01-01 00:00:05"),
          (3L, "watermark advancer", "2024-01-01 00:01:40")), "append")
        q.processAllAvailable()
        write(Seq((4L, "alpha beta gamma", "2024-01-01 00:01:35")), "append")
        q.processAllAvailable()
      } finally q.stop()
      val ids = spark.read.parquet(s"$tmp/out").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 4L), s"RocksDB dedup emissions differ: $ids")

      // flatMapGroupsWithState state cell through RocksDB: final per-key
      // sketch must still be byte-identical to a single-pass kernel build
      val rnd = new java.util.SplittableRandom(7L)
      val rows = (0 until 3000).map(i => (s"k${i % 2}", rnd.nextDouble() * 50))
      rows.toDF("k", "v").write.parquet(s"$tmp/in2")
      val stream2 = spark.readStream
        .schema("k string, v double")
        .parquet(s"$tmp/in2")
        .as[(String, Double)]
      val q2 = StreamingSketch
        .statefulPerKeyHistogramSketch(stream2, layout)
        .toDF("k", "n", "sketch")
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt2")
        .format("memory")
        .queryName("rocksdb_sketch_out")
        .start()
      try q2.processAllAvailable()
      finally q2.stop()
      val got = spark
        .table("rocksdb_sketch_out")
        .groupBy(col("k"))
        .agg(max(struct(col("n"), col("sketch"))).as("f"))
        .select(col("k"), col("f.sketch"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
        .toMap
      rows.groupBy(_._1).foreach { case (k, rs) =>
        val h = graft.core.Histogram(layout)
        rs.foreach(r => h.addValue(r._2))
        assert(
          java.util.Arrays.equals(got(k), graft.core.SketchEnvelope.toBytes(h)),
          s"key $k: RocksDB-backed state != batch build")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}

class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.SparkTestSession.spark

  test("multimodal feature extraction: schema, determinism, balanced batches") {
    import graft.multimodal._
    val media = Multimodal.synthesize(spark, 300)
    val feats = Multimodal.extractFeatures(media, targetPartitions = 4).collect()
    assert(feats.length == 300)
    // schema contract
    assert(feats.forall(_.embedding.length == 16))
    assert(feats.forall(f => math.abs(f.embedding.map(x => x.toDouble * x).sum - 1.0) < 1e-5))
    assert(feats.filter(_.media_type == "image").forall(f => f.width >= 64 && f.duration_ms == 0))
    assert(feats.filter(_.media_type == "audio").forall(f => f.width == 0 && f.duration_ms >= 1000))
    assert(feats.filter(_.media_type == "video").forall(_.n_frames_sampled >= 1))
    // REAL codecs handled every image (PNG) and audio (WAV) payload; video
    // rows are MPNG containers (real demux + per-frame decode) except the
    // planted every-third opaque-noise row, which takes the stub fallback
    assert(feats.filter(f => f.media_type == "image" || f.media_type == "audio")
      .forall(_.decoded))
    val vids = feats.filter(_.media_type == "video")
    assert(vids.forall(f => f.decoded == (f.media_id % 9 != 2)))
    val realVids = vids.filter(_.decoded)
    assert(realVids.nonEmpty && vids.exists(!_.decoded))
    // demuxed features come from the container itself: synthesize ranges
    // w 24..39, h 16..23, 3-10 frames at 4 fps, sampler cap 8
    assert(realVids.forall(f => f.width >= 24 && f.width <= 39))
    assert(realVids.forall(f => f.height >= 16 && f.height <= 23))
    assert(realVids.forall(f => f.duration_ms >= 750 && f.duration_ms <= 2500))
    assert(realVids.forall(f => f.n_frames_sampled >= 3 && f.n_frames_sampled <= 8))
    // real image dims come from the PNG itself (synthesize range 64..127)
    assert(feats.filter(_.media_type == "image").forall(f =>
      f.width <= 127 && f.height >= 64 && f.height <= 127))
    // real WAV duration: 8000..24383 samples at 8 kHz
    assert(feats.filter(_.media_type == "audio").forall(_.duration_ms <= 3048))
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.synthesize(spark, 300), 8).collect()
    val a = feats.sortBy(_.media_id).map(f => (f.media_id, f.width, f.embedding.toSeq))
    val b = again.sortBy(_.media_id).map(f => (f.media_id, f.width, f.embedding.toSeq))
    assert(a.sameElements(b))
    // byte accounting matches the source
    val totalBytes = media.collect().map(_.media.length.toLong).sum
    assert(feats.map(_.n_bytes).sum == totalBytes)
  }

  test("real image/audio decode: exact dims, grid-luma features, exact PCM duration") {
    import graft.multimodal._
    // 8x4 PNG, left half black / right half white: grid cells (gy, gx<2) are
    // 0 luma, (gy, gx>=2) are 255 -> normalized embedding = 0 or 1/sqrt(8)
    val img = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val Some((w, h, emb)) = Multimodal.decodeImage(baos.toByteArray): @unchecked
    assert(w == 8 && h == 4)
    val expect = 1.0 / math.sqrt(8.0)
    for (gy <- 0 until 4; gx <- 0 until 4) {
      val v = emb(gy * 4 + gx).toDouble
      if (gx < 2) assert(math.abs(v) < 1e-6, s"cell ($gy,$gx) = $v")
      else assert(math.abs(v - expect) < 1e-6, s"cell ($gy,$gx) = $v")
    }
    // 8000 samples at 8 kHz = exactly 1000 ms
    val pcm = new Array[Byte](8000 * 2)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 8000L)
    val wav = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem
      .write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, wav)
    assert(Multimodal.decodeAudio(wav.toByteArray).contains(1000))
    // non-media payloads are rejected, not mis-decoded
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
  }

  test("MPNG demux: frame table, bounded ceil-stride sampling, rejection paths") {
    import graft.multimodal._
    def png(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // 12 frames at 4 fps: duration = 12*1000/4 = 3000 ms; maxSample 8 ->
    // stride = ceil(12/8) = 2 -> frames 0,2,4,6,8,10 decoded = 6 sampled
    val frames = (0 until 12).map(i => png(if (i % 2 == 0) 0xffffff else 0x000000))
    val v = Multimodal.demuxVideo(Multimodal.encodeMpng(frames, 4)).get
    assert(v.width == 6 && v.height == 4)
    assert(v.nFrames == 12 && v.nSampled == 6 && v.durationMs == 3000)
    // all sampled frames are the white ones -> pooled embedding is the
    // all-white cell pattern, L2-normalized: every cell 1/sqrt(16)
    v.embedding.foreach(c => assert(math.abs(c - 0.25f) < 1e-6f))
    // <= maxSample frames decode regardless of length
    val long = Multimodal.encodeMpng((0 until 100).map(_ => png(0x808080)), 10)
    val lv = Multimodal.demuxVideo(long).get
    assert(lv.nFrames == 100 && lv.nSampled <= 8 && lv.durationMs == 10000)
    // rejection: wrong magic, truncated frame table, corrupt frame bytes
    assert(Multimodal.demuxVideo("AVI1not-a-container".getBytes).isEmpty)
    val whole = Multimodal.encodeMpng(frames.take(2), 4)
    assert(Multimodal.demuxVideo(whole.dropRight(10)).isEmpty)
    val corrupt = whole.clone()
    corrupt(20) = (corrupt(20) ^ 0x7f).toByte // inside frame 0's PNG stream
    assert(Multimodal.demuxVideo(corrupt).isEmpty)
  }
}
