package graft

import org.apache.spark.sql.functions._

/**
 * Supplementary measurements OUTSIDE the frozen driver bench (guide §1.4):
 * per-probe wall time plus exact shuffle read/write bytes from a listener.
 *
 * Probes (each run once to warm up, then timed three times: the JSON
 * has the fastest time and the shuffle bytes of one run), at G = 1, 10k
 * and 100k groups:
 *  - hll_sketch_G, cms_sketch_G, hist_sketch_G: the native aggregates over
 *    2M distinct longs grouped by `id mod G`, with conv_sketches'
 *    parameters (precision 10; 4 x 256; `LogQuadraticLayout(1e-2, 1e-2, 0,
 *    1e9)` over the id as a double). At 100k groups a group sees 20 rows,
 *    as a conversation does, and its buffers stay sparse; at 1 and 10k
 *    groups they go dense. The partial buffers are the shuffle payload.
 *  - hll_merge_G, cms_merge_G: `hll_merge`/`cms_merge` of 200k stored
 *    blobs (10 rows each, staged once in parquet) into G groups: 200k, 20
 *    or 2 blobs a group.
 *  - hll_string_keys_4: q04-shaped, few groups and string items — the
 *    per-row hashing path.
 * Each probe reports rows/s (input rows or blobs) and shuffle bytes per
 * group.
 *
 * Usage: sbt -batch "runMain graft.BenchExtra" (`SPARK_GRAFT_CPUS` defaults to
 * the host's cores)
 * Prints one JSON line; not part of the driver contract.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val cpus = LocalSession.cpus()
    val spark = LocalSession(cpus)
    val recorder = graft.spark.JobRecorder.attach(spark.sparkContext)

    def measure(name: String, rows: Long, groups: Long)(body: => Unit): String = {
      spark.sparkContext.setJobDescription(name)
      body // warm-up
      recorder.drain()
      val before = recorder.snapshot
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.min
      recorder.drain()
      val d = recorder.snapshot - before
      val read = d.shuffleReadBytes / 3
      val written = d.shuffleWriteBytes / 3
      val json = f"""\"$name\":{\"sec\":$sec%.3f,\"rows_per_s\":${rows / sec}%.0f,""" +
        f"""\"shuffle_read_bytes\":$read,\"shuffle_write_bytes\":$written,""" +
        f"""\"shuffle_bytes_per_group\":${written.toDouble / groups}%.1f}"""
      spark.sparkContext.setJobDescription(null)
      json
    }

    import graft.spark.functions.{cms_merge, hll_merge}
    import graft.spark.expressions.SketchAgg
    import graft.spark.functions.{hist_sketch, hll_sketch, hll_sketch_long}
    // CMS over a long item: the DSL's cms_sketch hashes its input as a string
    def cmsLong(c: org.apache.spark.sql.Column) = SketchAgg.column(SketchAgg.Cms(4, 256), c)
    val histLayout = graft.core.LogQuadraticLayout(1e-2, 1e-2, 0, 1e9)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val parts = cpus * 2
    val n = 2000000L
    val blobs = 200000L
    val groupCounts = Seq(1L, 10000L, 100000L)
    val ids = spark.range(0, n, 1, parts)
    val tmp = java.nio.file.Files.createTempDirectory("bench-extra")
    val stored = tmp.resolve("blobs").toString
    ids.groupBy(pmod(col("id"), lit(blobs)).as("k"))
      .agg(hll_sketch_long(col("id"), 10).as("hll"), cmsLong(col("id")).as("cms"))
      .write.parquet(stored)
    val blobTable = spark.read.parquet(stored)
    val out = groupCounts.flatMap { g =>
      val key = pmod(col("id"), lit(g)).as("g")
      Seq(
        measure(s"hll_sketch_$g", n, g)(
          noop(ids.groupBy(key).agg(hll_sketch_long(col("id"), 10)))),
        measure(s"cms_sketch_$g", n, g)(
          noop(ids.groupBy(key).agg(cmsLong(col("id"))))),
        measure(s"hist_sketch_$g", n, g)(
          noop(ids.groupBy(key).agg(hist_sketch(col("id"), histLayout)))),
        measure(s"hll_merge_$g", blobs, g)(
          noop(blobTable.groupBy(pmod(col("k"), lit(g))).agg(hll_merge(col("hll"))))),
        measure(s"cms_merge_$g", blobs, g)(
          noop(blobTable.groupBy(pmod(col("k"), lit(g))).agg(cms_merge(col("cms"))))))
    } :+ measure("hll_string_keys_4", 4000000L, 4L) {
      // q04-shaped: few groups, string items — the per-row hashing path
      noop(spark
        .range(0, 4000000L, 1, parts)
        .select(pmod(col("id"), lit(4)).as("g"),
          concat(lit("user_"), col("id")).cast("string").as("s"))
        .groupBy(col("g"))
        .agg(hll_sketch(col("s"), 14).as("sk")))
    }
    println(s"{${out.mkString(",")}}")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
