package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Histogram, Layout, SketchEnvelope}
import graft.spark.functions._

/**
 * Scale harness for sketch aggregation jobs:
 *
 *  - [[saltedHistogram]]: two-phase aggregation for skewed group keys. A hot
 *    key's rows spread over `saltBuckets` sub-aggregates (phase 1, map-side
 *    combine still applies), then the per-key sub-sketches merge (phase 2).
 *    Valid because sketch merge is associative + commutative; the result is
 *    byte-identical to the unsalted aggregation.
 *
 *  - [[CheckpointedSketch]]: resumable global aggregation at file
 *    granularity. Input files are grouped into chunks; each chunk writes its
 *    partial sketch + lineage (files, row count, wall time) to the
 *    checkpoint directory exactly once. A re-run after failure skips
 *    completed chunks and merges all partials. At 100 TB this is the unit of
 *    restart you actually want: no recomputation of finished splits.
 */
object Pipeline {

  /** Histogram per group with salting for skew; byte-identical to direct
   * aggregation. `saltCol` defaults to a hash of the value itself so rows of
   * a hot group spread evenly without needing a row id. */
  def saltedHistogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      layout: Layout,
      saltBuckets: Int = 64): DataFrame = {
    val gcols = groupCols.map(col)
    df.withColumn("__salt", pmod(hash(col(valueCol)), lit(saltBuckets)))
      .groupBy(gcols :+ col("__salt"): _*)
      .agg(hist_sketch(col(valueCol), layout).as("__partial"))
      .groupBy(gcols: _*)
      .agg(hist_merge(col("__partial")).as("sketch"))
  }

  /** Lineage + metrics row for one completed chunk. */
  final case class ChunkLineage(
      chunk_id: Int,
      files: Seq[String],
      rows_consumed: Long,
      wall_ms: Long,
      sketch: Array[Byte])

  final class CheckpointedSketch(
      spark: SparkSession,
      inputFiles: Seq[String],
      valueColumn: String,
      layout: Layout,
      checkpointDir: String,
      numChunks: Int) {

    private val chunks: Seq[(Int, Seq[String])] = {
      val sorted = inputFiles.sorted
      val n = math.max(1, math.min(numChunks, sorted.length))
      sorted.zipWithIndex.groupMap { case (_, i) => i % n } { case (f, _) => f }
        .toSeq
        .sortBy(_._1)
    }

    private def chunkDir(id: Int) = s"$checkpointDir/chunk_$id"
    private def markerPath(id: Int) =
      new org.apache.hadoop.fs.Path(s"${chunkDir(id)}/_SUCCESS")

    private def fs = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def isChunkDone(id: Int): Boolean = fs.exists(markerPath(id))

    // the input schema is identical across chunks (one logical table split
    // into files): infer it once and pass it to later chunk reads, so only
    // the first chunk pays the footer/schema-inference job
    private var inputSchema: Option[org.apache.spark.sql.types.StructType] = None

    /** Runs at most `maxChunks` incomplete chunks (all by default). Returns
     * the number of chunks actually executed (0 = everything was resumed). */
    def runChunks(maxChunks: Int = Int.MaxValue): Int = {
      var executed = 0
      chunks.foreach { case (id, files) =>
        if (executed < maxChunks && !isChunkDone(id)) {
          val t0 = System.nanoTime()
          val df = inputSchema match {
            case Some(sc) => spark.read.schema(sc).parquet(files: _*)
            case None =>
              val d = spark.read.parquet(files: _*)
              inputSchema = Some(d.schema)
              d
          }
          val row = df
            .agg(
              hist_sketch(col(valueColumn), layout).as("sketch"),
              count(col(valueColumn)).as("rows"))
            .collect()(0)
          val lineage = ChunkLineage(
            id,
            files,
            row.getLong(1),
            (System.nanoTime() - t0) / 1000000L,
            row.getAs[Array[Byte]](0))
          import spark.implicits._
          Seq(lineage).toDS().write.mode("overwrite").parquet(chunkDir(id))
          executed += 1
        }
      }
      executed
    }

    /** Merges all completed chunk sketches; requires every chunk done. */
    def result(): (Histogram, Seq[ChunkLineage]) = {
      require(chunks.forall { case (id, _) => isChunkDone(id) }, "incomplete chunks remain")
      import spark.implicits._
      // one read over every chunk directory (identical schemas) instead of
      // a read+collect round-trip per chunk
      val lineage = spark.read
        .parquet(chunks.map { case (id, _) => chunkDir(id) }: _*)
        .as[ChunkLineage]
        .collect()
        .toSeq
        .sortBy(_.chunk_id)
      val merged = lineage
        .map(l => SketchEnvelope.fromBytes(l.sketch))
        .reduceLeft((a, b) => a.add(b))
      (merged, lineage)
    }
  }
}
