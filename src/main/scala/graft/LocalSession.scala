package graft

import org.apache.spark.sql.SparkSession

/** The `local[cpus]` session the measuring mains (Bench, PlanDump,
 * BenchExtra, Scaling) run under. */
private[graft] object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      // 2x cores without AQE coalescing: the coalescer collapses reduce
      // parallelism below the core count on these shuffle sizes (measured
      // 3x slower window stages with it on)
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
