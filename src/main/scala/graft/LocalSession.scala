package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder (Bench, Verify, RunOne, tests).
  * The engine's SQL functions and optimizer rules are not set up here:
  * every session loads them from the classpath
  * ([[graft.plans.GraftExtensions]]). */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE coalescing is byte-based; the sketch/pair stages here are
      // compute-heavy per byte, and coalescing their few-MB shuffles to
      // one partition serializes minutes of work. Small targets keep the
      // planned parallelism (32 extra empty tasks cost milliseconds).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
