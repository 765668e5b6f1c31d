package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place that knows how a graft session is configured.
  *
  * `builder` sets only what every graft session shares — the mains, the
  * test sessions and `create` alike — and installs no extensions, so a
  * session built from it is as vanilla as the driver's. AQE (adaptive
  * execution, partition coalescing, skew-join splitting) is left at
  * Spark's defaults, which turn all three on.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      // DuckDB/pyarrow read our parquet: write µs, not INT96
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** The engine's recommended session: `builder` plus the dB-algebra
    * optimizer extensions and zstd parquet, with the custom expressions and
    * composite operator functions registered on the SQL surface.
    */
  def create(master: String = "local[*]"): SparkSession = {
    val spark = builder(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .getOrCreate()
    graft.functions.expressions.DecodeExpressions.registerAll(spark)
    graft.functions.SqlFunctions.registerAll(spark)
    spark
  }
}
