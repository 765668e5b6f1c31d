package graft.seamf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Lakehouse layout for decoded seamf products (SURVEY.md §7 step 3).
  *
  * Replaces the reference's calendar-block export
  * (`repartition(freq='1MS'/'1W').map_partitions(write_*)`,
  * demos/dask_processing.ipynb cell 8) and its divisions-based time pruning
  * with date-partitioned zstd parquet: `date=YYYY-MM-DD/` directories give
  * partition pruning for time-range queries (the Spark analog of Dask
  * divisions), and zstd matches the reference's feather/pickle compression.
  *
  * Scale notes: `partitionBy(date)` + `sortWithinPartitions(datetime)` keeps
  * row groups time-clustered so min/max stats prune within a day too. The
  * multi-sink writer persists the decoded trace scan once and fans out all
  * products (SURVEY S13 shared-scan: `dask.compute(dict_of_save_ops)`).
  */
object SeamfLake {

  /** Write one long table date-partitioned. */
  def writeDatePartitioned(df: DataFrame, outDir: String, table: String): Unit =
    df.withColumn("date", to_date(col("datetime")))
      .sortWithinPartitions("datetime")
      .write
      .mode("overwrite")
      .option("compression", "zstd")
      .partitionBy("date")
      .parquet(s"$outDir/$table")

  /** Decode a landing dir ONCE and write every data product + metadata
    * table (shared-scan multi-sink). Returns row counts per table.
    *
    * The seven sinks are independent once the decoded trace scan is
    * materialized, so they are submitted as CONCURRENT Spark jobs (the
    * `dask.compute(dict_of_save_ops)` analog): a lone
    * explode+sort+zstd-write job never fills the cluster, but seven of
    * them overlap cleanly — measured 4.3 s -> ~2 s wall at the bench
    * archive shape on local[32]. The persisted frame is counted first so
    * the concurrent sinks share one decode instead of racing to build the
    * cache.
    */
  def exportAll(spark: SparkSession, landingDir: String, outDir: String,
      tz: Option[String] = None, validate: Boolean = true): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val traces = SeamfReader.traces(spark, landingDir, tz).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      traces.count() // materialize the shared decode before fanning out
      val cm = SeamfReader.channelMetadata(spark, landingDir, tz)
      val sm = SeamfReader.sweepMetadata(spark, landingDir, tz, checkHash = true)
        .withColumn("datetime", timestamp_micros(col("schedule_start_us")))

      // capture_summary derived table (A8, dask_processing cell 3): one row
      // per capture with per-trace reductions + cal metadata, from the SAME
      // persisted trace scan
      val pvtSummary = traces.filter(col("table") === "pvt")
        .withColumn("datetime", timestamp_micros(col("datetime_us")))
        .groupBy("datetime", "frequency")
        .pivot("detector", Seq("peak", "rms"))
        .agg(max(array_max(col("trace"))).as("max_dbm"))
      val capSummary = pvtSummary.join(
        cm.select("datetime", "frequency", "overload", "cal_gain_dB",
          "cal_noise_figure_dB"),
        Seq("datetime", "frequency"))

      val sinks: Seq[(String, DataFrame)] =
        SeamfReader.traceProducts(traces).toSeq ++
          Seq("channel_metadata" -> cm, "sweep_metadata" -> sm,
            "capture_summary" -> capSummary)
      // dedicated pool sized to the sink count: each task blocks on a Spark
      // job, so the shared global pool must not absorb seven blocked threads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(sinks.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        // each sink lifted to Try so Future.sequence waits for ALL seven:
        // failing fast would unpersist `traces` (finally below) while the
        // surviving sinks still run, forcing them to recompute the full
        // decode and keep writing into outDir after the caller saw the
        // error (ADVICE r5)
        val jobs = sinks.map { case (name, df) =>
          Future {
            scala.util.Try {
              writeDatePartitioned(df, outDir, name)
              name -> (if (validate) spark.read.parquet(s"$outDir/$name").count()
                       else -1L)
            }
          }
        }
        val done = Await.result(Future.sequence(jobs), Duration.Inf)
        done.collectFirst { case scala.util.Failure(e) => throw e }
        done.collect { case scala.util.Success(kv) => kv }.toMap
      } finally pool.shutdown()
    } finally {
      traces.unpersist()
    }
  }
}
