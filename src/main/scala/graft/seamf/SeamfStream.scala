package graft.seamf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming seamf ingest: the landing directory is a
  * `readStream.format("seamf")` source, so the reference's 90-second file
  * cadence (schedule.interval, SURVEY §2.8) is processed incrementally —
  * each trigger decodes only newly arrived .sigmf files, through the same
  * decode kernel and split packing as a batch scan.
  *
  * Scale notes: file-arrival offsets + stateless decode mean no streaming
  * state at all for ingest; watermarked aggregates downstream (capture
  * summaries) keep bounded state. Checkpointing the query gives
  * exactly-once appends into the date-partitioned lake.
  */
object SeamfStream {

  /** Watermarked per-channel capture-summary stream: the incremental
    * formulation of the batch capture_summary (A8) — max/mean PVT power per
    * (1-minute window, frequency). Bad files are skipped and counted (the
    * source's `errors=log` and `checkHash=true` defaults).
    */
  def captureSummaryStream(spark: SparkSession, dir: String,
      tz: Option[String] = None): DataFrame = {
    val reader = spark.readStream.format("seamf")
    tz.foreach(reader.option("tz", _))
    reader.load(dir)
      .filter(col("table") === "pvt")
      .withColumn("datetime", timestamp_micros(col("datetime_us")))
      .withWatermark("datetime", "10 minutes")
      .groupBy(window(col("datetime"), "1 minute"), col("frequency"))
      .agg(max(array_max(col("trace"))).as("peak_dbm"),
        count(lit(1)).as("n_traces"))
      .select(col("window.start").as("minute"), col("frequency"),
        col("peak_dbm"), col("n_traces"))
  }
}
