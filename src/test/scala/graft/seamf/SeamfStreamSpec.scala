package graft.seamf

import java.nio.file.Paths
import graft.SparkSpec

class SeamfStreamSpec extends SparkSpec {

  test("streaming ingest decodes arrivals incrementally") {
    val dir = tempDir("graft_stream_landing")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 3).foreach(i => SeamfFixtures.writeSweep(Paths.get(dir), i,
      t0 + i * 90L * 1000000L, nChannels = 2))

    // one row per arriving file
    val q = spark.readStream.format("seamf").load(dir)
      .select("file").dropDuplicates("file")
      .writeStream.format("memory").queryName("sweeps_stream").start()
    q.processAllAvailable()
    assert(spark.table("sweeps_stream").count() === 3)

    // a new sweep lands (the 90 s cadence) -> only the increment is decoded
    SeamfFixtures.writeSweep(Paths.get(dir), 3, t0 + 3 * 90L * 1000000L,
      nChannels = 2)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("sweeps_stream").count() === 4)
  }

  test("checkpointed streaming append into the date-partitioned lake") {
    val dir = tempDir("graft_stream_lake_in")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 2).foreach(i => SeamfFixtures.writeSweep(Paths.get(dir), i,
      t0 + i * 90L * 1000000L, nChannels = 2))
    val out = tempDir("graft_stream_lake_out")
    val ckpt = tempDir("graft_stream_ckpt")

    val q = spark.readStream.format("seamf").load(dir)
      .withColumn("date", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("datetime_us"))))
      .writeStream
      .format("parquet")
      .option("path", s"$out/traces")
      .option("checkpointLocation", ckpt)
      .partitionBy("date")
      .start()
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(s"$out/traces")
    assert(written.count() === 2L * 2 * 11) // 2 files x 2 ch x 11 traces
    assert(new java.io.File(s"$out/traces/date=2023-09-21").exists())
  }

  test("streaming capture summary aggregates with bounded state") {
    val dir = tempDir("graft_stream_landing2")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 2).foreach(i => SeamfFixtures.writeSweep(Paths.get(dir), i,
      t0 + i * 90L * 1000000L, nChannels = 2))
    // complete mode: append would hold windows open until a LATER batch
    // advances the watermark past them (nothing closes within one batch)
    val q = SeamfStream.captureSummaryStream(spark, dir)
      .writeStream.format("memory").queryName("capsum_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("capsum_stream")
    // sweeps at t0 and t0+90s -> 2 one-minute windows x 2 channels
    assert(rows.count() === 4)
    assert(rows.columns.toSeq ===
      Seq("minute", "frequency", "peak_dbm", "n_traces"))
  }
}
