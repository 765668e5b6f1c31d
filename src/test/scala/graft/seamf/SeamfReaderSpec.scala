package graft.seamf

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SeamfReaderSpec extends SparkSpec {
  private lazy val shape = SeamfFixtures.Shape()
  // 8 files, 1 corrupt sha -> 7 good; 3 channels each
  private lazy val dir: String = {
    val d = tempDir("graft_seamf_test")
    SeamfFixtures.writeArchive(d, nFiles = 8, nChannels = 3, shape)
    d
  }

  test("decodes traces with exact half-float values and correct layout") {
    val tr = SeamfReader.traces(spark, dir).cache()
    // 7 good files x 3 channels x 11 traces
    assert(tr.count() === 7L * 3 * 11)
    val psdMax = tr.filter(col("table") === "psd" &&
        col("capture_statistic") === "max" && col("frequency") === 3.555e9)
      .orderBy("datetime_us").head()
    val trace = psdMax.trace.toSeq
    assert(trace.size === shape.psdLen)
    // expected value survives the half round-trip by construction
    val expect0 = HalfFloat.toFloat(
      HalfFloat.fromFloat(SeamfFixtures.sampleValue(0, 0, 0)) & 0xffff)
    assert(trace.head === expect0)
    val expect17 = HalfFloat.toFloat(
      HalfFloat.fromFloat(SeamfFixtures.sampleValue(0, 0, 17)) & 0xffff)
    assert(trace(17) === expect17)
  }

  test("permissive mode skips the corrupt-sha file; raise mode fails") {
    val okFiles = SeamfReader.sweepMetadata(spark, dir, checkHash = true)
      .select("file").distinct().count()
    assert(okFiles === 7)
    val ex = intercept[org.apache.spark.SparkException] {
      SeamfReader.traces(spark, dir, errors = "raise").count()
    }
    assert(ex.getMessage.contains("sha512") ||
      Option(ex.getCause).exists(_.getMessage.contains("sha512")))
  }

  test("metadata-only scan parses all parseable files without payload decode") {
    val sm = SeamfReader.sweepMetadata(spark, dir, checkHash = false)
    assert(sm.count() === 8) // corrupt sha not checked in metadata-only mode
    val row = sm.orderBy("file").head()
    assert(row.getAs[String]("version") === "0.6.0")
    assert(row.getAs[Int]("num_channels") === 3)
    assert(row.getAs[Long]("schedule_interval_sec") === 90L)
  }

  test("long tables have the FIXTURES §A.4 schemas and row counts") {
    val t = SeamfReader.tables(spark, dir)
    assert(t("psd").columns.toSeq ===
      Seq("file", "datetime", "frequency", "capture_statistic", "baseband_hz", "psd_dbm_per_hz"))
    assert(t("pvt").columns.toSeq ===
      Seq("file", "datetime", "frequency", "detector", "elapsed_s", "power_dbm"))
    assert(t("pfp").columns.toSeq ===
      Seq("file", "datetime", "frequency", "capture_statistic", "detector", "frame_s", "power_dbm"))
    assert(t("apd").columns.toSeq ===
      Seq("file", "datetime", "frequency", "amplitude_dbm", "probability_pct"))
    assert(t("psd").count() === 7L * 3 * 2 * shape.psdLen)
    assert(t("apd").count() === 7L * 3 * shape.apdLen)
    assert(t("channel_metadata").count() === 7L * 3)
    assert(t("sweep_metadata").count() === 7)
    // detector/statistic domains
    val dets = t("pvt").select("detector").distinct()
      .collect().map(_.getString(0)).toSet
    assert(dets === Set("peak", "rms"))
  }

  test("multi-archive union: comma-separated landing dirs scan as one source") {
    val d2 = tempDir("graft_seamf_second")
    SeamfFixtures.writeSweep(java.nio.file.Paths.get(d2), 99,
      SeamfMetadata.isoToMicros("2023-09-22T00:00:00Z"), nChannels = 2)
    val union = SeamfReader.sweepMetadata(spark, s"$dir,$d2", checkHash = true)
    assert(union.count() === 7 + 1)
  }

  test("zip-archive scan decodes .sigmf members, skips corrupt + non-sigmf") {
    val zdir = tempDir("graft_zip_test")
    SeamfFixtures.writeZipArchive(zdir, nFiles = 4, nChannels = 2)
    val tr = SeamfReader.tracesFromZips(spark, zdir)
    // 3 good members (1 corrupt sha) x 2 channels x 11 traces
    assert(tr.count() === 3L * 2 * 11)
    // member provenance: path!member naming
    assert(tr.head().file.contains(".zip!"))
  }

  test("one multi-member zip fans out across >1 task (member-level splits)") {
    val zdir = tempDir("graft_zip_split")
    SeamfFixtures.writeZipArchive(zdir, nFiles = 8, nChannels = 2)
    val tr = SeamfReader.tracesFromZips(spark, zdir)
    // partition ids are assigned by the member-split repartition and are
    // still visible after the decode mapPartitions (no shuffle in between)
    val partsPerZip = tr.toDF()
      .select(col("file"), org.apache.spark.sql.functions.spark_partition_id()
        .as("pid"))
      .distinct().collect()
    assert(partsPerZip.map(_.getInt(1)).distinct.length > 1,
      s"single archive decoded in one task: ${partsPerZip.mkString(",")}")
    // and every good member decoded exactly once
    assert(tr.toDF().select("file").distinct().count() === 7)
  }

  test("gap detection finds the omitted 90s slot (A9)") {
    val sm = SeamfReader.sweepMetadata(spark, dir)
      .withColumn("t0", timestamp_micros(col("schedule_start_us")))
    val gaps = graft.operators.Windowed.gaps(sm, Seq.empty, "t0", 91.0)
    // slots: 0,1,2,3,(skip),5,6,7,8 -> exactly one 180 s gap
    val g = gaps.collect()
    assert(g.length === 1)
    assert(g.head.getAs[Double]("gap_sec") === 180.0)
  }

  test("pruned decode equals decode-then-filter and skips out-of-window XZ work") {
    // the pruned decode runs in the seamf connector: the filters below push
    // into its scan as a DecodePrune, applied before any payload decode
    val cut = SeamfMetadata.isoToMicros("2023-09-21T00:05:00Z") // slots 0-3
    val pruned = spark.read.format("seamf").load(dir)
      .filter(col("datetime_us") <= cut && col("frequency") <= 3.566e9 &&
        col("table") === "psd")
    import spark.implicits._
    val ds = pruned.as[SeamfReader.TraceRow]
    val got = ds.collect()
    val want = SeamfReader.traces(spark, dir).collect().filter(r =>
      r.table == "psd" && r.datetime_us <= cut && r.frequency <= 3.566e9)
    assert(got.nonEmpty && got.length === want.length)
    // decoded values identical, not just keys
    def exact(rows: Array[SeamfReader.TraceRow]) =
      rows.map(r => (r.copy(trace = null), r.trace.toSeq)).toSet
    assert(exact(got) === exact(want))
    // files at slots 5, 6, 8 are outside the window and skip XZ entirely
    // (the corrupt-sha file, also out-of-window, fails its hash check
    // before pruning and is counted as skipped instead)
    val plan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in:\n$plan"))
    assert(scan.metrics("seamfPrunedFiles").value === 3)
    assert(scan.metrics("seamfDecodedFiles").value === 4)
    assert(scan.metrics("seamfSkippedFiles").value === 1)
  }

  test("empty landing dir decodes to zero rows, not an error") {
    val empty = tempDir("graft_seamf_empty")
    assert(SeamfReader.traces(spark, empty).count() === 0L)
    assert(SeamfReader.sweepMetadata(spark, empty).count() === 0L)
    assert(SeamfReader.channelMetadata(spark, empty).count() === 0L)
    val emptyZip = tempDir("graft_zip_empty")
    assert(SeamfReader.tracesFromZips(spark, emptyZip).count() === 0L)
  }
}
