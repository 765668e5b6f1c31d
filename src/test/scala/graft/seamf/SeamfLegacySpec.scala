package graft.seamf

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Legacy schema generations (v1-v3) on realistic metadata shapes (dict
  * `core:extensions`, per-capture offsets, variable APD lengths): explicit-tz
  * requirement, per-version offset tables, and the two-trace APD
  * (probability percentiles + amplitudes zipped into tabular form —
  * an engine extension; the reference drops APD for gens 1-3 since it is
  * absent from their TABULAR_GROUPS, seamf.py:236,363,468).
  */
class SeamfLegacySpec extends SparkSpec {

  private val shape = SeamfFixtures.LegacyShape()

  private def legacyDir(gen: Int, nFiles: Int = 3): String = {
    val d = tempDir(s"graft_legacy_v$gen")
    val t0 = SeamfMetadata.isoToMicros("2022-11-01T00:00:00Z")
    (0 until nFiles).foreach(i =>
      SeamfFixtures.writeLegacySweep(java.nio.file.Paths.get(d), gen,
        fileIdx = i, t0Us = t0 + i * 90L * 1000000L))
    d
  }

  private lazy val dirV1 = legacyDir(1)
  private lazy val dirV2 = legacyDir(2)
  private lazy val dirV3 = legacyDir(3)

  test("legacy decode requires an explicit timezone (no geolocation)") {
    // permissive mode: every file fails tz resolution -> zero rows
    assert(SeamfReader.sweepMetadata(spark, dirV2).count() === 0)
    val ok = SeamfReader.sweepMetadata(spark, dirV2, tz = Some("America/New_York"))
    assert(ok.count() === 3)
    assert(ok.head().getAs[Int]("schema_generation") === 2)
  }

  test("v1/v2/v3 layouts: 12 traces per capture incl the APD pair") {
    for ((dir, gen) <- Seq((dirV1, 1), (dirV2, 2), (dirV3, 3))) {
      val tr = SeamfReader.traces(spark, dir, tz = Some("UTC"))
      assert(tr.count() === 3L * 2 * 12,
        s"gen $gen") // 3 files x 2 ch x (2 psd + 2 pvt + 6 pfp + 2 apd) traces
      val tables = tr.toDF().select("table").distinct()
        .collect().map(_.getString(0)).toSet
      assert(tables === Set("psd", "pvt", "pfp", "apd_prob", "apd_amp"),
        s"gen $gen")
      val gens = SeamfReader.sweepMetadata(spark, dir, tz = Some("UTC"))
        .select("schema_generation").distinct().collect().map(_.getInt(0))
      assert(gens.toSeq === Seq(gen))
    }
  }

  test("variable per-capture APD lengths decode at absolute offsets") {
    // channel 0: 25 APD bins, channel 1: 28 (LegacyShape.apdLen) — a
    // variable capture stride that a fixed per-capture layout cannot split
    for (dir <- Seq(dirV1, dirV2, dirV3)) {
      val apdLens = SeamfReader.traces(spark, dir, tz = Some("UTC")).toDF()
        .filter(col("table") === "apd_prob")
        .select(col("frequency"), size(col("trace")).as("n"))
        .distinct().orderBy("frequency")
        .collect().map(r => (r.getDouble(0), r.getInt(1)))
      assert(apdLens.toSeq === Seq((3.555e9, 25), (3.565e9, 28)))
      // tabular traces keep their declared lengths despite the shifting base
      val psdLens = SeamfReader.traces(spark, dir, tz = Some("UTC")).toDF()
        .filter(col("table") === "psd")
        .select(size(col("trace"))).distinct().collect().map(_.getInt(0))
      assert(psdLens.toSeq === Seq(shape.psdLen))
    }
  }

  test("v2/v3 APD zips probability and amplitude traces into tabular form") {
    val apd = SeamfReader.tables(spark, dirV2, tz = Some("UTC"))("apd")
    assert(apd.count() === 3L * (25 + 28))
    val rows = apd.filter(col("frequency") === 3.555e9)
      .orderBy("datetime").limit(25).collect()
    // amplitude comes from the amplitude TRACE (trace idx 11), probability
    // from the percentile trace (idx 10) — not from a synthetic axis
    val amps = rows.map(_.getAs[Double]("amplitude_dbm")).toSet
    val probs = rows.map(_.getAs[Float]("probability_pct")).toSet
    val expAmps = (0 until 25).map(s => HalfFloat.toFloat(
      HalfFloat.fromFloat(SeamfFixtures.sampleValue(0, 11, s)) & 0xffff).toDouble).toSet
    val expProbs = (0 until 25).map(s => HalfFloat.toFloat(
      HalfFloat.fromFloat(SeamfFixtures.sampleValue(0, 10, s)) & 0xffff)).toSet
    assert(amps === expAmps)
    assert(probs === expProbs)
  }

  test("exportAll writes the same v2/v3 APD rows that tables() returns") {
    for (dir <- Seq(dirV2, dirV3)) {
      val out = tempDir("graft_legacy_export")
      val counts = SeamfLake.exportAll(spark, dir, out, tz = Some("UTC"))
      assert(counts("apd") === 3L * (25 + 28))
      val want = SeamfReader.tables(spark, dir, tz = Some("UTC"))("apd")
      val written = spark.read.parquet(s"$out/apd").select(want.columns.map(col): _*)
      assert(written.exceptAll(want).isEmpty && want.exceptAll(written).isEmpty)
    }
  }

  test("capture-attached channel metadata (flat keys and v1 annotations)") {
    for (dir <- Seq(dirV1, dirV2, dirV3)) {
      val cm = SeamfReader.channelMetadata(spark, dir, tz = Some("UTC"))
        .orderBy("file", "frequency").collect()
      assert(cm.length === 6)
      assert(cm(0).getAs[Double]("cal_gain_dB") === 30.0)
      assert(cm(1).getAs[Double]("cal_gain_dB") === 30.5)
      assert(cm(0).getAs[Double]("cal_noise_figure_dB") === 5.0)
      assert(cm(0).getAs[Double]("sigan_attenuation_dB") === 0.0)
    }
    // legacy PFP detectors are rms/peak (TRACE_INFO), never mean/max
    val dets = SeamfReader.traces(spark, dirV1, tz = Some("UTC")).toDF()
      .filter(col("table") === "pfp")
      .select("detector").distinct().collect().map(_.getString(0)).toSet
    assert(dets === Set("rms", "peak"))
  }

  test("v2/v3 sweep metadata carries diagnostics and declared channel powers") {
    val sm = SeamfReader.sweepMetadata(spark, dirV3, tz = Some("UTC"))
      .orderBy("file").head()
    assert(sm.getAs[Seq[Double]]("max_of_max_channel_powers") === Seq(-30.0, -31.0))
    assert(sm.getAs[Map[String, String]]("diagnostics")
      .contains("diagnostics.preselector.noise_diode_temp"))
  }
}
