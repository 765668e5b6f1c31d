package graft.seamf

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Synthetic seamf fixture generator (FIXTURES.md §A): builds `.sigmf` tars
  * with v6-generation metadata and deterministic float16 trace values, so
  * decoded long-table contents are assertable/hash-checkable. Fixture shapes
  * mirror demos/data/example_v6.sigmf (FIXTURES.md §A.2) at reduced channel
  * count for test speed.
  */
object SeamfFixtures {
  private val mapper = new ObjectMapper()

  /** Deterministic trace sample value (survives half-float round-trip when
    * asserted via HalfFloat.toFloat(HalfFloat.fromFloat(_))). Trace index 10
    * is the APD: its cells are probabilities in percent (monotone decreasing
    * in (0, 100)), all other traces are dB powers.
    */
  def sampleValue(channel: Int, traceIdx: Int, sample: Int): Float =
    if (traceIdx == 10) 98.0f - (sample % 97) * 1.0f - channel * 0.25f
    else (-(30.0f + channel) - (traceIdx * 2.0f) - (sample % 97) * 0.25f)

  /** v6 per-capture data products: PSD 2x(len psd), PVT 2x(len pvt),
    * PFP 6x(len pfp), APD 1x(len apd).
    */
  final case class Shape(psdLen: Int = 125, pvtLen: Int = 80,
      pfpLen: Int = 112, apdLen: Int = 31) {
    def perCapture: Int = 2 * psdLen + 2 * pvtLen + 6 * pfpLen + apdLen
  }

  def buildMetaJson(fileIdx: Int, t0Us: Long, nChannels: Int, shape: Shape,
      sha512: String, intervalSec: Long = 90L): String = {
    val root = mapper.createObjectNode()
    val g = root.putObject("global")
    g.put("core:version", "1.0.0")
    g.put("core:datatype", "rf16_le")
    g.put("core:sample_rate", 14e6)
    g.put("core:num_channels", nChannels)
    g.put("core:sha512", sha512)
    val ext = g.putArray("core:extensions")
    val e1 = ext.addObject()
    e1.put("name", "ntia-nasctn-sea"); e1.put("version", "0.6.0")
    val geo = g.putObject("core:geolocation")
    geo.put("type", "Point")
    val coords = geo.putArray("coordinates")
    coords.add(-105.26); coords.add(40.01); coords.add(1650.0)
    g.put("ntia-scos:task", 7000L + fileIdx)
    val sched = g.putObject("ntia-scos:schedule")
    sched.put("name", "synthetic_sweep")
    sched.put("start", isoOf(t0Us))
    sched.put("interval", intervalSec)

    val dp = g.putArray("ntia-algorithm:data_products")
    val psd = dp.addObject()
    psd.put("name", "Power Spectral Density")
    val psdSeries = psd.putArray("series"); psdSeries.add("maximum"); psdSeries.add("mean")
    psd.put("length", shape.psdLen)
    psd.putArray("x_start").add(-4.992e6)
    psd.putArray("x_step").add(16e3)
    val pvt = dp.addObject()
    pvt.put("name", "Power vs. Time")
    val pvtSeries = pvt.putArray("series"); pvtSeries.add("maximum"); pvtSeries.add("mean")
    pvt.put("length", shape.pvtLen)
    pvt.putArray("x_start").add(0.0)
    pvt.putArray("x_step").add(0.01)
    val pfp = dp.addObject()
    pfp.put("name", "Periodic Frame Power")
    val pfpSeries = pfp.putArray("series")
    Seq("mean_minimum", "mean_maximum", "mean_mean",
      "max_minimum", "max_maximum", "max_mean").foreach(pfpSeries.add)
    pfp.put("length", shape.pfpLen)
    pfp.putArray("x_start").add(0.0)
    pfp.putArray("x_step").add(1.7857e-5)
    val apd = dp.addObject()
    apd.put("name", "Amplitude Probability Distribution")
    apd.put("length", shape.apdLen)
    apd.putArray("y_start").add(-180.0)
    apd.putArray("y_step").add(1.0)

    val maxPowers = g.putArray("ntia-nasctn-sea:max_of_max_channel_powers")
    val medPowers = g.putArray("ntia-nasctn-sea:median_of_mean_channel_powers")
    (0 until nChannels).foreach { c =>
      maxPowers.add(-30.0 - c); medPowers.add(-40.0 - c)
    }
    val diag = g.putObject("ntia-diagnostics:diagnostics")
    val pre = diag.putObject("preselector"); pre.put("noise_diode_temp", 14.6)
    val spu = diag.putObject("spu"); spu.put("sigan_internal_temp", 37.2)

    val caps = root.putArray("captures")
    (0 until nChannels).foreach { c =>
      val cap: ObjectNode = caps.addObject()
      cap.put("core:frequency", 3.555e9 + c * 1e7)
      cap.put("core:datetime", isoOf(t0Us + c * 1000000L))
      cap.put("core:sample_start", c.toLong * shape.perCapture)
      cap.put("ntia-sensor:overload", (fileIdx + c) % 5 == 0)
      cap.put("ntia-sensor:duration", 4000.0)
      val cal = cap.putObject("ntia-sensor:sensor_calibration")
      cal.put("gain", 30.0 + c * 0.5)
      cal.put("noise_figure", 5.0 + 0.1 * c + 0.01 * fileIdx)
      cal.put("temperature", 21.5 + 0.25 * c)
      cal.put("datetime", isoOf(t0Us - 3600000000L))
      val sig = cap.putObject("ntia-sensor:sigan_settings")
      sig.put("reference_level", -25.0)
      sig.put("attenuation", 0.0)
      sig.put("preamp_enable", true)
    }
    root.putArray("annotations")
    mapper.writeValueAsString(root)
  }

  private def isoOf(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      .toString.stripSuffix("Z") + "Z"

  /** Payload values for one sweep file (per-capture contiguous blocks, trace
    * order = declared data-product order, FIXTURES §A.2).
    */
  def buildPayload(nChannels: Int, shape: Shape): Array[Float] = {
    val traceLens =
      Seq.fill(2)(shape.psdLen) ++ Seq.fill(2)(shape.pvtLen) ++
        Seq.fill(6)(shape.pfpLen) ++ Seq(shape.apdLen)
    (0 until nChannels).flatMap { c =>
      traceLens.zipWithIndex.flatMap { case (len, ti) =>
        (0 until len).map(s => sampleValue(c, ti, s))
      }
    }.toArray
  }

  // ---- legacy (v1-v3) fixtures -----------------------------------------
  // Mirror the REAL golden-file formats (demos/data/example_v{1,2,3}.sigmf):
  // `core:extensions` is a dict (no ntia-nasctn-sea key → v1; "v0.2" → v2;
  // "v0.3" → v3), no geolocation (explicit tz required at read — ValueError
  // parity), and variable per-capture APD lengths (variable capture stride).

  /** Legacy trace lengths: psd x2, pvt x2, pfp x6, then the APD pair with a
    * per-channel length (variable stride, like real v2/v3 files).
    */
  final case class LegacyShape(psdLen: Int = 125, pvtLen: Int = 80,
      pfpLen: Int = 112, fftLen: Int = 175) {
    def apdLen(channel: Int): Int = 25 + 3 * channel
    def tabularPerCapture: Int = 2 * psdLen + 2 * pvtLen + 6 * pfpLen
    def stride(channel: Int): Int = tabularPerCapture + 2 * apdLen(channel)
    def sampleStart(channel: Int): Long =
      (0 until channel).map(stride).sum.toLong
  }

  private def putLegacyGlobals(g: ObjectNode, gen: Int, fileIdx: Int,
      t0Us: Long, nChannels: Int, sha512: String): Unit = {
    g.put("core:version", "0.0.2")
    g.put("core:datatype", "rf16_le")
    g.put("core:sample_rate", 14e6)
    g.put("core:num_channels", nChannels)
    g.put("core:sha512", sha512)
    val ext = g.putObject("core:extensions")
    ext.put("ntia-algorithm", "v1.0.0")
    ext.put("ntia-sensor", "v1.0.0")
    if (gen >= 2) ext.put("ntia-nasctn-sea", s"v0.$gen")
    g.put("ntia-scos:task", 5000L + fileIdx)
    val sched = g.putObject("ntia-scos:schedule")
    sched.put("name", "legacy_sweep")
    sched.put("start", isoOf(t0Us))
    sched.put("interval", 90L)
    if (gen >= 2) {
      g.put("calibration_temperature_degC", 21.5)
      val diag = g.putObject("diagnostics")
      diag.put("diagnostics_datetime", isoOf(t0Us))
      diag.putObject("preselector").put("noise_diode_temp", 14.6)
      diag.putObject("spu").put("sigan_internal_temp", 37.2)
    }
  }

  private def putLegacyCaptureCore(cap: ObjectNode, shape: LegacyShape,
      c: Int, t0Us: Long): Unit = {
    cap.put("core:frequency", 3.555e9 + c * 1e7)
    cap.put("core:datetime", isoOf(t0Us + c * 1000000L))
    cap.put("core:sample_start", shape.sampleStart(c))
  }

  /** v1 metadata: every trace is a detection annotation with absolute
    * offsets (reference `_Loader_v1`, seamf.py:235-360).
    */
  def buildV1MetaJson(fileIdx: Int, t0Us: Long, nChannels: Int,
      shape: LegacyShape, sha512: String): String = {
    val root = mapper.createObjectNode()
    val g = root.putObject("global")
    putLegacyGlobals(g, 1, fileIdx, t0Us, nChannels, sha512)
    val caps = root.putArray("captures")
    (0 until nChannels).foreach { c =>
      putLegacyCaptureCore(caps.addObject(), shape, c, t0Us)
    }
    val annots = root.putArray("annotations")
    (0 until nChannels).foreach { c =>
      val base = shape.sampleStart(c)
      val cal = annots.addObject()
      cal.put("ntia-core:annotation_type", "CalibrationAnnotation")
      cal.put("core:sample_start", base)
      cal.put("ntia-sensor:gain_sensor", 30.0 + c * 0.5)
      cal.put("ntia-sensor:noise_figure_sensor", 5.0 + 0.1 * c)
      cal.put("ntia-sensor:temperature", 21.5 + 0.25 * c)
      val sen = annots.addObject()
      sen.put("ntia-core:annotation_type", "SensorAnnotation")
      sen.put("core:sample_start", base)
      sen.put("ntia-sensor:overload", (fileIdx + c) % 5 == 0)
      sen.put("ntia-sensor:attenuation_setting_sigan", 0.0)
      var off = base
      def det(tpe: String, count: Int)(fill: ObjectNode => Unit): Unit = {
        val d = annots.addObject()
        d.put("ntia-core:annotation_type", tpe)
        d.put("core:sample_start", off)
        d.put("core:sample_count", count)
        fill(d)
        off += count
      }
      Seq("fft_max_power", "fft_mean_power").foreach { name =>
        det("FrequencyDomainDetection", shape.psdLen) { d =>
          d.put("ntia-algorithm:detector", name)
          d.put("ntia-algorithm:number_of_samples_in_fft", shape.fftLen)
        }
      }
      Seq("max_power", "mean_power").foreach { name =>
        det("TimeDomainDetection", shape.pvtLen) { d =>
          d.put("ntia-algorithm:detector", name)
          d.put("ntia-algorithm:number_of_samples", 56000000L)
        }
      }
      for (detName <- Seq("rms", "peak"); st <- Seq("min", "max", "mean"))
        det("AnnotationSegment", shape.pfpLen) {
          _.put("core:label", s"pfp_${detName}_${st}_power")
        }
      det("AnnotationSegment", shape.apdLen(c)) { _.put("core:label", "apd_p_pct") }
      det("AnnotationSegment", shape.apdLen(c)) { _.put("core:label", "apd_a_dBm") }
    }
    mapper.writeValueAsString(root)
  }

  /** v2 metadata: per-capture `<trace>_sample_start` keys + sample counts +
    * flat cal fields (reference `_Loader_v2`, seamf.py:362-464).
    */
  def buildV2MetaJson(fileIdx: Int, t0Us: Long, nChannels: Int,
      shape: LegacyShape, sha512: String): String = {
    val root = mapper.createObjectNode()
    val g = root.putObject("global")
    putLegacyGlobals(g, 2, fileIdx, t0Us, nChannels, sha512)
    val caps = root.putArray("captures")
    (0 until nChannels).foreach { c =>
      val cap = caps.addObject()
      putLegacyCaptureCore(cap, shape, c, t0Us)
      cap.put("overload", (fileIdx + c) % 5 == 0)
      cap.put("cal_gain_dB", 30.0 + c * 0.5)
      cap.put("cal_noise_figure_dB", 5.0 + 0.1 * c)
      cap.put("sigan_attenuation_dB", 0.0)
      cap.put("sigan_preamp_enable", true)
      cap.put("sigan_reference_level_dBm", -25.0)
      cap.put("iq_capture_duration_msec", 4000)
      cap.put("fft_sample_count", shape.psdLen)
      cap.put("td_pwr_sample_count", shape.pvtLen)
      cap.put("pfp_sample_count", shape.pfpLen)
      cap.put("apd_sample_count", shape.apdLen(c))
      cap.put("max_channel_power_dBm", -30.0 - c)
      cap.put("mean_channel_power_dBm", -40.0 - c)
      var off = shape.sampleStart(c)
      def start(name: String, count: Int): Unit = {
        cap.put(s"${name}_sample_start", off); off += count
      }
      start("max_fft", shape.psdLen); start("mean_fft", shape.psdLen)
      start("max_td_pwr_series", shape.pvtLen)
      start("mean_td_pwr_series", shape.pvtLen)
      for (st <- Seq("min", "max", "mean")) start(s"${st}_rms_pfp", shape.pfpLen)
      for (st <- Seq("min", "max", "mean")) start(s"${st}_peak_pfp", shape.pfpLen)
      start("apd_p", shape.apdLen(c)); start("apd_a", shape.apdLen(c))
    }
    root.putArray("annotations")
    mapper.writeValueAsString(root)
  }

  /** v3 metadata: global `data_products` with detector name lists and a
    * per-capture APD sample_count list (reference `_Loader_v3`,
    * seamf.py:467-603).
    */
  def buildV3MetaJson(fileIdx: Int, t0Us: Long, nChannels: Int,
      shape: LegacyShape, sha512: String): String = {
    val root = mapper.createObjectNode()
    val g = root.putObject("global")
    putLegacyGlobals(g, 3, fileIdx, t0Us, nChannels, sha512)
    val dp = g.putObject("data_products")
    val psd = dp.putObject("power_spectral_density")
    val psdDet = psd.putArray("detector")
    psdDet.add("max_power"); psdDet.add("mean_power")
    psd.put("sample_count", shape.psdLen)
    psd.put("number_of_samples_in_fft", shape.fftLen)
    val pvt = dp.putObject("time_series_power")
    val pvtDet = pvt.putArray("detector")
    pvtDet.add("max_power"); pvtDet.add("mean_power")
    pvt.put("sample_count", shape.pvtLen)
    pvt.put("number_of_samples", 56000000L)
    val pfp = dp.putObject("periodic_frame_power")
    val pfpDet = pfp.putArray("detector")
    for (det <- Seq("rms", "peak"); st <- Seq("min", "max", "mean"))
      pfpDet.add(s"${det}_${st}_power")
    pfp.put("sample_count", shape.pfpLen)
    val apd = dp.putObject("amplitude_probability_distribution")
    val apdCounts = apd.putArray("sample_count")
    (0 until nChannels).foreach(c => apdCounts.add(shape.apdLen(c)))
    apd.put("power_bin_size", 1.0)
    val maxP = g.putArray("max_channel_powers_dBm")
    val rmsP = g.putArray("rms_channel_powers_dBm")
    (0 until nChannels).foreach { c => maxP.add(-30.0 - c); rmsP.add(-40.0 - c) }
    val caps = root.putArray("captures")
    (0 until nChannels).foreach { c =>
      val cap = caps.addObject()
      putLegacyCaptureCore(cap, shape, c, t0Us)
      cap.put("overload", (fileIdx + c) % 5 == 0)
      cap.put("cal_gain_dB", 30.0 + c * 0.5)
      cap.put("cal_noise_figure_dB", 5.0 + 0.1 * c)
      cap.put("sigan_attenuation_dB", 0.0)
      cap.put("sigan_preamp_enable", true)
      cap.put("sigan_reference_level_dBm", -25.0)
      cap.put("iq_capture_duration_msec", 4000)
    }
    root.putArray("annotations")
    mapper.writeValueAsString(root)
  }

  /** v3 pfp detector order differs from v1/v2 label maps only in grouping;
    * payload trace order is psd x2, pvt x2, pfp x6 (rms then peak, each
    * min/max/mean), apd_p, apd_a — the declared-offset order in all three
    * builders above.
    */
  def buildLegacyPayload(nChannels: Int, shape: LegacyShape): Array[Float] = {
    (0 until nChannels).flatMap { c =>
      val lens = Seq.fill(2)(shape.psdLen) ++ Seq.fill(2)(shape.pvtLen) ++
        Seq.fill(6)(shape.pfpLen) ++ Seq.fill(2)(shape.apdLen(c))
      lens.zipWithIndex.flatMap { case (len, ti) =>
        (0 until len).map(s => sampleValue(c, ti, s))
      }
    }.toArray
  }

  /** Write one legacy-generation sweep file (gen 1, 2 or 3). */
  def writeLegacySweep(dir: Path, gen: Int, fileIdx: Int, t0Us: Long,
      nChannels: Int = 2, shape: LegacyShape = LegacyShape()): Path = {
    val payload = HalfFloat.encodeVector(buildLegacyPayload(nChannels, shape))
    val compressed = SeamfCodec.xzCompress(payload)
    val sha = SeamfCodec.sha512Hex(compressed)
    val meta = gen match {
      case 1 => buildV1MetaJson(fileIdx, t0Us, nChannels, shape, sha)
      case 2 => buildV2MetaJson(fileIdx, t0Us, nChannels, shape, sha)
      case 3 => buildV3MetaJson(fileIdx, t0Us, nChannels, shape, sha)
      case other =>
        throw new IllegalArgumentException(s"not a legacy generation: $other")
    }
    val name = f"legacy_v${gen}_sweep_$fileIdx%05d"
    val tar = SeamfCodec.packTar(name, meta, compressed)
    val out = dir.resolve(s"$name.sigmf")
    Files.write(out, tar)
    out
  }

  /** Write one .sigmf sweep file; returns its path.
    * @param corruptSha poison the declared sha512 (error-mode fixtures).
    */
  def writeSweep(dir: Path, fileIdx: Int, t0Us: Long, nChannels: Int = 3,
      shape: Shape = Shape(), corruptSha: Boolean = false): Path = {
    val payload = HalfFloat.encodeVector(buildPayload(nChannels, shape))
    val compressed = SeamfCodec.xzCompress(payload)
    val sha = if (corruptSha) "0" * 128 else SeamfCodec.sha512Hex(compressed)
    val meta = buildMetaJson(fileIdx, t0Us, nChannels, shape, sha)
    val name = f"synthetic_sweep_$fileIdx%05d"
    val tar = SeamfCodec.packTar(name, meta, compressed)
    val out = dir.resolve(s"$name.sigmf")
    Files.write(out, tar)
    out
  }

  /** Write a small archive: `nFiles` sweeps at 90 s cadence starting at
    * 2023-09-21T00:00Z, with one omitted slot (gap), one corrupt-sha file,
    * and one non-sigmf member (FIXTURES §A.5).
    */
  def writeArchive(dirStr: String, nFiles: Int = 8, nChannels: Int = 3,
      shape: Shape = Shape()): Path = {
    val dir = Paths.get(dirStr)
    Files.createDirectories(dir)
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    var slot = 0
    (0 until nFiles).foreach { i =>
      if (i == nFiles / 2) slot += 1 // skipped 90 s slot -> gap (A9 fixture)
      writeSweep(dir, i, t0 + slot.toLong * 90L * 1000000L, nChannels, shape,
        corruptSha = i == nFiles - 2)
      slot += 1
    }
    Files.write(dir.resolve("README.txt"),
      "not a sigmf member".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dir
  }

  /** Write a .zip archive containing `nFiles` sweeps (one corrupt sha) plus
    * a non-sigmf member — the reference's zip input container (S7).
    */
  def writeZipArchive(dirStr: String, zipName: String = "archive.zip",
      nFiles: Int = 4, nChannels: Int = 2): Path = {
    val dir = Paths.get(dirStr)
    Files.createDirectories(dir)
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    val tmp = Files.createTempDirectory("graft_zip_members")
    val members = try (0 until nFiles).map { i =>
      val p = writeSweep(tmp, i, t0 + i * 90L * 1000000L, nChannels,
        corruptSha = i == nFiles - 1)
      (p.getFileName.toString, Files.readAllBytes(p))
    } finally deleteTree(tmp)
    val out = dir.resolve(zipName)
    Files.write(out,
      SeamfCodec.packZip(members :+ (("README.txt", "not sigmf".getBytes))))
    out
  }

  /** `java.io.tmpdir/<name>`, filled by `populate` once and shared by
    * every JVM on the host. `populate` writes a fresh temporary sibling,
    * which is renamed into place with its `.complete` marker already
    * inside: no reader sees a half-written directory, and two JVMs never
    * write into the same one. A directory there without the marker (an
    * interrupted writer's) is moved aside and deleted first. When another
    * process publishes first, this copy is deleted and theirs is used.
    */
  private[graft] def sharedDir(name: String)(populate: Path => Unit): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), name)
    if (!isComplete(dir)) {
      val tmp = Files.createTempDirectory(dir.getParent, s"$name.")
      try {
        populate(tmp)
        Files.write(tmp.resolve(Marker), Array.emptyByteArray)
        if (Files.exists(dir) && !isComplete(dir)) discardIncomplete(dir)
        try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: IOException if isComplete(dir) => () }
      } finally deleteTree(tmp)
    }
    dir.toString
  }

  private val Marker = ".complete"

  private def isComplete(dir: Path): Boolean = Files.exists(dir.resolve(Marker))

  // Renaming first means only one process takes the stale directory. If
  // what it took turns out complete, another process published between
  // the check and the rename, so it goes back.
  private def discardIncomplete(dir: Path): Unit = {
    val aside = Files.createTempDirectory(dir.getParent, s"${dir.getFileName}.stale.")
    val taken = aside.resolve("dir")
    try {
      Files.move(dir, taken, StandardCopyOption.ATOMIC_MOVE)
      if (isComplete(taken)) Files.move(taken, dir, StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: IOException => () }
    finally deleteTree(aside)
  }

  /** Delete `root` and everything under it, if it exists. */
  private[graft] def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  /** Shared fixture dir for inventory queries (deterministic contents). */
  def sharedArchive(): String =
    sharedDir("graft_seamf_fixture")(dir => writeArchive(dir.toString))

  /** 200-sweep archive at the BASELINE.md reference shape (17 channels,
    * full trace lengths, 90 s cadence) — the input behind the seamf_*
    * bench metrics. Shared by Bench and DevRun so the dev loop times
    * exactly the workload the bench reports.
    */
  def sharedBenchArchive(): String =
    sharedDir("graft_bench_archive") { dir =>
      val shape = Shape(625, 400, 560, 151)
      val t0 = SeamfMetadata.isoToMicros("2023-09-25T00:00:00Z")
      (0 until 200).foreach { i =>
        writeSweep(dir, i, t0 + i * 90L * 1000000L, nChannels = 17,
          shape = shape)
      }
    }

  /** 2000-sweep archive, same per-file shape as [[sharedBenchArchive]]
    * (VERDICT r5 #4): 10x the file count so ingest throughput is measured
    * past page-cache warm-up and task-scheduling overhead. Generation
    * parallelizes across cores (one-time cost, ~2 GB of XZ sweeps;
    * deterministic per-file contents).
    */
  def sharedBenchArchiveLarge(): String =
    sharedDir("graft_bench_archive_2000") { dir =>
      val shape = Shape(625, 400, 560, 151)
      val t0 = SeamfMetadata.isoToMicros("2023-09-25T00:00:00Z")
      import scala.collection.parallel.CollectionConverters._
      (0 until 2000).par.foreach { i =>
        writeSweep(dir, i, t0 + i * 90L * 1000000L, nChannels = 17,
          shape = shape)
      }
    }

  /** Shared zip-archive fixture dir (S7 inventory queries). */
  def sharedZipArchive(): String =
    sharedDir("graft_seamf_zipfix")(dir => writeZipArchive(dir.toString))
}
