package graft.seamf

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Spark-native seamf ingest: `binaryFile` scan -> typed decode ->
  * long-format data-product tables.
  *
  * Reference lifecycle (`read_seamf`, /root/reference/src/sea_ingest/
  * seamf.py:981-1070): tar open, version dispatch, sha512 check, XZ
  * decompress, offset-table split, DataFrame assembly. Here the whole
  * per-file pipeline is one executor-side function inside `mapPartitions`
  * over Spark's `binaryFile` source — Spark's scheduler replaces the Dask
  * delayed graph (ziparchive.py:208-316), task-per-file-batch parallelism
  * replaces `partition_size` tuning, and permissive error mode
  * (errors="log", ziparchive.py:381-440) becomes skip+accumulator.
  *
  * Scale notes (100 TB): binaryFile packs many small files per task
  * (maxPartitionBytes); decode is CPU-bound on XZ exactly like the
  * reference (seamf.py:1038-1040) and embarrassingly parallel; the long
  * tables are written date-partitioned so downstream time-range queries
  * prune partitions (the Spark analog of Dask divisions, SURVEY §3.3).
  */
object SeamfReader {

  /** One decoded trace (one capture x one data-product series). */
  final case class TraceRow(
      file: String,
      datetime_us: Long,
      frequency: Double,
      table: String,
      capture_statistic: String,
      detector: String,
      axis_start: Double,
      axis_step: Double,
      trace: Array[Float])

  /** One row per capture: channel metadata (seamf.py:202-219, keymap 614-623). */
  final case class ChannelMetaRow(
      file: String,
      datetime_us: Long,
      frequency: Double,
      overload: Option[Boolean],
      cal_gain_dB: Option[Double],
      cal_noise_figure_dB: Option[Double],
      cal_temperature_degC: Option[Double],
      sigan_reference_level_dBm: Option[Double],
      sigan_attenuation_dB: Option[Double],
      sigan_preamp_enable: Option[Boolean],
      iq_capture_duration_ms: Option[Double])

  /** One row per file: sweep metadata (seamf.py:731-750). */
  final case class SweepMetaRow(
      file: String,
      version: String,
      schema_generation: Int,
      sample_rate: Double,
      num_channels: Int,
      task: Option[Long],
      schedule_name: Option[String],
      schedule_start_us: Option[Long],
      schedule_interval_sec: Option[Long],
      timezone: Option[String],
      sha512_ok: Boolean,
      n_captures: Int,
      max_of_max_channel_powers: Seq[Double],
      median_of_mean_channel_powers: Seq[Double],
      diagnostics: Map[String, String])

  final case class Decoded(
      traces: Seq[TraceRow],
      channels: Seq[ChannelMetaRow],
      sweep: SweepMetaRow)

  /** Decode one .sigmf file (all steps of SURVEY §3.1). `sha512_ok` is
    * always reported; `checkHash` only controls whether a mismatch is fatal
    * (reference hash_check, seamf.py:1021-1024).
    */
  def decodeFile(path: String, bytes: Array[Byte], tz: Option[String],
      decodePayload: Boolean, checkHash: Boolean): Decoded = {
    val f = SeamfDecode.decode(path, bytes, tz, TracePrune(), decodePayload,
      checkHash)
    Decoded(traceRows(f), channelRows(f), sweepRow(f))
  }

  private def traceRows(f: SeamfDecode.File): Seq[TraceRow] =
    if (f.payload == null) Nil
    else f.keep.indices.map { i =>
      val s = f.keep(i)
      val cap = f.meta.captures(s.captureIdx)
      TraceRow(f.path, cap.datetimeUs, cap.frequency, s.table,
        s.captureStatistic, s.detector, s.axisStart, s.axisStep, f.slice(i))
    }

  private def channelRows(f: SeamfDecode.File): Seq[ChannelMetaRow] =
    f.meta.captures.map { c =>
      ChannelMetaRow(f.path, c.datetimeUs, c.frequency, c.overload, c.calGainDb,
        c.calNoiseFigureDb, c.calTemperatureDegC, c.siganReferenceLevelDbm,
        c.siganAttenuationDb, c.siganPreampEnable, c.iqCaptureDurationMs)
    }

  private def sweepRow(f: SeamfDecode.File): SweepMetaRow = {
    val m = f.meta
    SweepMetaRow(f.path, m.version, m.schemaGeneration, m.sampleRate,
      m.numChannels, m.task, m.scheduleName, m.scheduleStartUs,
      m.scheduleIntervalSec, m.timezone, f.shaOk, m.captures.size,
      m.maxOfMaxChannelPowers, m.medianOfMeanChannelPowers, m.diagnostics)
  }

  /** Scan + decode a directory/glob of .sigmf files in one fused
    * scan -> decode -> project stage. The per-table projection happens
    * INSIDE the single mapPartitions (no `Dataset[Decoded].flatMap` chain):
    * a typed flatMap after a typed mapPartitions leaves an object-to-object
    * ProjectExec in the plan, which crashes Spark's interpreted
    * UnsafeProjection fallback (ObjectType is codegen-only).
    *
    * @param errors "raise" (fail the job on a bad file) or "log" (skip it,
    *               count it in the `seamf.failed_files` accumulator) —
    *               reference errors= semantics (ziparchive.py:381-440).
    * @param decodePayload false = metadata-only fast path (`read_seamf_meta`,
    *               seamf.py:1073-1103): the XZ payload is never touched.
    */
  private def decodeAs[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String, tz: Option[String], errors: String,
      decodePayload: Boolean, checkHash: Boolean)(
      project: SeamfDecode.File => IterableOnce[T]): Dataset[T] = {
    import spark.implicits._
    val failed: LongAccumulator = spark.sparkContext.longAccumulator("seamf.failed_files")
    val raise = errors == "raise"
    // multi-archive union (S11, ziparchive.py:236-256): comma-separated
    // paths scan as one unioned source
    val paths = path.split(',').map(_.trim).filter(_.nonEmpty)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.sigmf")
      .load(paths.toIndexedSeq: _*)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (p, bytes) =>
          try {
            project(SeamfDecode.decode(p, bytes, tz, TracePrune(),
              decodePayload, checkHash))
          } catch {
            case _: Exception if !raise =>
              failed.add(1)
              Iterator.empty
          }
        }
      }
  }

  /** Metadata-evaluable decode predicate for the `format("seamf")`
    * connector's filter pushdown ([[graft.sources.SeamfSource]]): every
    * field is testable from the parsed metadata JSON ALONE — capture
    * datetimes, capture frequencies, and the slot table names all live in
    * the tar's metadata member — so a non-matching file is rejected before
    * its XZ payload is ever decompressed (the decode-dominant cost,
    * seamf.py:1038-1040). `None` = no constraint.
    */
  final case class TracePrune(
      tables: Option[Set[String]] = None,
      minDatetimeUs: Option[Long] = None,
      maxDatetimeUs: Option[Long] = None,
      minFrequency: Option[Double] = None,
      maxFrequency: Option[Double] = None) {
    def matchesCapture(datetimeUs: Long, frequency: Double): Boolean =
      minDatetimeUs.forall(datetimeUs >= _) &&
        maxDatetimeUs.forall(datetimeUs <= _) &&
        minFrequency.forall(frequency >= _) &&
        maxFrequency.forall(frequency <= _)
    def matchesTable(table: String): Boolean = tables.forall(_.contains(table))
  }

  /** Zip members per input split of [[tracesFromZips]]. */
  private val MembersPerSplit = 8

  /** Decode zip archives of .sigmf members (S7: the reference's primary
    * input container, ziparchive.py:365-447) with MEMBER-level parallelism:
    * central directories are enumerated up front (the reference caches the
    * same ZipInfo lists at construction, ziparchive.py:126-146) and the
    * member list becomes the input split set, so one big archive fans out
    * across tasks instead of serializing on one executor (reference
    * partition-splitting parity, ziparchive.py:260-263). Each task opens
    * the zip via random access and reads only its assigned members.
    *
    * Listing walks the local filesystem; on an object store the same
    * enumeration would read each archive's central directory over ranged
    * GETs — the split/decode pipeline is unchanged.
    */
  def tracesFromZips(spark: SparkSession, path: String,
      tz: Option[String] = None, errors: String = "log"): Dataset[TraceRow] = {
    import spark.implicits._
    val failed = spark.sparkContext.longAccumulator("seamf.failed_files")
    val raise = errors == "raise"
    // driver-side central-directory enumeration: (zip path, member name)
    val members: Seq[(String, String)] = {
      val dir = java.nio.file.Paths.get(path)
      val zips =
        if (java.nio.file.Files.isDirectory(dir))
          java.nio.file.Files.list(dir).iterator().asScala
            .filter(_.toString.endsWith(".zip")).map(_.toString).toSeq.sorted
        else Seq(path)
      zips.flatMap { zp =>
        val zf = new java.util.zip.ZipFile(zp)
        try zf.entries().asScala
          .filter(e => !e.isDirectory && e.getName.endsWith(".sigmf"))
          .map(e => (zp, e.getName)).toSeq
        finally zf.close()
      }
    }
    val nSplits = math.max(1,
      math.min(members.size / MembersPerSplit,
        spark.sparkContext.defaultParallelism * 2))
    spark.createDataset(members)
      .repartition(math.max(nSplits, 2)) // >=2: one archive must still fan out
      .mapPartitions { it =>
        // open each zip once per (partition, zip); random-access reads pull
        // only this task's members
        it.toSeq.groupBy(_._1).iterator.flatMap { case (zp, ms) =>
          val zf = new java.util.zip.ZipFile(zp)
          val out = ms.flatMap { case (_, member) =>
            try {
              val entry = zf.getEntry(member)
              val bytes = zf.getInputStream(entry).readAllBytes()
              traceRows(SeamfDecode.decode(s"$zp!$member", bytes, tz,
                TracePrune(), wantPayload = true, checkHash = true))
            } catch {
              case _: Exception if !raise =>
                failed.add(1)
                Seq.empty
            }
          }
          zf.close()
          out
        }
      }
  }

  def traces(spark: SparkSession, path: String, tz: Option[String] = None,
      errors: String = "log"): Dataset[TraceRow] = {
    import spark.implicits._
    decodeAs[TraceRow](spark, path, tz, errors,
      decodePayload = true, checkHash = true)(traceRows)
  }

  def channelMetadata(spark: SparkSession, path: String,
      tz: Option[String] = None, errors: String = "log"): DataFrame = {
    import spark.implicits._
    decodeAs[ChannelMetaRow](spark, path, tz, errors,
        decodePayload = false, checkHash = true)(channelRows).toDF()
      .withColumn("datetime", timestamp_micros(col("datetime_us")))
  }

  /** Metadata-only scan (S3): one row per file, payload never decompressed. */
  def sweepMetadata(spark: SparkSession, path: String,
      tz: Option[String] = None, errors: String = "log",
      checkHash: Boolean = false): DataFrame = {
    import spark.implicits._
    decodeAs[SweepMetaRow](spark, path, tz, errors,
      decodePayload = false, checkHash = checkHash)(f => Seq(sweepRow(f))).toDF()
  }

  /** The four trace products in long format (FIXTURES §A.4) over one
    * trace frame: what [[tables]] returns and what [[SeamfLake.exportAll]]
    * writes from its persisted scan. The apd table unions the v4+
    * axis-based form with the v2/v3 zipped two-trace form.
    */
  private[graft] def traceProducts(tr: DataFrame): Map[String, DataFrame] = {
    def long(table: String, value: Column*): DataFrame =
      tr.filter(col("table") === table)
        .select(col("file"), timestamp_micros(col("datetime_us")).as("datetime"),
          col("frequency"), col("capture_statistic"), col("detector"),
          posexplode(col("trace")).as(Seq("pos", "value")),
          col("axis_start"), col("axis_step"))
        .withColumn("axis", col("axis_start") + col("pos") * col("axis_step"))
        .select(Seq(col("file"), col("datetime"), col("frequency")) ++ value: _*)
    Map(
      "psd" -> long("psd", col("capture_statistic"), col("axis").as("baseband_hz"),
        col("value").as("psd_dbm_per_hz")),
      "pvt" -> long("pvt", col("detector"), col("axis").as("elapsed_s"),
        col("value").as("power_dbm")),
      "pfp" -> long("pfp", col("capture_statistic"), col("detector"),
        col("axis").as("frame_s"), col("value").as("power_dbm")),
      "apd" -> long("apd", col("axis").as("amplitude_dbm"),
        col("value").as("probability_pct")).unionByName(legacyApd(tr)))
  }

  /** Legacy (v2/v3) APD: probability-percentile and amplitude traces zipped
    * positionally into the tabular (amplitude, probability) long form
    * (seamf.py:541-570). One equi-join on the capture key, arrays zipped
    * cell-wise — no shuffle beyond the join.
    */
  private def legacyApd(tr: DataFrame): DataFrame = {
    val prob = tr.filter(col("table") === "apd_prob")
      .select(col("file"), col("datetime_us"), col("frequency"),
        col("trace").as("prob_trace"))
    val amp = tr.filter(col("table") === "apd_amp")
      .select(col("file"), col("datetime_us"), col("frequency"),
        col("trace").as("amp_trace"))
    prob.join(amp, Seq("file", "datetime_us", "frequency"))
      .withColumn("datetime", timestamp_micros(col("datetime_us")))
      .select(col("file"), col("datetime"), col("frequency"),
        posexplode(zip_with(col("amp_trace"), col("prob_trace"),
          (a, p) => struct(a.as("amp"), p.as("prob")))).as(Seq("pos", "cell")))
      .select(col("file"), col("datetime"), col("frequency"),
        col("cell.amp").cast("double").as("amplitude_dbm"),
        col("cell.prob").as("probability_pct"))
  }

  /** The reference's dict-of-tables bundle (`unpack_dataframes`,
    * seamf.py:159-232) in long format: psd / pvt / pfp / apd +
    * channel_metadata + sweep_metadata. The trace scan is shared: callers
    * doing several products should `.persist()` the trace Dataset
    * (SURVEY S13 shared-scan), as [[SeamfLake.exportAll]] does.
    */
  def tables(spark: SparkSession, path: String, tz: Option[String] = None,
      errors: String = "log"): Map[String, DataFrame] =
    traceProducts(traces(spark, path, tz, errors).toDF()) ++ Map(
      "channel_metadata" -> channelMetadata(spark, path, tz, errors),
      "sweep_metadata" -> sweepMetadata(spark, path, tz, errors, checkHash = true))
}
