package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Aggregators, DbMath}
import graft.operators.{AsOfJoin, Windowed}
import graft.seamf.{SeamfLake, SeamfReader}
import graft.streaming.StreamingOps
import perfbench.ArchiveGen.{Archive, Channels, Tables, TracesPerTable}

/** One timed call into the engine and whether its result checked out. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** What one run shares across its passes. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val bench: Path, val tracer: Tracer) {
  /** Set while a traced pass runs: DSv2 reads also time their planning. */
  var traced = false
  var planMs = 0.0
  /** Runs after each engine call returns, before its result is checked;
    * takes the operation's name.
    */
  var callEnd: String => Unit = _ => ()

  def read(dir: Path): DataFrame = spark.read.format("seamf").load(dir.toString)

  /** Forces planning (listing, split packing, pushdown) in traced passes. */
  def planned(df: DataFrame): DataFrame = {
    if (traced) {
      val t0 = System.nanoTime()
      tracer.span("sources.plan")(df.queryExecution.executedPlan)
      planMs += (System.nanoTime() - t0) / 1e6
    }
    df
  }

  /** An operation that, when run, times `call` as its latency and then
    * checks its result.
    */
  def op[T](name: String)(call: => T)(check: T => Boolean): () => Op = () => {
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(s"op.$name")(call)
      val secs = (System.nanoTime() - t0) / 1e9
      callEnd(name)
      val ok = tracer.span(s"check.$name")(check(out))
      if (!ok) System.err.println(s"perfbench: check failed: $name (seed $seed)")
      Op(name, secs, ok)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $name failed: $e")
        e.printStackTrace()
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false)
    }
  }
}

trait Workload {
  def name: String
  /** Sweeps the workload generates. The seamf source packs splits to
    * total / 4 cores; with nFiles = 2 (mod 4) every bin boundary has half a
    * file of slack, so file-size noise cannot change the task count from
    * one seed to the next.
    */
  def nFiles: Int
  /** Writes the run's inputs under `work`; runs while the session starts. */
  def generate(seed: Long, work: Path, bench: Path): Archive =
    ArchiveGen.generate(work.resolve("archive"), seed, nFiles, Main.Cores)
  def prepare(ctx: Ctx, archive: Archive): Unit = ()
  /** The operations of pass `k`, to run one at a time in this order. */
  def pass(ctx: Ctx, archive: Archive, k: Int): Seq[() => Op]
}

object Workload {
  val all: Seq[Workload] = Seq(IngestNoisy, QueryMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}

/** Full-trace read of the whole archive into a `noop` sink. */
object IngestNoisy extends Workload {
  val name = "ingest_noisy"
  val nFiles = 66

  def pass(ctx: Ctx, a: Archive, k: Int): Seq[() => Op] = {
    val obs = Observation(s"ingest_$k")
    val sums = Tables.indices.flatMap { t =>
      val isT = col("table") === Tables(t)
      Seq(sum(when(isT, 1L)).as(s"n_$t"), bit_xor(when(isT, xxhash64(col("trace")))).as(s"h_$t"))
    }
    val df = ctx.planned(ctx.read(a.dir).observe(obs, sums.head, sums.tail: _*))
    Seq(ctx.op("ingest") {
      df.write.format("noop").mode("overwrite").save()
      obs.get
    } { m =>
      Tables.indices.forall { t =>
        m(s"n_$t") == a.files.size.toLong * Channels * TracesPerTable(t) &&
          m(s"h_$t") == a.files.map(_.tableHash(t)).reduce(_ ^ _)
      }
    })
  }
}

/** The analyst's queries over one archive and a Parquet export of the
  * window's sweeps (`ArchiveQueries`), then the inventory queries
  * (`OperatorChain`), one at a time. They share one workload, so a run
  * measures each of them for twice as long as the run budget would allow
  * two workloads, each with its own set-up.
  */
object QueryMix extends Workload {
  val name = "query_mix"
  val nFiles = ArchiveQueries.nFiles

  override def generate(seed: Long, work: Path, bench: Path): Archive = {
    val tables = java.util.concurrent.CompletableFuture.runAsync(
      () => OperatorChain.generate(seed, work, bench))
    val a = super.generate(seed, work, bench)
    tables.get()
    a
  }

  override def prepare(ctx: Ctx, a: Archive): Unit = {
    ArchiveQueries.prepare(ctx, a)
    OperatorChain.prepare(ctx)
  }

  def pass(ctx: Ctx, a: Archive, k: Int): Seq[() => Op] =
    ArchiveQueries.pass(ctx, a, k) ++ OperatorChain.pass(ctx)
}

/** An analyst's mix over one archive, one query at a time, ending with a
  * Parquet export of the window's sweeps (`SeamfLake.exportAll`).
  */
object ArchiveQueries {
  /** Sweeps in the archive. */
  val nFiles = 26
  /** The window queries and the export cover this many consecutive sweeps
    * (~4.5 minutes), whatever gaps fall inside, so every seed does the same
    * work; 3 of 26 keeps the decoded share of listed files under 0.1.
    */
  val WindowSweeps = 3
  val MinuteUs = 60 * 1000000L
  val queryNames = Seq("range_1min_psd", "sweep_metadata", "count_by_table", "gaps",
    "capture_summary", "asof_cal", "spectrogram", "stream_meta_drain", "export_window")

  /** Seeded query positions and the calibration table for the as-of join. */
  final case class Plan(minuteFrom: Long, windowFrom: Long, windowUs: Long,
      specChannel: Int, cal: Seq[(Double, Long, Double)])
  private var plan: Plan = _

  def prepare(ctx: Ctx, a: Archive): Unit = {
    val r = new java.util.Random(ctx.seed ^ 0x5DEECE66DL)
    // the minute starts up to 40 s before a sweep, so it holds all 17 captures
    val minuteFrom = a.files(r.nextInt(a.files.size)).startUs - r.nextInt(40) * 1000000L
    val w = r.nextInt(a.files.size - WindowSweeps)
    val windowFrom = a.files(w).startUs
    val windowUs = a.files(w + WindowSweeps).startUs - windowFrom
    // calibration events every 5-15 minutes per channel
    val cal = for {
      c <- 0 until Channels
      t <- Iterator.iterate(a.startUs - 3600000000L)(_ + (300 + r.nextInt(600)) * 1000000L)
        .takeWhile(_ <= a.endUs).toSeq
    } yield (ArchiveGen.frequency(c), t, 30.0 + c * 0.5 + r.nextInt(1000) / 1000.0)
    plan = Plan(minuteFrom, windowFrom, windowUs, r.nextInt(Channels), cal)
    // the window's sweeps, as the landing directory the export reads
    Files.createDirectories(Lake.landing(ctx))
    for (f <- a.files.slice(w, w + WindowSweeps))
      Files.copy(a.dir.resolve(s"${f.name}.sigmf"), Lake.landing(ctx).resolve(s"${f.name}.sigmf"))
  }

  private def inRange(from: Long, len: Long) =
    col("datetime_us") >= from && col("datetime_us") < from + len

  /** (file, channel) of every capture in [from, from + len). */
  private def capturesIn(a: Archive, from: Long, len: Long) =
    for (f <- a.files; c <- 0 until Channels
         if f.captureUs(c) >= from && f.captureUs(c) < from + len) yield (f, c)

  def pass(ctx: Ctx, a: Archive, k: Int): Seq[() => Op] = {
    import ctx.spark.implicits._
    val p = plan
    val dir = a.dir.toString
    val ops = Seq.newBuilder[() => Op]

    ops += ctx.op("range_1min_psd") {
      ctx.planned(ctx.read(a.dir)
        .filter(col("table") === "psd" && inRange(p.minuteFrom, MinuteUs))
        .select("datetime_us", "frequency", "capture_statistic", "trace")).collect()
    } { rows =>
      val caps = capturesIn(a, p.minuteFrom, MinuteUs)
      val meanMax = caps.map { case (f, c) =>
        (f.captureUs(c), ArchiveGen.frequency(c)) -> f.specBinMax(c).max
      }.toMap
      caps.nonEmpty && rows.length == caps.size * 2 && rows.forall { r =>
        r.getString(2) != "mean" ||
          meanMax.get((r.getLong(0), r.getDouble(1))).contains(r.getSeq[Float](3).max)
      }
    }

    ops += ctx.op("sweep_metadata") {
      SeamfReader.sweepMetadata(ctx.spark, dir, checkHash = true)
        .select("file", "schedule_start_us", "sha512_ok", "n_captures").collect()
    } { rows =>
      rows.length == a.files.size && rows.forall(_.getBoolean(2)) &&
        rows.map(_.getLong(1)).sorted.toSeq == a.files.map(_.startUs)
    }

    ops += ctx.op("count_by_table") {
      ctx.planned(ctx.read(a.dir).groupBy("table")
        .agg(count(lit(1)), min("datetime_us"), max("datetime_us"))).collect()
    } { rows =>
      rows.length == Tables.size && rows.forall { r =>
        val t = Tables.indexOf(r.getString(0))
        r.getLong(1) == a.files.size.toLong * Channels * TracesPerTable(t) &&
          r.getLong(2) == a.startUs && r.getLong(3) == a.endUs
      }
    }

    ops += ctx.op("gaps") {
      val starts = SeamfReader.sweepMetadata(ctx.spark, dir).select("schedule_start_us")
      Windowed.distributedLag(starts, "schedule_start_us", 4)
        .filter(col("schedule_start_us") - col("prev") > ArchiveGen.IntervalUs * 3 / 2)
        .select("schedule_start_us").as[Long].collect()
    } { gaps => gaps.sorted.toSeq == a.gapStartsUs }

    ops += ctx.op("capture_summary") {
      val w = ctx.read(a.dir).filter(inRange(p.windowFrom, p.windowUs))
      val keys = Seq("datetime_us", "frequency")
      val pvt = w.filter(col("table") === "pvt" && col("detector") === "peak")
        .groupBy(keys.map(col): _*).agg(max(array_max(col("trace"))).as("pvt_max"))
      val psd = w.filter(col("table") === "psd" && col("capture_statistic") === "mean")
        .select(col("datetime_us"), col("frequency"), explode(col("trace")).as("v"))
        .withColumn("v", col("v").cast("double"))
        .groupBy(keys.map(col): _*).agg(
          DbMath.dbMean(col("v")).as("psd_db_mean"),
          udaf(Aggregators.QuantileAgg(0.5), Encoders.scalaDouble)(col("v")).as("psd_median"),
          udaf(Aggregators.TrimmedMeanAgg(), Encoders.scalaDouble)(col("v")).as("psd_trimmed"))
      val cm = SeamfReader.channelMetadata(ctx.spark, dir)
        .select("datetime_us", "frequency", "cal_gain_dB")
      ctx.planned(pvt.join(psd, keys).join(cm, keys)).collect()
    } { rows =>
      val want = capturesIn(a, p.windowFrom, p.windowUs)
        .map { case (f, c) => (f.captureUs(c), ArchiveGen.frequency(c)) -> (f, c) }.toMap
      rows.length == want.size && rows.forall { r =>
        want.get((r.getAs[Long]("datetime_us"), r.getAs[Double]("frequency"))).exists {
          case (f, c) =>
            r.getAs[Float]("pvt_max") == f.pvtPeak(c) &&
              Workload.close(r.getAs[Double]("psd_db_mean"), f.psdMeanDb(c), 1e-9) &&
              r.getAs[Double]("psd_median") == f.psdMedian(c) &&
              r.getAs[Double]("psd_trimmed") <= f.psdMeanDb(c) + 10 &&
              r.getAs[Double]("cal_gain_dB") == 30.0 + c * 0.5
        }
      }
    }

    ops += ctx.op("asof_cal") {
      val peaks = ctx.read(a.dir).filter(inRange(p.windowFrom, p.windowUs) &&
          col("table") === "pfp" && col("detector") === "peak" &&
          col("capture_statistic") === "max")
        .select(col("frequency"), col("datetime_us"), array_max(col("trace")).as("peak"))
      val cal = p.cal.toDF("frequency", "cal_us", "cal_gain")
      ctx.planned(AsOfJoin.backward(peaks, cal, Seq("frequency"), "datetime_us",
        "cal_us", Seq("cal_gain"))).collect()
    } { rows =>
      val want = capturesIn(a, p.windowFrom, p.windowUs).map { case (f, c) =>
        val fr = ArchiveGen.frequency(c)
        val gain = p.cal.filter(e => e._1 == fr && e._2 <= f.captureUs(c)).maxBy(_._2)._3
        (f.captureUs(c), fr) -> (f.pfpPeak(c), gain)
      }.toMap
      rows.length == want.size && rows.forall { r =>
        want.get((r.getAs[Long]("datetime_us"), r.getAs[Double]("frequency")))
          .contains((r.getAs[Float]("peak"), r.getAs[Double]("cal_gain")))
      }
    }

    ops += ctx.op("spectrogram") {
      val per = ArchiveGen.Shape.psdLen / ArchiveGen.SpecBins
      ctx.planned(ctx.read(a.dir).filter(inRange(p.windowFrom, p.windowUs) &&
          col("table") === "psd" && col("capture_statistic") === "mean" &&
          col("frequency") === ArchiveGen.frequency(p.specChannel))
        .select(col("datetime_us"), posexplode(col("trace")))
        .withColumn("bin", floor(col("pos") / per))
        .groupBy("datetime_us").pivot("bin", (0 until ArchiveGen.SpecBins).map(_.toLong))
        .agg(max("col"))).collect()
    } { rows =>
      val want = capturesIn(a, p.windowFrom, p.windowUs).filter(_._2 == p.specChannel)
        .map { case (f, c) => f.captureUs(c) -> f.specBinMax(c) }.toMap
      rows.length == want.size && rows.forall { r =>
        want.get(r.getLong(0)).exists(bins =>
          bins.indices.forall(b => r.getFloat(b + 1) == bins(b)))
      }
    }

    ops += ctx.op("stream_meta_drain") {
      val df = ctx.spark.readStream.format("seamf")
        .option("maxFilesPerTrigger", (a.files.size / 2).toString)
        .load(dir).select("file", "datetime_us", "table")
      val name = s"drain_$k"
      val out = StreamingOps.runToMemory(ctx.spark, df, name)
      try out.groupBy("table").count().collect()
      finally ctx.spark.catalog.dropTempView(name)
    } { rows =>
      rows.length == Tables.size && rows.forall { r =>
        r.getLong(1) == a.files.size.toLong * Channels *
          TracesPerTable(Tables.indexOf(r.getString(0)))
      }
    }

    val out = Lake.outDir(ctx, k)
    ops += ctx.op("export_window") {
      SeamfLake.exportAll(ctx.spark, Lake.landing(ctx).toString, out.toString, validate = false)
    } { written =>
      val want = Lake.expectedRows(WindowSweeps)
      written.keySet == want.keySet &&
        want.forall { case (t, n) => Lake.parquetFiles(out.resolve(t)).map(Lake.rowCount).sum == n }
    }
    ops.result()
  }

  /** Decompressed float16 bytes of the sweeps the export reads. */
  def exportPayloadBytes: Long = WindowSweeps.toLong * Channels * ArchiveGen.Shape.perCapture * 2
}

/** The export's landing and output directories, and what it must write. */
object Lake {
  def landing(ctx: Ctx): Path = ctx.work.resolve("landing")

  def expectedRows(files: Int): Map[String, Long] = {
    val caps = files.toLong * Channels
    val s = ArchiveGen.Shape
    Map("psd" -> caps * 2 * s.psdLen, "pvt" -> caps * 2 * s.pvtLen,
      "pfp" -> caps * 6 * s.pfpLen, "apd" -> caps * s.apdLen,
      "channel_metadata" -> caps, "sweep_metadata" -> files.toLong,
      "capture_summary" -> caps)
  }

  def outDir(ctx: Ctx, k: Int): Path = ctx.work.resolve(s"lake/p$k")

  /** Parquet part files under `dir`. */
  def parquetFiles(dir: Path): Seq[Path] = {
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally files.close()
  }

  /** Rows of one Parquet file, from its footer. */
  def rowCount(p: Path): Long = {
    val in = HadoopInputFile.fromPath(new HPath(p.toUri), new Configuration())
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
