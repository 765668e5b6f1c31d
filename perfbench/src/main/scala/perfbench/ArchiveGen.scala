package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.seamf.{HalfFloat, SeamfCodec, SeamfFixtures}

/** Seeded seamf archive generator, built only from public `graft.seamf`
  * functions: `SeamfFixtures.buildPayload`/`buildMetaJson`,
  * `HalfFloat.encodeVector`, `SeamfCodec.xzCompress(_, 6)`, `sha512Hex` and
  * `packTar`.
  *
  * Files have the reference sweep shape (17 channels, traces of
  * 625/400/560/151 samples) with seeded Gaussian noise on the dB traces, so
  * XZ at preset 6 compresses them about 1.4:1 as real sweeps do; the
  * noiseless fixture compresses 77:1 and makes XZ nearly free. Sweeps are
  * 90 s apart, with a few seeded gaps of several missing sweeps.
  *
  * Alongside the files the generator returns the facts a correct read must
  * reproduce, computed from the half-float round-tripped values it wrote.
  */
object ArchiveGen {
  val Channels = 17
  val Shape = SeamfFixtures.Shape(psdLen = 625, pvtLen = 400, pfpLen = 560, apdLen = 151)
  val IntervalUs = 90000000L
  val NoiseDb = 3.0
  val XzPreset = 6
  val Tables = IndexedSeq("psd", "pvt", "pfp", "apd")
  /** Trace order inside a capture (`SeamfFixtures.buildPayload`). */
  val TraceTable: IndexedSeq[Int] = IndexedSeq(0, 0, 1, 1, 2, 2, 2, 2, 2, 2, 3)
  val TraceLen: IndexedSeq[Int] = TraceTable.map(Seq(Shape.psdLen, Shape.pvtLen, Shape.pfpLen, Shape.apdLen))
  val TracesPerTable: IndexedSeq[Int] = Tables.indices.map(t => TraceTable.count(_ == t))
  /** Trace indices the queries read: PSD "mean", PVT "maximum", PFP "max_maximum". */
  val PsdMean = 1
  val PvtPeak = 2
  val PfpMaxMax = 8
  /** Coarse spectrogram bins over the 625 PSD samples. */
  val SpecBins = 25
  /** Seed of Spark's `xxhash64`, and the trace column's type. */
  val HashSeed = 42L
  val TraceType = ArrayType(FloatType, containsNull = false)
  /** 2023-09-25T00:00:00Z, the day of the reference's production archive. */
  val BaseUs = 1695600000000000L

  def frequency(channel: Int): Double = 3.555e9 + channel * 1e7

  /** Per-file facts, all from half-float round-tripped values. */
  final case class FileTruth(
      name: String,
      startUs: Long,
      compressedBytes: Long,
      /** Per table: XOR over its traces of Spark's `xxhash64(trace)`. */
      tableHash: Array[Long],
      /** Per capture. */
      pvtPeak: Array[Float],
      pfpPeak: Array[Float],
      psdMeanDb: Array[Double],
      psdMedian: Array[Double],
      /** Per capture x SpecBins: max of the PSD mean trace in each bin. */
      specBinMax: Array[Array[Float]]) {
    def captureUs(c: Int): Long = startUs + c * 1000000L
  }

  final case class Archive(dir: Path, files: IndexedSeq[FileTruth],
      gapStartsUs: IndexedSeq[Long]) {
    def payloadBytes: Long = files.size.toLong * Channels * Shape.perCapture * 2
    def compressedBytes: Long = files.map(_.compressedBytes).sum
    def startUs: Long = files.head.startUs
    def endUs: Long = files.last.captureUs(Channels - 1)
  }

  /** Deterministic per-file stream, independent of generation order. */
  private def rng(seed: Long, fileIdx: Int): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + fileIdx * 0xBF58476D1CE4E5B9L)

  /** Sweep start times: a seeded start, 90 s cadence, seeded gaps. */
  def schedule(seed: Long, nFiles: Int): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val r = new java.util.Random(seed)
    val t0 = BaseUs + r.nextInt(24 * 60) * 60000000L
    val nGaps = 3
    val gapAt = r.ints(1, nFiles).distinct().limit(nGaps).toArray.toSet
    var t = t0
    val starts = (0 until nFiles).map { i =>
      if (i > 0) t += IntervalUs * (if (gapAt(i)) 3 + r.nextInt(6) else 1)
      t
    }
    (starts, gapAt.toIndexedSeq.sorted.map(starts))
  }

  /** Write `nFiles` sweeps into `dir` on `threads` threads. */
  def generate(dir: Path, seed: Long, nFiles: Int, threads: Int): Archive = {
    Files.createDirectories(dir)
    val (starts, gaps) = schedule(seed, nFiles)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until nFiles).map { i =>
        pool.submit(() => writeFile(dir, seed, i, starts(i)))
      }
      Archive(dir, futures.map(_.get()), gaps)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  def fileName(i: Int): String = f"sweep_$i%05d"

  private def writeFile(dir: Path, seed: Long, i: Int, startUs: Long): FileTruth = {
    val r = rng(seed, i)
    val values = SeamfFixtures.buildPayload(Channels, Shape)
    // noise on the dB traces; the APD trace holds probabilities
    var k = 0
    for (_ <- 0 until Channels; t <- TraceTable.indices; _ <- 0 until TraceLen(t)) {
      if (t != 10) values(k) = (values(k) + r.nextGaussian() * NoiseDb).toFloat
      k += 1
    }
    val payload = HalfFloat.encodeVector(values)
    val compressed = SeamfCodec.xzCompress(payload, XzPreset)
    val name = fileName(i)
    val meta = SeamfFixtures.buildMetaJson(i, startUs, Channels, Shape,
      SeamfCodec.sha512Hex(compressed))
    val bytes = pinTarTimes(SeamfCodec.packTar(name, meta, compressed))
    Files.write(dir.resolve(s"$name.sigmf"), bytes)
    truth(name, startUs, compressed.length, HalfFloat.decodeVector(payload))
  }

  private def truth(name: String, startUs: Long, compressed: Long,
      v: Array[Float]): FileTruth = {
    val tableHash = new Array[Long](Tables.size)
    val pvtPeak = new Array[Float](Channels)
    val pfpPeak = new Array[Float](Channels)
    val psdMeanDb = new Array[Double](Channels)
    val psdMedian = new Array[Double](Channels)
    val spec = Array.ofDim[Float](Channels, SpecBins)
    var off = 0
    for (c <- 0 until Channels; t <- TraceTable.indices) {
      val len = TraceLen(t)
      val tr = java.util.Arrays.copyOfRange(v, off, off + len)
      off += len
      tableHash(TraceTable(t)) ^= XxHash64Function.hash(
        UnsafeArrayData.fromPrimitiveArray(tr), TraceType, HashSeed)
      t match {
        case PvtPeak => pvtPeak(c) = tr.max
        case PfpMaxMax => pfpPeak(c) = tr.max
        case PsdMean =>
          psdMeanDb(c) = 10 * math.log10(tr.map(x => math.pow(10, x / 10.0)).sum / len)
          psdMedian(c) = graft.functions.Aggregators.interpolate(tr.map(_.toDouble).sorted, 0.5)
          val per = len / SpecBins
          for (b <- 0 until SpecBins) spec(c)(b) = tr.slice(b * per, (b + 1) * per).max
        case _ =>
      }
    }
    FileTruth(name, startUs, compressed, tableHash,
      pvtPeak, pfpPeak, psdMeanDb, psdMedian, spec)
  }

  /** `packTar` stamps the wall-clock time into each tar header; pin it to 0
    * (and fix the header checksum) so one seed always names one archive.
    */
  def pinTarTimes(tar: Array[Byte]): Array[Byte] = {
    var h = 0
    while (h + 512 <= tar.length && tar(h) != 0) {
      val size = java.lang.Long.parseLong(
        new String(tar, h + 124, 12, "US-ASCII").trim.takeWhile(_ != 0), 8)
      val mtime = "%011o\u0000".format(0L).getBytes("US-ASCII")
      System.arraycopy(mtime, 0, tar, h + 136, 12)
      java.util.Arrays.fill(tar, h + 148, h + 156, ' '.toByte)
      var sum = 0L
      for (j <- h until h + 512) sum += tar(j) & 0xff
      val chk = "%06o\u0000 ".format(sum).getBytes("US-ASCII")
      System.arraycopy(chk, 0, tar, h + 148, 8)
      h += 512 + ((size + 511) / 512 * 512).toInt
    }
    tar
  }
}
