package perfbench

import java.nio.file.Files

import graft.seamf.{HalfFloat, SeamfCodec, SeamfMetadata, SeamfReader}

/** Single-thread per-file time of each seamf decode step, over the
  * workload's own files: tar unpack, metadata parse, SHA-512, XZ, float16
  * widening, and the whole `SeamfReader.decodeFile`.
  */
object DecodeLayers {
  final case class Result(tarMs: Double, metaMs: Double, shaMs: Double,
      xzMs: Double, f16Ms: Double, decodeMs: Double)

  /** Reference `read_seamf` rows (BASELINE.md), ms per file on one core:
    * metadata only, raw bytes read, numpy arrays, DataFrames.
    */
  val Reference = Seq(
    "ref v4" -> Seq(0.501, 5.62, 6.22, 8.14),
    "ref v5" -> Seq(0.545, 6.28, 7.63, 9.44),
    "ref v6" -> Seq(0.523, 5.92, 7.41, 9.07))

  def measure(archive: ArchiveGen.Archive, maxFiles: Int, tracer: Tracer): Result = {
    val files = archive.files.take(maxFiles)
      .map(f => archive.dir.resolve(s"${f.name}.sigmf"))
      .map(p => p.toString -> Files.readAllBytes(p))
    val samples = Array.fill(6)(scala.collection.mutable.ArrayBuffer.empty[Double])
    def timed[T](i: Int, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = tracer.span(name)(body)
      samples(i) += (System.nanoTime() - t0) / 1e6
      out
    }
    // the first round warms the JIT and is discarded
    for (round <- 0 until 2) {
      samples.foreach(_.clear())
      for ((path, bytes) <- files) {
        val raw = timed(0, "seamf.tar")(SeamfCodec.unpackTar(bytes))
        timed(1, "seamf.meta")(SeamfMetadata.parse(raw.metaJson, None))
        timed(2, "seamf.sha512")(SeamfCodec.sha512Hex(raw.compressedPayload))
        val payload = timed(3, "seamf.xz")(SeamfCodec.xzDecompress(raw.compressedPayload))
        timed(4, "seamf.f16")(HalfFloat.decodeVector(payload))
        timed(5, "seamf.decode")(SeamfReader.decodeFile(path, bytes, None,
          decodePayload = true, checkHash = true))
      }
    }
    val m = samples.map(s => Stats.median(s.toSeq))
    Result(m(0), m(1), m(2), m(3), m(4), m(5))
  }

  /** BASELINE's `read_seamf` columns, cumulative, in ms per file per core. */
  def table(r: Result): String = {
    val meta = r.tarMs + r.metaMs
    val raw = meta + r.shaMs + r.xzMs
    val arrays = raw + r.f16Ms
    val rows = ("perfbench" -> Seq(meta, raw, arrays, r.decodeMs)) +: Reference
    val head = f"${"ms/file/core"}%-14s ${"metadata only"}%14s ${"raw bytes"}%10s ${"arrays"}%8s ${"rows"}%8s"
    (head +: rows.map { case (n, v) =>
      f"$n%-14s ${v(0)}%14.3f ${v(1)}%10.3f ${v(2)}%8.3f ${v(3)}%8.3f"
    }).mkString("\n")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the median when there are too few samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (50.0, median(xs))
    else (100.0 * (s.size - 10) / s.size, s(s.size - 11))
  }
}
