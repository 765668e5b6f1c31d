package graft.seamf

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec

/** Lying input at the decode kernel ([[SeamfDecode]]). Each landing dir
  * holds one good sweep and one hostile sweep whose declared sha512 is
  * correct, so only the lie itself can fail it. Through both the library
  * ingest and `format("seamf")`, `errors=log` skips the hostile file and
  * counts it, and `errors=raise` fails the job.
  */
class SeamfHostileInputSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val mapper = new ObjectMapper()
  private val nChannels = 2
  private val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
  private val goodRows = nChannels * 11L

  /** A sweep whose XZ stream passes through `editXz` and whose metadata
    * through `editMeta`; the declared sha512 is that of the edited stream.
    */
  private def hostileSweep(editXz: Array[Byte] => Array[Byte],
      editMeta: ObjectNode => Unit): Array[Byte] = {
    val shape = SeamfFixtures.Shape()
    val xz = editXz(SeamfCodec.xzCompress(HalfFloat.encodeVector(
      SeamfFixtures.buildPayload(nChannels, shape)), preset = 1))
    val meta = mapper.readTree(SeamfFixtures.buildMetaJson(1,
      t0 + 90L * 1000000L, nChannels, shape, SeamfCodec.sha512Hex(xz)))
      .asInstanceOf[ObjectNode]
    editMeta(meta)
    SeamfCodec.packTar("synthetic_sweep_00001",
      mapper.writeValueAsString(meta), xz)
  }

  private def landing(prefix: String, hostile: Array[Byte]): String = {
    val dir = java.nio.file.Paths.get(tempDir(prefix))
    SeamfFixtures.writeSweep(dir, 0, t0, nChannels)
    Files.write(dir.resolve("synthetic_sweep_00001.sigmf"), hostile)
    dir.toString
  }

  /** Capture 1 starts at -2^32 + 10: every slot end stays inside the
    * payload, and an unchecked `Int` narrowing would read from offset 10.
    */
  private def lyingOffset(c: ObjectNode): Unit =
    c.get("captures").get(1).asInstanceOf[ObjectNode]
      .put("core:sample_start", -(1L << 32) + 10)

  /** `xz` with its block header declaring LZMA2 dictionary-size byte `b`
    * (a dictionary of (2 | (b & 1)) << (b / 2 + 11) bytes) and the header
    * CRC32 recomputed, so only the decoder's memory limit can reject it.
    */
  private def withDictByte(xz: Array[Byte], b: Int): Array[Byte] = {
    val out = xz.clone()
    val h = 12 // the block header follows the 12-byte stream header
    val headerLen = ((out(h) & 0xff) + 1) * 4
    val flags = out(h + 1) & 0xff
    var p = h + 2
    def skipVli(): Unit = { while ((out(p) & 0x80) != 0) p += 1; p += 1 }
    if ((flags & 0x40) != 0) skipVli() // compressed size
    if ((flags & 0x80) != 0) skipVli() // uncompressed size
    assert((flags & 0x03) == 0 && out(p) == 0x21 && out(p + 1) == 0x01,
      "expected a single LZMA2 filter")
    out(p + 2) = b.toByte
    val crc = new java.util.zip.CRC32
    crc.update(out, h, headerLen - 4)
    (0 until 4).foreach(i =>
      out(h + headerLen - 4 + i) = (crc.getValue >>> (8 * i)).toByte)
    out
  }

  private val HugeDict = 30 // 128 MiB, above the decoder's 72 MiB cap

  /** Sum of the library ingest's `seamf.failed_files` counts over `body`. */
  private def failedFiles(body: => Unit): Long = {
    val failed = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables
          .filter(_.name.contains("seamf.failed_files"))
          .foreach(_.update.foreach(v => failed.addAndGet(v.asInstanceOf[Long])))
    }
    org.apache.spark.graft.ListenerBusHatch.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusHatch.drain(spark.sparkContext)
      failed.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Rows and skipped-file count of a full `format("seamf")` scan. */
  private def dsv2(dir: String): (Long, Long) = {
    val df = spark.read.format("seamf").load(dir)
    val rows = df.collect().length.toLong
    val scan = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.head
    (rows, scan.metrics("seamfSkippedFiles").value)
  }

  private def assertLogAndRaise(dir: String): Unit = {
    var rows = 0L
    assert(failedFiles { rows = SeamfReader.traces(spark, dir).count() } === 1)
    assert(rows === goodRows)
    intercept[SparkException] {
      SeamfReader.traces(spark, dir, errors = "raise").count()
    }
    assert(dsv2(dir) === ((goodRows, 1L)))
    intercept[SparkException] {
      spark.read.format("seamf").option("errors", "raise").load(dir).collect()
    }
  }

  test("a sample_start outside Int range fails the file instead of " +
      "wrapping onto other samples") {
    val bytes = hostileSweep(identity, lyingOffset)
    val meta = SeamfMetadata.parse(SeamfCodec.unpackTar(bytes).metaJson)
    // the whole-table end check alone would pass this file
    assert(meta.requiredLength <= nChannels * SeamfFixtures.Shape().perCapture)
    val ex = intercept[IllegalArgumentException] {
      SeamfReader.decodeFile("lying", bytes, None, decodePayload = true,
        checkHash = true)
    }
    assert(ex.getMessage.contains("outside"), ex.getMessage)
    assertLogAndRaise(landing("graft_seamf_lying_offset", bytes))
  }

  test("an XZ header declaring a dictionary over the memory cap fails the " +
      "file, and preset 9's dictionary still decodes") {
    val bytes = hostileSweep(withDictByte(_, HugeDict), _ => ())
    intercept[org.tukaani.xz.MemoryLimitException] {
      SeamfCodec.xzDecompress(SeamfCodec.unpackTar(bytes).compressedPayload)
    }
    assertLogAndRaise(landing("graft_seamf_xz_dict", bytes))

    val plain = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val preset9Dict = withDictByte(SeamfCodec.xzCompress(plain), 28) // 64 MiB
    assert(SeamfCodec.xzDecompress(preset9Dict).sameElements(plain))
  }
}
