package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XxHash64Function}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.seamf.SeamfReader

class ArchiveGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val nFiles = 4
  private val dirs = ArrayBuffer.empty[Path]

  private def generate(seed: Long): (ArchiveGen.Archive, Seq[Array[Byte]]) = {
    val dir = Files.createTempDirectory("perfbench-gen")
    dirs += dir
    val a = ArchiveGen.generate(dir, seed, nFiles, threads = 2)
    val bytes = a.files.map(f => Files.readAllBytes(file(a, f)))
    (a, bytes)
  }

  override def afterAll(): Unit = dirs.foreach { d =>
    Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  private def file(a: ArchiveGen.Archive, f: ArchiveGen.FileTruth): Path =
    a.dir.resolve(s"${f.name}.sigmf")

  test("the same seed gives byte-identical files") {
    val (a, x) = generate(7)
    Thread.sleep(1100) // packTar stamps the clock in seconds
    val (b, y) = generate(7)
    assert(x.size == nFiles)
    x.zip(y).foreach { case (p, q) => assert(java.util.Arrays.equals(p, q)) }
    assert(a.gapStartsUs == b.gapStartsUs)
  }

  test("a different seed gives different files") {
    val (a, x) = generate(7)
    val (b, y) = generate(8)
    x.zip(y).foreach { case (p, q) => assert(!java.util.Arrays.equals(p, q)) }
    assert(a.files.map(_.startUs) != b.files.map(_.startUs))
  }

  test("files decode with a valid hash to the values the truth describes") {
    val (a, x) = generate(9)
    a.files.zip(x).foreach { case (f, bytes) =>
      val d = SeamfReader.decodeFile(file(a, f).toString, bytes, None,
        decodePayload = true, checkHash = true)
      assert(d.sweep.sha512_ok)
      assert(d.traces.size == ArchiveGen.Channels * ArchiveGen.TraceTable.size)
      ArchiveGen.Tables.indices.foreach { t =>
        val h = d.traces.filter(_.table == ArchiveGen.Tables(t))
          .map(tr => XxHash64Function.hash(UnsafeArrayData.fromPrimitiveArray(tr.trace),
            ArchiveGen.TraceType, ArchiveGen.HashSeed))
          .reduce(_ ^ _)
        assert(h == f.tableHash(t))
      }
    }
  }

  test("planted gaps are the only starts more than one interval apart") {
    val (starts, gaps) = ArchiveGen.schedule(11, 200)
    val jumps = starts.zip(starts.tail).collect {
      case (p, s) if s - p > ArchiveGen.IntervalUs => s
    }
    assert(jumps == gaps && gaps.size == 3)
  }
}
