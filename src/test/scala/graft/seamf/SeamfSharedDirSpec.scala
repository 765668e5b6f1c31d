package graft.seamf

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `SeamfFixtures.sharedDir`: the shared fixture directories are published
  * whole, once, even when several JVMs (here: threads) ask at once.
  */
class SeamfSharedDirSpec extends AnyFunSuite {
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val nFiles = 20

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  // every writer leaves its own `writer-*` file, so two writers sharing
  // one directory show up as two of them
  private def populate(writer: String)(dir: Path): Unit = {
    Files.write(dir.resolve(s"writer-$writer"), Array.emptyByteArray)
    (0 until nFiles).foreach { i =>
      Files.write(dir.resolve(s"f$i"), Array.fill(4096)(i.toByte))
      Thread.sleep(2)
    }
  }

  private def assertComplete(dirStr: String): Unit = {
    val dir = Paths.get(dirStr)
    val found = names(dir)
    assert(found.contains(".complete"), s"$dir has no marker")
    assert(found.count(_.startsWith("writer-")) === 1, found)
    assert(found.size === nFiles + 2, found)
    (0 until nFiles).foreach { i =>
      assert(Files.readAllBytes(dir.resolve(s"f$i")).toSeq ===
        Seq.fill(4096)(i.toByte), s"f$i")
    }
  }

  private def leftovers(name: String): Set[String] =
    names(tmp).filter(_.startsWith(s"$name."))

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  test("concurrent callers all get the same path to one complete, " +
      "readable directory, and no temporary copy is left behind") {
    val name = s"graft_shared_dir_spec_${java.util.UUID.randomUUID()}"
    val threads = 6
    val pool = Executors.newFixedThreadPool(threads)
    val go = new CountDownLatch(1)
    try {
      val calls = (0 until threads).map { t =>
        pool.submit(new Callable[String] {
          def call(): String = {
            go.await()
            val dir = SeamfFixtures.sharedDir(name)(populate(t.toString))
            // checked as soon as this caller returns, while other
            // callers may still be writing
            assertComplete(dir)
            dir
          }
        })
      }
      go.countDown()
      val dirs = calls.map(_.get(120, TimeUnit.SECONDS)).toSet
      assert(dirs === Set(tmp.resolve(name).toString))
      assertComplete(dirs.head)
      assert(leftovers(name).isEmpty, leftovers(name))
    } finally {
      pool.shutdownNow()
      deleteTree(tmp.resolve(name))
    }
  }

  test("a directory without its marker counts as incomplete and is " +
      "replaced; a complete one is reused untouched") {
    val name = s"graft_shared_dir_spec_${java.util.UUID.randomUUID()}"
    val dir = tmp.resolve(name)
    try {
      Files.createDirectories(dir)
      Files.write(dir.resolve("f0"), Array[Byte](42))
      Files.write(dir.resolve("writer-stale"), Array.emptyByteArray)
      assert(SeamfFixtures.sharedDir(name)(populate("fresh")) === dir.toString)
      assertComplete(dir.toString)
      assert(names(dir).contains("writer-fresh"))
      assert(leftovers(name).isEmpty, leftovers(name))

      var repopulated = false
      SeamfFixtures.sharedDir(name) { d => repopulated = true; populate("again")(d) }
      assert(!repopulated)
      assert(names(dir).contains("writer-fresh"))
    } finally deleteTree(dir)
  }
}
