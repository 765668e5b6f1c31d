package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LlmDedupQueries
import graft.seamf.SeamfFixtures

/** Shared Spark session for test suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted after the suite
    * together with the query artifacts keyed on its path
    * (`graft_<kind>_<artifactKey(dir)>`, see `LlmDedupQueries.artifactKey`).
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      tempDirs.asScala.foreach { d =>
        val artifactSuffix = "_" + LlmDedupQueries.artifactKey(d.toString)
        val artifacts = Files.list(tmp)
        try artifacts.iterator().asScala.toList.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("graft_") && n.endsWith(artifactSuffix)
        }.foreach(SeamfFixtures.deleteTree)
        finally artifacts.close()
        SeamfFixtures.deleteTree(d)
      }
    } finally super.afterAll()
}
