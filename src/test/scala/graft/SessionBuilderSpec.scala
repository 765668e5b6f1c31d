package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.builder` is the one place a graft session is configured:
  * no main, spec or helper starts its own builder chain.
  */
class SessionBuilderSpec extends AnyFunSuite {

  // split so this file does not match itself
  private val needle = "SparkSession.builder" + "()"

  test("only GraftSession.scala starts a SparkSession builder chain") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r missing"))
    val hits = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
    assert(hits === Seq("GraftSession.scala"))
  }
}
