package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session builder and one scratch owner: `src/main` may build a
  * `SparkSession` only in Session.scala and create temp directories
  * only in Scratch.scala. */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  /** Files containing `needle`, relative to src/main/scala. */
  private def holders(needle: String): Seq[String] = {
    val files = Files.walk(main)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains(needle))
      .map(main.relativize(_).toString).toSeq.sorted
    finally files.close()
  }

  test("SparkSession.builder appears only in Session.scala") {
    assert(holders("SparkSession.builder") == Seq("graft/Session.scala"))
  }

  test("createTempDirectory appears only in Scratch.scala") {
    assert(holders("createTempDirectory") == Seq("graft/Scratch.scala"))
  }
}
