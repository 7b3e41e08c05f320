package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session builder, one scratch owner and one parquet codec:
  * `src/main` may build a `SparkSession` only in Session.scala, create
  * temp directories only in Scratch.scala, the lake connector
  * encodes data files only through Spark's own parquet format,
  * deletion vectors are read only through the driver-rows accessor,
  * `Versioned` reads data files only through the connector's scan,
  * lake commits retry only through one optimistic-commit loop, and the
  * report path (returns, pipeline, jobs) caches no frame. */
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

  test("the lake connector has no hand-rolled parquet codec") {
    // exempt: Versioned.scala's driver-only metadata codec for
    // manifests, segments and deletion vectors (foreachParquetRecord /
    // writeParquetDirect), which keeps a commit and scan planning from
    // paying a Spark job; data files go through ParquetFileFormat
    val sources = holders("org.apache.parquet.example")
      .filter(_.startsWith("graft/sources/"))
    assert(sources.isEmpty, s"parquet-mr example codec in: $sources")
    assert(holders("org.apache.parquet.example") ==
      Seq("graft/ops/Versioned.scala"))
  }

  test("one DV codec: deletion vectors are read only as driver rows") {
    assert(holders("spark.read.schema(dvFields)").isEmpty,
      "deletion vectors must read through Versioned.deletionVectorRows")
    val viaFrame = holders("deletionVector(")
      .filter(_.startsWith("graft/sources/"))
    assert(viaFrame.isEmpty,
      s"connector files reading a vector as a DataFrame: $viaFrame")
  }

  test("one lake read path: Versioned reads only through the connector") {
    val src = Files.readString(main.resolve("graft/ops/Versioned.scala"))
    assert(!src.contains("spark.read"),
      "Versioned.scala must read data files through the connector's scan")
    assert(!src.contains("_metadata"),
      "row identity comes from the connector's row-id columns")
  }

  test("the report path caches nothing: no .cache() or .persist( in " +
      "Returns, MarketPipeline or jobs/") {
    val report = Seq("graft/ops/Returns.scala", "graft/ops/MarketPipeline.scala")
    val caching = (holders(".cache()") ++ holders(".persist("))
      .filter(f => report.contains(f) || f.startsWith("graft/jobs/")).distinct
    assert(caching.isEmpty, s"report-path files that cache: $caching")
  }

  test("one commit loop: no retry count, and commit( is called only by " +
      "the OCC and rebase helpers and the single-shot commits") {
    assert(holders("maxRetries").isEmpty,
      s"retry-count parameters in: ${holders("maxRetries")}")
    val lines = Files.readAllLines(main.resolve("graft/ops/Versioned.scala"))
      .asScala
    // the object member each line belongs to
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val call = """(?<![\w.])commit\(""".r
    var enclosing = ""
    val callers = lines.flatMap { l =>
      member.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
      if (call.findFirstIn(l).isDefined && !l.contains("def commit("))
        Some(enclosing) else None
    }.toSet
    // init, clone and publish target one fixed version: they must fail
    // rather than retry
    assert(callers == Set("occ", "rebase", "init", "clone", "publish"),
      s"commit( called from: $callers")
  }
}
