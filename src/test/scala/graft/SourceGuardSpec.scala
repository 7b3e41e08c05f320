package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session builder, one scratch owner and one parquet codec:
  * `src/main` may build a `SparkSession` only in Session.scala, create
  * temp directories only in Scratch.scala, the lake connector
  * encodes data files only through Spark's own parquet format,
  * deletion vectors are read only through the driver-rows accessor,
  * only `VersionedLog` knows the lake's on-disk log and only
  * `FileStats` its per-file stats document, the lake reads
  * data files only through the connector's scan,
  * lake commits retry only through one optimistic-commit loop, only
  * the layout-setting operations take a partition column, the
  * report path (returns, pipeline, jobs) caches no frame, only six
  * objects are mains, one helper listens to Spark's jobs, one helper
  * sets and restores session confs, and one module holds the Morton
  * curve. */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val ops = main.resolve("graft/ops")

  /** Files under `root` containing `needle`, relative to `root`. */
  private def holders(needle: String, root: Path = main): Seq[String] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toSeq.sorted
    finally files.close()
  }

  /** A scaladoc or comment line. */
  private val comment = """^\s*(\*|/\*|//)""".r

  /** Files under `src/main` whose CODE lines contain `needle`:
    * scaladoc and comment lines are skipped. */
  private def codeHolders(needle: String): Seq[String] =
    holders(needle).filter(f => Files.readAllLines(main.resolve(f)).asScala
      .exists(l => comment.findFirstIn(l).isEmpty && l.contains(needle)))

  /** The lake's files: the log and the operation families mixed into
    * `Versioned`. */
  private val lakeFiles: Seq[Path] = {
    val files = Files.list(ops)
    try files.iterator().asScala
      .filter(_.getFileName.toString.matches("Versioned.*\\.scala"))
      .toSeq.sortBy(_.toString)
    finally files.close()
  }

  test("SparkSession.builder appears only in Session.scala") {
    assert(holders("SparkSession.builder") == Seq("graft/Session.scala"))
  }

  test("createTempDirectory appears only in Scratch.scala") {
    assert(holders("createTempDirectory") == Seq("graft/Scratch.scala"))
    // specs take their directories from Scratch too (this file names
    // the call only in its test title)
    assert(holders("createTempDirectory", Paths.get("src/test/scala")) ==
      Seq("graft/SourceGuardSpec.scala"))
  }

  test("the lake connector has no hand-rolled parquet codec") {
    // exempt: VersionedLog.scala's driver-only metadata codec for
    // manifests, segments and deletion vectors (foreachParquetRecord /
    // writeParquetDirect), which keeps a commit and scan planning from
    // paying a Spark job; data files go through ParquetFileFormat
    val sources = holders("org.apache.parquet.example")
      .filter(_.startsWith("graft/sources/"))
    assert(sources.isEmpty, s"parquet-mr example codec in: $sources")
    assert(holders("org.apache.parquet.example") ==
      Seq("graft/ops/VersionedLog.scala"))
  }

  test("one log module: only VersionedLog.scala names the log layout or " +
      "opens a log file") {
    for (needle <- Seq("\"_versions\"", ".manifest\""))
      assert(holders(needle) == Seq("graft/ops/VersionedLog.scala"),
        s"$needle named in: ${holders(needle)}")
    // the operation families read and write the log only through its
    // API: no text codec, file create, listing or rename of their own
    val io = Seq("fromInputStream", "readAllBytes", "getBytes(",
      "listStatus", ".rename(", "new Path(path, ")
    val families = lakeFiles
      .filterNot(_.getFileName.toString == "VersionedLog.scala")
    assert(families.nonEmpty)
    for (f <- families; needle <- io)
      assert(!Files.readString(f).contains(needle),
        s"${f.getFileName} does its own log I/O: $needle")
  }

  test("one stats codec: only FileStats.scala spells the per-file stats " +
      "document's keys, and no stats JSON is probed elsewhere") {
    for (needle <- Seq("\"mnl\"", "\"#rows\"", "\"#bytes\"", "\"#hll:",
        "\"#nulls:", "\"#bloom:"))
      assert(holders(needle) == Seq("graft/ops/FileStats.scala"),
        s"$needle spelled in: ${holders(needle)}")
  }

  test("one stats format: no file outside the lake keeps a _stats.json") {
    assert(holders("_stats.json").isEmpty,
      s"_stats.json spelled in: ${holders("_stats.json")}")
  }

  test("one Morton curve: zValue2 is defined only in ZOrder.scala") {
    assert(holders("def zValue2") == Seq("graft/ops/ZOrder.scala"))
    assert(holders("def Z_VALUE2") == Seq("graft/ops/ZOrder.scala"))
  }

  test("one scoped-conf helper: session confs are set and unset only in " +
      "Session.scala") {
    // LakeCatalog's scaladoc shows the catalog registration a user
    // writes; comment lines are not code
    for (needle <- Seq("conf.set(", "conf.unset("))
      assert(codeHolders(needle) == Seq("graft/Session.scala"),
        s"$needle called in: ${codeHolders(needle)}")
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
    assert(lakeFiles.size >= 2, s"lake files: $lakeFiles")
    for (f <- lakeFiles) {
      val src = Files.readString(f)
      assert(!src.contains("spark.read"),
        s"${f.getFileName} must read data files through the connector's scan")
      assert(!src.contains("_metadata"),
        "row identity comes from the connector's row-id columns")
    }
  }

  test("the report path caches nothing: no .cache() or .persist( in " +
      "Returns, MarketPipeline or jobs/") {
    val report = Seq("graft/ops/Returns.scala", "graft/ops/MarketPipeline.scala")
    val caching = (holders(".cache()") ++ holders(".persist("))
      .filter(f => report.contains(f) || f.startsWith("graft/jobs/")).distinct
    assert(caching.isEmpty, s"report-path files that cache: $caching")
  }

  test("def main( appears only in Bench, Verify, Smoke, MarketJob, Probe " +
      "and ScaleUp") {
    assert(holders("def main(") == Seq("graft/Bench.scala", "graft/Smoke.scala",
      "graft/Verify.scala", "graft/jobs/MarketJob.scala",
      "graft/tools/Probe.scala", "graft/tools/ScaleUp.scala"))
  }

  test("one job listener: SparkListener is subclassed only in Jobs.scala, " +
      "and no per-call scratch generation is left") {
    // this file names both only in its assertions
    val src = Paths.get("src")
    val self = "test/scala/graft/SourceGuardSpec.scala"
    val listeners = Seq("new SparkListener", "extends SparkListener")
      .flatMap(holders(_, src)).distinct.sorted
    assert(listeners == Seq("main/scala/graft/Jobs.scala", self),
      s"SparkListener subclasses in: $listeners")
    assert(holders("Scratch.generation", src) == Seq(self))
  }

  test("one commit loop: no retry count, and commit( is called only by " +
      "the OCC and rebase helpers and the single-shot commits") {
    assert(holders("maxRetries").isEmpty,
      s"retry-count parameters in: ${holders("maxRetries")}")
    // the member each line belongs to, over every file of the lake
    val member = """^  (?:(?:private|protected)(?:\[\w+\])? )?def (\w+)""".r
    val call = """(?<![\w.])commit\(""".r
    val callers = lakeFiles.flatMap { f =>
      var enclosing = ""
      Files.readAllLines(f).asScala.flatMap { l =>
        member.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
        if (call.findFirstIn(l).isDefined && !l.contains("def commit("))
          Some(enclosing) else None
      }
    }.toSet
    // init, clone and publish target one fixed version: they must fail
    // rather than retry
    assert(callers == Set("occ", "rebase", "init", "clone", "publish"),
      s"commit( called from: $callers")
  }

  test("one partition layout: in ops/, partitionCol appears only on the " +
      "layout-setting operations and the partition-naming ones") {
    // the member each code line belongs to; scaladoc and comment lines
    // are skipped
    val member = """^  (?:(?:private|protected)(?:\[\w+\])? )?def (\w+)""".r
    val files = Files.list(ops)
    val takers = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        var enclosing = ""
        Files.readAllLines(f).asScala.flatMap { l =>
          member.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
          if (comment.findFirstIn(l).isEmpty && l.contains("partitionCol"))
            Some(enclosing) else None
        }
      }.toSet
    finally files.close()
    assert(takers.contains("init") && takers.contains("compact"))
    assert(takers.subsetOf(Set("init", "create", "compact",
        "compactPartitions", "dropPartitions")),
      s"partitionCol taken or used by: ${takers.toSeq.sorted}")
  }
}
