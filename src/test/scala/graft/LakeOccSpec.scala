package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.Versioned

/** The lake's one optimistic-commit loop: a writer that loses a commit
  * race waits for the winner's version to publish and retries with no
  * retry count; a version that never publishes (a stale lock) fails
  * the writer with one message and leaves no staging directory behind;
  * and the merge rebase decides disjointness on driver metadata alone. */
class LakeOccSpec extends SparkSuite {
  import spark.implicits._

  private def hfs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ops(dir: String): Seq[String] =
    Versioned.history(spark, dir).map(_.operation)

  /** The `gbatch=` directories under the table's data root. */
  private def batchDirs(dir: String): Set[String] =
    hfs.listStatus(new Path(dir, "data")).map(_.getPath.getName)
      .filter(_.startsWith("gbatch=")).toSet

  /** The `gbatch=` directories some committed version references. */
  private def referencedDirs(dir: String): Set[String] =
    (1L to Versioned.currentVersion(spark, dir).get)
      .flatMap(v => Versioned.files(spark, dir, Some(v)))
      .flatMap(_.split("/").find(_.startsWith("gbatch="))).toSet

  private def seed(dir: String): Unit =
    Versioned.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1), dir)

  private val writers: Seq[(String, String => Any)] = Seq(
    "merge" -> (d => Versioned.merge(Seq((1L, "A")).toDF("k", "v"), d, Seq("k"))),
    "append" -> (d => Versioned.append(Seq((9L, "z")).toDF("k", "v"), d)),
    "deleteVectored" -> (d => Versioned.deleteVectored(spark, d, col("k") === 2L)),
    "compact" -> (d => Versioned.compact(spark, d, 1)),
    "addColumn" -> (d => Versioned.addColumn(spark, d, "extra", LongType)),
    "restore" -> (d => Versioned.restore(spark, d, 1L)))

  writers.foreach { case (name, write) =>
    test(s"$name fails once, with the lost-race message, when the " +
        "version it lost never publishes") {
      Scratch.withDir("graft_occ_stale") { dir =>
        seed(dir)
        // a writer that died between its lock and its publish
        hfs.create(new Path(dir, "_versions/.v2.lock"), false).close()
        val t0 = System.nanoTime()
        val e = intercept[RuntimeException](write(dir))
        val secs = (System.nanoTime() - t0) / 1e9
        assert(e.getMessage.contains("lost the commit race for v2") &&
          e.getMessage.contains("never published"), e.getMessage)
        // it waited out the publish grace once, not a retry budget
        assert(secs >= 4.5 && secs < 30.0, s"failed after $secs s")
        assert(Versioned.currentVersion(spark, dir).contains(1L))
        assert(batchDirs(dir) == referencedDirs(dir),
          s"staging directories left behind: " +
            s"${batchDirs(dir) -- referencedDirs(dir)}")
      }
    }
  }

  test("a metadata-only loser waits for a slow winner to publish, then " +
      "commits on top of it") {
    Scratch.withDir("graft_occ_slow") { root =>
      val (dir, twin) = (s"$root/t", s"$root/twin")
      seed(dir)
      val conf = spark.sparkContext.hadoopConfiguration
      require(FileUtil.copy(hfs, new Path(dir), hfs, new Path(twin), false, conf))
      // the winner's v2, prepared on a byte copy: it holds the lock
      // now and publishes a second later
      Versioned.addColumn(spark, twin, "w", LongType)
      hfs.create(new Path(dir, "_versions/.v2.lock"), false).close()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val loser = Future(Versioned.addColumn(spark, dir, "x", LongType))
        Thread.sleep(1000)
        Seq("v2.schema", "v2.op").foreach(n => require(FileUtil.copy(hfs,
          new Path(twin, s"_versions/$n"), hfs, new Path(dir, s"_versions/$n"),
          false, conf)))
        val staging = new Path(dir, "_versions/.v2.manifest.tmp")
        require(FileUtil.copy(hfs, new Path(twin, "_versions/v2.manifest"),
          hfs, staging, false, conf))
        require(hfs.rename(staging, new Path(dir, "_versions/v2.manifest")))
        assert(Await.result(loser, 60.seconds) == 3L)
      } finally pool.shutdown()
      assert(ops(dir) == Seq("INIT", "ADD_COLUMN(w)", "ADD_COLUMN(x)"))
      assert(Versioned.read(spark, dir).columns.toSeq == Seq("k", "v", "w", "x"))
    }
  }

  test("a disjoint-partition rebase starts no Spark job for its " +
      "conflict check") {
    Scratch.withDir("graft_occ_rebase") { root =>
      def history(dir: String): Unit = {
        Versioned.init(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
          (4L, "b", 40.0)).toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
        Versioned.merge(Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir,
          Seq("k"))
      }
      val (raced, calm) = (s"$root/raced", s"$root/calm")
      history(raced)
      history(calm)
      def mergeB(dir: String, base: Option[Long]): Long =
        Versioned.merge(Seq((3L, "b", 33.0)).toDF("k", "pc", "p"), dir,
          Seq("k"), baseVersion = base)
      val sc = spark.sparkContext
      val (_, Jobs.Counts(calmJobs, _, _)) = Jobs.during(sc)(mergeB(calm, None))
      // computed against v1, lands after v2: loses, then rebases
      val (v, Jobs.Counts(racedJobs, _, _)) = Jobs.during(sc)(mergeB(raced, Some(1L)))
      assert(v == 3L && ops(raced).last == "MERGE+REBASE")
      assert(racedJobs.sorted == calmJobs.sorted,
        s"the rebase started jobs: raced $racedJobs, uncontended $calmJobs")
      assert(Versioned.read(spark, raced).select("k", "p").as[(Long, Double)]
        .collect().toSet == Set((1L, 11.0), (2L, 20.0), (3L, 33.0), (4L, 40.0)))
    }
  }
}
