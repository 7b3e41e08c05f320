package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.sources.LakeSource

/** Lake metadata stays off the job path: a version's deletion vector
  * is immutable driver metadata (direct parquet codec, cached per
  * (path, version)), so planning a lake scan and committing a vectored
  * delete start no Spark job beyond the delete's own scan; vectors the
  * engine wrote as several part files still read, and DROP / VACUUM
  * leave no stale cached vector. */
class LakeMetadataSpec extends SparkSuite {
  import spark.implicits._

  private def hfs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def copyTable(src: String, dst: String): Unit =
    require(FileUtil.copy(hfs, new Path(src), hfs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration))

  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val (r, jobs) = Jobs.during(spark.sparkContext)(body)
    (r, jobs.sites)
  }

  /** 200 rows over 4 range-clustered files with `k` stats. */
  private def initTable(dir: String): Unit =
    Versioned.init(spark.range(0, 200).selectExpr("id AS k", "id * 3 AS n")
      .repartitionByRange(4, col("k")), dir, statsCols = Seq("k"))

  private def kn(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("k", "n").as[(Long, Long)].collect().toSet

  test("planning a pruned SQL read of a table with a deletion vector " +
      "starts no Spark job") {
    val dir = tmp()
    try {
      initTable(dir)
      Versioned.deleteVectored(spark, dir, col("k") % 7 === 3)
      val q = spark.sql(s"SELECT k, n FROM lake.`$dir` WHERE k BETWEEN 20 AND 60")
      val (_, jobs) = jobsDuring {
        q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
          .foreach(_.inputPartitions)
      }
      assert(jobs.isEmpty, s"planning started Spark jobs: $jobs")
      val (planned, total) = LakeSource.lastPlanned.get
      assert(planned < total, s"stats pruning kept $planned of $total files")
      val expected = (20L to 60L).filter(_ % 7 != 3).map(k => (k, k * 3)).toSet
      assert(kn(q) == expected)
    } finally rm(dir)
  }

  test("Versioned reads plan through the connector: a BatchScanExec, " +
      "no file-source scan, and no Spark job while planning") {
    val dir = tmp()
    try {
      initTable(dir)
      Versioned.deleteVectored(spark, dir, col("k") % 7 === 3)
      val frames = Seq(
        "read" -> Versioned.read(spark, dir),
        "read v1" -> Versioned.read(spark, dir, Some(1L)),
        "readRange" -> Versioned.readRange(spark, dir, "k", 20, 60).df)
      val aqe = new AdaptiveSparkPlanHelper {}
      frames.foreach { case (what, df) =>
        val (plan, jobs) = jobsDuring {
          val p = df.queryExecution.executedPlan
          aqe.collect(p) { case b: BatchScanExec => b }.foreach(_.inputPartitions)
          p
        }
        assert(jobs.isEmpty, s"$what: planning started Spark jobs: $jobs")
        df.collect()
        val executed = df.queryExecution.executedPlan
        assert(aqe.collect(executed) { case b: BatchScanExec => b }.nonEmpty,
          s"$what: no BatchScanExec in $executed")
        assert(aqe.collect(executed) { case f: FileSourceScanExec => f }.isEmpty,
          s"$what: file-source scan in $executed")
      }
      val live = (0L until 200L).filter(_ % 7 != 3).map(k => (k, k * 3)).toSet
      assert(kn(frames(0)._2) == live)
      assert(kn(frames(1)._2) == (0L until 200L).map(k => (k, k * 3)).toSet)
      assert(live.filter { case (k, _) => k >= 20 && k <= 60 }
        .subsetOf(kn(frames(2)._2)))
    } finally rm(dir)
  }

  test("a version without a logged schema reads through its files' " +
      "footer schema on both surfaces") {
    val dir = tmp(); val copy = tmp()
    try {
      Versioned.init(spark.range(0, 40).selectExpr("id AS k", "id * 3 AS n",
        "CAST(id % 2 AS STRING) AS g"), dir, partitionCol = Some("g"))
      rm(copy)
      copyTable(dir, copy)
      rm(s"$copy/_versions/v1.schema")
      assert(Versioned.tableSchema(spark, copy).isEmpty)
      val all = (0L until 40L).map(k => (k, k * 3)).toSet
      assert(kn(Versioned.read(spark, copy)) == all)
      assert(kn(spark.sql(s"SELECT k, n FROM lake.`$copy`")) == all)
      assert(Versioned.read(spark, copy).filter(col("g") === "1")
        .select("k").as[Long].collect().toSet == (1L until 40L by 2).toSet)
    } finally rm(dir, copy)
  }

  test("a vectored delete runs one scan job and writes its vector " +
      "without a Spark job") {
    val dir = tmp()
    try {
      initTable(dir)
      Versioned.deleteVectored(spark, dir, col("k") % 7 === 3)
      val (e, jobs) = jobsDuring(
        Versioned.deleteVectored(spark, dir, col("k") % 5 === 1))
      assert(jobs.size == 1, s"expected one scan job, got $jobs")
      assert(!jobs.exists(_.startsWith("parquet")), s"vector write job: $jobs")
      val gone = (0L until 200L).filter(k => k % 5 == 1 && k % 7 != 3)
      assert(e.deletedRows == gone.size.toLong)
      val live = (0L until 200L).filter(k => k % 7 != 3 && k % 5 != 1)
        .map(k => (k, k * 3)).toSet
      assert(kn(Versioned.read(spark, dir)) == live)
      assert(kn(spark.sql(s"SELECT * FROM lake.`$dir`")) == live)
      assert(Versioned.deletionVectorRows(spark, dir).map(Versioned.dvRowCount)
        .contains(200L - live.size))
    } finally rm(dir)
  }

  test("a vector written as several engine part files reads the same " +
      "rows from a cold cache") {
    val dir = tmp(); val copy = tmp()
    try {
      initTable(dir)
      Versioned.deleteVectored(spark, dir, col("k") % 3 === 0)
      val v = Versioned.currentVersion(spark, dir).get
      val rows = Versioned.deletionVector(spark, dir).get
        .select("f", "pos").as[(String, Long)].collect().toSet
      rm(copy)
      copyTable(dir, copy)
      // the layout the engine used to write: a coalesced multi-part dir
      val dvDir = s"$copy/_versions/v$v.dv"
      rm(dvDir)
      Versioned.deletionVector(spark, dir).get.repartition(3)
        .write.parquet(dvDir)
      assert(hfs.listStatus(new Path(dvDir))
        .count(_.getPath.getName.endsWith(".parquet")) > 1)
      val cold = Versioned.deletionVector(spark, copy).get
        .select("f", "pos").as[(String, Long)].collect().toSet
      assert(cold == rows)
      val live = (0L until 200L).filter(_ % 3 != 0).map(k => (k, k * 3)).toSet
      assert(kn(Versioned.read(spark, copy)) == live)
      assert(kn(spark.sql(s"SELECT * FROM lake.`$copy`")) == live)
    } finally rm(dir, copy)
  }

  test("DROP + CREATE at the same path and VACUUM leave no stale " +
      "cached vector") {
    val dir = tmp(); val other = tmp()
    try {
      initTable(dir)
      Versioned.deleteVectored(spark, dir, col("k") < 10)
      assert(Versioned.deletionVectorRows(spark, dir, Some(2L)).nonEmpty)
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").count() == 190L)
      // a table committed elsewhere, copied in after the DROP: its v2
      // has no vector
      Versioned.init(Seq((1L, 1L)).toDF("k", "n"), other)
      Versioned.append(Seq((2L, 2L)).toDF("k", "n"), other)
      assert(Versioned.dropTable(spark, dir))
      copyTable(other, dir)
      assert(Versioned.deletionVectorRows(spark, dir, Some(2L)).isEmpty,
        "DROP must clear the dropped table's cached vectors")
      assert(kn(Versioned.read(spark, dir)) == Set((1L, 1L), (2L, 2L)))
      assert(kn(spark.sql(s"SELECT * FROM lake.`$dir`")) ==
        Set((1L, 1L), (2L, 2L)))
      // VACUUM drops v3's vector with v3; the compacted tip has none
      Versioned.deleteVectored(spark, dir, col("k") === 1L)
      assert(Versioned.deletionVectorRows(spark, dir, Some(3L)).nonEmpty)
      Versioned.compact(spark, dir, 1)
      Versioned.vacuum(spark, dir, keepLast = 1)
      assert(Versioned.deletionVectorRows(spark, dir, Some(3L)).isEmpty,
        "VACUUM must clear the dropped versions' cached vectors")
      assert(Versioned.deletionVectorRows(spark, dir).isEmpty)
      assert(kn(Versioned.read(spark, dir)) == Set((2L, 2L)))
    } finally rm(dir, other)
  }
}
