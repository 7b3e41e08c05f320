package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned

/** Writable branches with OCC squash publish (wave 68):
  * branch = zero-copy clone + recorded base, publish = ONE reference
  * commit on the source that wins only if the source never moved. */
class LakeBranchSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def table(prefix: String): String = s"${tmp(prefix)}/t"

  private def base() = Tables.load(spark, d, "orders")
    .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))

  test("branch work is invisible to the source; publish folds the " +
      "head back as one metadata commit") {
    val (main, br) = (table("graft_bs1m"), table("graft_bs1b"))
    try {
      Versioned.init(base().repartition(4), main)
      val n0 = Versioned.read(spark, main).count()
      Versioned.branch(spark, main, br)
      Versioned.merge(Versioned.read(spark, br)
        .filter(col("k") % 2 === 0)
        .withColumn("p", col("p") + lit(1.0)), br, Seq("k"))
      Versioned.deleteVectored(spark, br, col("k") % 5 === 0)
      // source untouched
      assert(Versioned.currentVersion(spark, main).contains(1L))
      assert(Versioned.read(spark, main).count() == n0)
      val headFiles = Versioned.files(spark, br).toSet
      val headN = Versioned.read(spark, br).count()
      val v = Versioned.publish(spark, br)
      assert(v == 2L)
      // the published version references the branch head's files
      assert(Versioned.files(spark, main, Some(2L)).toSet == headFiles)
      assert(Versioned.read(spark, main).count() == headN)
      assert(Versioned.history(spark, main).last.operation ==
        "PUBLISH(2 commits)")
      // time travel still sees the pre-publish source
      assert(Versioned.read(spark, main, Some(1L)).count() == n0)
    } finally rm(main, br)
  }

  test("a stale branch (source moved since the cut) is refused with " +
      "zero effect") {
    val (main, b1, b2) = (table("graft_bs2m"), table("graft_bs2a"),
      table("graft_bs2b"))
    try {
      Versioned.init(base().repartition(4), main)
      Versioned.branch(spark, main, b1)
      Versioned.branch(spark, main, b2)
      Versioned.merge(Versioned.read(spark, b1)
        .withColumn("p", col("p") + lit(1.0)), b1, Seq("k"))
      Versioned.merge(Versioned.read(spark, b2)
        .withColumn("p", col("p") + lit(2.0)), b2, Seq("k"))
      assert(Versioned.publish(spark, b1) == 2L)
      val before = Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0)
      intercept[IllegalArgumentException] {
        Versioned.publish(spark, b2)
      }
      assert(Versioned.currentVersion(spark, main).contains(2L))
      assert(Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0) == before)
    } finally rm(main, b1, b2)
  }

  test("the branch workflow runs through pure SQL (CALL lake.branch " +
      "/ lake.publish)") {
    val (main, br) = (table("graft_bs4m"), table("graft_bs4b"))
    try {
      Versioned.init(base().repartition(2), main)
      val cut = spark.sql(
        s"CALL lake.branch('$main', '$br')").head()
      assert(cut.getLong(0) == 1L && cut.getLong(1) == 1L)
      Versioned.merge(Versioned.read(spark, br)
        .withColumn("p", col("p") + lit(3.0)), br, Seq("k"))
      val pub = spark.sql(s"CALL lake.publish('$br')").head()
      assert(pub.getLong(0) == 2L)
      assert(Versioned.history(spark, main).last.operation ==
        "PUBLISH(1 commits)")
    } finally rm(main, br)
  }

  test("racing publishes from sibling branches: exactly one wins, " +
      "the loser has zero effect") {
    val (main, b1, b2) = (table("graft_bs5m"), table("graft_bs5a"),
      table("graft_bs5b"))
    try {
      Versioned.init(base().repartition(4), main)
      Seq(b1, b2).foreach(Versioned.branch(spark, main, _))
      Versioned.merge(Versioned.read(spark, b1)
        .withColumn("p", col("p") + lit(1.0)), b1, Seq("k"))
      Versioned.merge(Versioned.read(spark, b2)
        .withColumn("p", col("p") + lit(2.0)), b2, Seq("k"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val attempts = Seq(b1, b2).map { br =>
        Future {
          gate.await()
          try Right(Versioned.publish(spark, br))
          catch { case e: IllegalArgumentException => Left(e) }
        }
      }
      gate.countDown()
      val results = attempts.map(Await.result(_, 5.minutes))
      assert(results.count(_.isRight) == 1,
        s"exactly one publish must win: $results")
      assert(Versioned.currentVersion(spark, main).contains(2L))
      // the surviving content is exactly ONE sibling's work
      val sums = Seq(b1, b2).map(br => Versioned.read(spark, br)
        .agg(sum(col("p"))).head().getDouble(0))
      val got = Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0)
      assert(sums.contains(got), s"main sum $got not one of $sums")
    } finally rm(main, b1, b2)
  }

  test("a zero-copy published branch refuses dropTable while the " +
      "source reads through it; compact + vacuum on the source " +
      "releases it") {
    val (main, br) = (table("graft_bs6m"), table("graft_bs6b"))
    try {
      Versioned.init(base().repartition(2), main)
      Versioned.branch(spark, main, br)
      Versioned.merge(Versioned.read(spark, br)
        .withColumn("p", col("p") + lit(1.0)), br, Seq("k"))
      Versioned.publish(spark, br)
      // decimal-exact: the compact below reorders the double sum
      def dsum() = Versioned.read(spark, main)
        .agg(sum(col("p").cast("decimal(30,2)")))
        .head().getDecimal(0)
      val expect = dsum()
      // the source reads through the branch directory: refuse
      intercept[IllegalStateException] {
        Versioned.dropTable(spark, br)
      }
      assert(dsum() == expect)
      // table health surfaces the foreign-root dependency
      assert(spark.sql(s"CALL lake.describe('$main')").head()
        .getAs[Long]("n_foreign_files") > 0L)
      // compact localizes the files, vacuum drops the referencing
      // old versions — now the branch owes the source nothing
      Versioned.compact(spark, main, 2)
      Versioned.vacuum(spark, main, keepLast = 1)
      assert(spark.sql(s"CALL lake.describe('$main')").head()
        .getAs[Long]("n_foreign_files") == 0L)
      assert(Versioned.dropTable(spark, br))
      assert(dsum() == expect)
    } finally rm(main, br)
  }

  test("vacuum on a published branch never deletes files the source " +
      "reads through") {
    val (main, br) = (table("graft_bs7m"), table("graft_bs7b"))
    try {
      Versioned.init(base().repartition(2), main)
      Versioned.branch(spark, main, br)
      Versioned.merge(Versioned.read(spark, br)
        .withColumn("p", col("p") + lit(1.0)), br, Seq("k"))
      Versioned.publish(spark, br)
      val expect = Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0)
      // the branch moves on: a full-match merge restages every file,
      // so the published files are no longer referenced by ANY
      // surviving branch version after a keepLast=1 vacuum — only
      // the publish contract keeps them alive
      Versioned.merge(Versioned.read(spark, br)
        .withColumn("p", col("p") + lit(1.0)), br, Seq("k"))
      Versioned.vacuum(spark, br, keepLast = 1)
      assert(Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0) == expect)
    } finally rm(main, br)
  }

  test("publish(localize) copies branch-staged files under the " +
      "source root — the branch directory becomes disposable") {
    val (main, br) = (table("graft_bs8m"), table("graft_bs8b"))
    try {
      Versioned.init(base().repartition(2), main)
      Versioned.branch(spark, main, br)
      Versioned.merge(Versioned.read(spark, br)
        .filter(col("k") % 2 === 0)
        .withColumn("p", col("p") + lit(1.0)), br, Seq("k"))
      Versioned.deleteVectored(spark, br, col("k") % 5 === 0)
      val expectN = Versioned.read(spark, br).count()
      val expectS = Versioned.read(spark, br)
        .agg(sum(col("p"))).head().getDouble(0)
      val v = Versioned.publish(spark, br, localize = true)
      // every published file lives under the SOURCE root
      assert(Versioned.files(spark, main, Some(v))
        .forall(_.contains(main)),
        Versioned.files(spark, main, Some(v)).mkString("\n"))
      // no shallow-publish marker: the branch is disposable — rm it
      assert(Versioned.publishedInfo(spark, br).isEmpty)
      assert(Versioned.dropTable(spark, br))
      assert(Versioned.read(spark, main).count() == expectN)
      assert(Versioned.read(spark, main)
        .agg(sum(col("p"))).head().getDouble(0) == expectS)
    } finally rm(main, br)
  }

  test("`src@name` SQL addressing reads and writes the branch " +
      "through the source path") {
    val main = table("graft_bs9m")
    val br = s"${tmp("graft_bs9b")}/b1"
    try {
      Versioned.init(base().repartition(2), main)
      Versioned.branch(spark, main, br)
      val n0 = Versioned.read(spark, main).count()
      assert(spark.sql(s"SELECT count(*) FROM lake.`$main@b1`")
        .head().getLong(0) == n0)
      spark.sql(s"INSERT INTO lake.`$main@b1` VALUES " +
        "(CAST(900000001 AS BIGINT), CAST(1.5 AS DOUBLE))")
      // the write landed on the BRANCH; the source never moved
      assert(spark.sql(s"SELECT count(*) FROM lake.`$main@b1`")
        .head().getLong(0) == n0 + 1)
      assert(Versioned.currentVersion(spark, main).contains(1L))
      assert(Versioned.read(spark, main).count() == n0)
      // metadata tables compose with the ref
      assert(spark.sql(s"SELECT count(*) FROM lake.`$main@b1$$history`")
        .head().getLong(0) >= 2L)
      // a missing ref falls through to the literal path (and fails
      // loudly as a non-table); a dangling ref fails loudly as stale
      intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM lake.`$main@nope`").collect()
      }
      val p = new org.apache.hadoop.fs.Path(br)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      val e = intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM lake.`$main@b1`").collect()
      }
      assert(e.getMessage.contains("stale branch ref"),
        s"unexpected: ${e.getMessage}")
    } finally rm(main, br)
  }

  test("a branch with no commits refuses publish; a non-branch " +
      "refuses publish") {
    val (main, br) = (table("graft_bs3m"), table("graft_bs3b"))
    try {
      Versioned.init(base().repartition(2), main)
      Versioned.branch(spark, main, br)
      intercept[IllegalArgumentException] {
        Versioned.publish(spark, br)
      }
      intercept[RuntimeException] {
        Versioned.publish(spark, main)
      }
    } finally rm(main, br)
  }
}
