package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Optimistic concurrency: the merge rebase fast path and its
  * conflict detection (wave 56). */
class Wave56Spec extends SparkSuite {
  import spark.implicits._

  private def base(dir: String): Unit =
    Versioned.init(Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))

  private def ops(dir: String): Seq[String] =
    Versioned.history(spark, dir).map(_.operation)

  test("stale disjoint-partition writer rebases: staged files reused, " +
      "no restage, history records MERGE+REBASE") {
    val dir = tmp("graft_occ1")
    base(dir)
    Versioned.merge(Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))                                                  // v2
    // computed against v1, lands after v2, touches only pc=b
    val v = Versioned.merge(Seq((3L, "b", 33.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L))
    assert(v == 3L)
    assert(ops(dir) == Seq("INIT", "MERGE", "MERGE+REBASE"))
    // the staged batch kept its lost-version prefix: nothing restaged
    assert(Versioned.files(spark, dir, Some(3L))
      .exists(f => f.contains("/gbatch=2-") && f.contains("/pc=b/")))
    assert(Versioned.read(spark, dir).select("k", "p").as[(Long, Double)]
      .collect().toSet ==
      Set((1L, 11.0), (2L, 20.0), (3L, 33.0), (4L, 40.0)))
  }

  test("overlapping-partition writer does NOT rebase: full re-merge " +
      "against the winner preserves the winner's update") {
    val dir = tmp("graft_occ2")
    base(dir)
    Versioned.merge(Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))                                                  // v2
    val v = Versioned.merge(Seq((2L, "a", 22.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L))
    assert(v == 3L)
    assert(ops(dir) == Seq("INIT", "MERGE", "MERGE"))
    assert(Versioned.read(spark, dir).select("k", "p").as[(Long, Double)]
      .collect().toSet ==
      Set((1L, 11.0), (2L, 22.0), (3L, 30.0), (4L, 40.0)))
  }

  test("a DV-only concurrent DELETE in the writer's partition blocks " +
      "the rebase even though the manifest is unchanged") {
    val dir = tmp("graft_occ3")
    base(dir)
    Versioned.deleteVectored(spark, dir, col("k") === 1L)        // v2, pc=a
    val v = Versioned.merge(Seq((2L, "a", 22.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L))
    assert(v == 3L)
    assert(!ops(dir).exists(_.endsWith("+REBASE")))
    // the concurrent delete survives the stale writer's re-merge
    assert(Versioned.read(spark, dir).select("k", "p").as[(Long, Double)]
      .collect().toSet == Set((2L, 22.0), (3L, 30.0), (4L, 40.0)))
  }

  test("a DV-only concurrent DELETE in a DIFFERENT partition still " +
      "rebases, and the vector rides the rebased commit") {
    val dir = tmp("graft_occ4")
    base(dir)
    Versioned.deleteVectored(spark, dir, col("k") === 1L)        // v2, pc=a
    val v = Versioned.merge(Seq((3L, "b", 33.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L))
    assert(v == 3L)
    assert(ops(dir).last == "MERGE+REBASE")
    assert(Versioned.read(spark, dir).select("k", "p").as[(Long, Double)]
      .collect().toSet == Set((2L, 20.0), (3L, 33.0), (4L, 40.0)))
  }

  test("a concurrent schema evolution blocks the rebase (the stale " +
      "writer's staged schema would drop the new column)") {
    val dir = tmp("graft_occ5")
    base(dir)
    Versioned.merge(Seq((1L, "a", 11.0, "x")).toDF("k", "pc", "p", "tag"),
      dir, Seq("k"), evolveSchema = true) // v2
    val v = Versioned.merge(Seq((3L, "b", 33.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L),
      evolveSchema = true)
    assert(v == 3L)
    assert(!ops(dir).exists(_.endsWith("+REBASE")))
    val cur = Versioned.read(spark, dir)
    assert(cur.columns.contains("tag"))
    assert(cur.filter(col("k") === 1L).select("tag").as[String]
      .collect().toSeq == Seq("x"))
    assert(cur.filter(col("k") === 3L).select("p").as[Double]
      .collect().toSeq == Seq(33.0))
  }

  test("two genuinely concurrent disjoint writers both commit; the " +
      "loser rebases; zero lost rows") {
    val dir = tmp("graft_occ6")
    base(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fa = Future(Versioned.merge(
      Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir, Seq("k"),
      baseVersion = Some(1L)))
    val fb = Future(Versioned.merge(
      Seq((3L, "b", 33.0)).toDF("k", "pc", "p"), dir, Seq("k"),
      baseVersion = Some(1L)))
    val vs = Set(Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds))
    pool.shutdown()
    assert(vs == Set(2L, 3L), s"expected dense versions, got $vs")
    // exactly one writer lost the race; pinned snapshots make the
    // loser's footprint check run — disjoint, so it must have rebased
    assert(ops(dir).count(_ == "MERGE+REBASE") == 1)
    assert(Versioned.read(spark, dir).select("k", "p").as[(Long, Double)]
      .collect().toSet ==
      Set((1L, 11.0), (2L, 20.0), (3L, 33.0), (4L, 40.0)))
  }
}
