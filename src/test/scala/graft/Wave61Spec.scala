package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Versioned.append — the insert-only commit (wave 61). */
class Wave61Spec extends SparkSuite {
  import spark.implicits._

  test("append carries every prior file by reference and the DV rides " +
      "unchanged") {
    val dir = tmp("graft_ap1")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("k", "p"), dir)
    Versioned.deleteVectored(spark, dir, col("k") === 2L)        // v2
    val v2Files = Versioned.files(spark, dir).toSet
    Versioned.append(Seq((4L, 4.0)).toDF("k", "p"), dir)         // v3
    val v3Files = Versioned.files(spark, dir).toSet
    assert(v2Files.subsetOf(v3Files), "append must not rewrite")
    assert(v3Files.size > v2Files.size)
    assert(Versioned.read(spark, dir).select("k").as[Long]
      .collect().toSet == Set(1L, 3L, 4L), "DV must survive the append")
    assert(Versioned.history(spark, dir).last.operation == "APPEND")
  }

  test("concurrent appends both commit: the loser re-points its " +
      "staged batch at the winner, zero lost rows") {
    val dir = tmp("graft_ap2")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k")) // v2
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fa = Future(Versioned.append(Seq((3L, 3.0)).toDF("k", "p"), dir))
    val fb = Future(Versioned.append(Seq((4L, 4.0)).toDF("k", "p"), dir))
    val vs = Set(Await.result(fa, 120.seconds),
      Await.result(fb, 120.seconds))
    pool.shutdown()
    assert(vs == Set(3L, 4L), s"expected dense versions, got $vs")
    assert(Versioned.read(spark, dir).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L), "no lost appends")
  }

  test("append enforces constraints and computes generated columns") {
    val dir = tmp("graft_ap3")
    Versioned.init(Seq((1L, 10.0, 1000L)).toDF("k", "p", "cents"), dir)
    Versioned.addGeneratedColumn(spark, dir, "cents",
      "cast(floor(p * 100.0 + 0.5) as bigint)")
    Versioned.addConstraint(spark, dir, "p_pos", "p >= 0")
    Versioned.append(Seq((2L, 2.5)).toDF("k", "p"), dir)
    assert(Versioned.read(spark, dir).filter(col("k") === 2L)
      .select("cents").as[Long].head() == 250L)
    intercept[Exception] {
      Versioned.append(Seq((3L, -1.0)).toDF("k", "p"), dir)
    }
    assert(Versioned.read(spark, dir).count() == 2L)
  }

  test("append allocates identity values; schema evolution appends " +
      "columns additively") {
    val dir = tmp("graft_ap4")
    Versioned.init(Seq((1L, 5L)).toDF("id", "k"), dir)
    Versioned.addIdentityColumn(spark, dir, "id")
    Versioned.append(Seq(7L, 6L).toDF("k"), dir)
    // allocation ranked over the full row: k=6 -> 2, k=7 -> 3
    assert(Versioned.read(spark, dir).select("k", "id")
      .as[(Long, Long)].collect().toSet ==
      Set((5L, 1L), (6L, 2L), (7L, 3L)))
    val dir2 = tmp("graft_ap5")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir2)
    Versioned.append(Seq((2L, 2.0, "x")).toDF("k", "p", "tag"), dir2,
      evolveSchema = true)
    val cur = Versioned.read(spark, dir2)
    assert(cur.columns.contains("tag"))
    assert(cur.filter(col("k") === 1L).select("tag").as[String]
      .collect().toSeq == Seq(null))
  }
}
