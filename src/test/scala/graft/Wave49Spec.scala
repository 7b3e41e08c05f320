package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Metadata-only partition drops, vacuum-protected tags, and the
  * checkpointed commit-log follower. */
class Wave49Spec extends SparkSuite {
  import spark.implicits._

  test("dropPartitions: metadata-only, content filtered, DV entries " +
      "on dropped files go too") {
    val dir = tmp("graft_dp")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    Versioned.deleteVectored(spark, dir, col("k") === 1L) // DV on pc=a
    val v1Files = Versioned.files(spark, dir, Some(2L)).toSet
    val r = Versioned.dropPartitions(spark, dir, "pc", Seq("a"))
    assert(r.droppedFiles > 0 && r.keptFiles > 0)
    val v3Files = Versioned.files(spark, dir, Some(r.version)).toSet
    assert(v3Files.subsetOf(v1Files), "drop must not stage data files")
    assert(Versioned.read(spark, dir).select("k").as[Long].collect()
      .toSet == Set(2L))
    // the DV died with its files: reading v3 needs no anti-join rows
    assert(Versioned.deletionVector(spark, dir, Some(r.version)).isEmpty)
  }

  test("dropPartitions: dropping every partition leaves a readable " +
      "empty table; no-hit drop returns -1 and commits nothing") {
    val dir = tmp("graft_dpa")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    val miss = Versioned.dropPartitions(spark, dir, "pc", Seq("zzz"))
    assert(miss.version == -1L)
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    val all = Versioned.dropPartitions(spark, dir, "pc", Seq("a", "b"))
    assert(all.version == 2L)
    val cur = Versioned.read(spark, dir)
    assert(cur.count() == 0L)
    assert(cur.columns.toSet == Set("k", "pc", "p"))
  }

  test("tags protect a version through vacuum; dropTag releases it") {
    val dir = tmp("graft_tg")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.tag(spark, dir, "audit")
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.vacuum(spark, dir, keepLast = 1)
    // v1 survives (tagged); v2 is gone
    assert(Versioned.readTag(spark, dir, "audit").count() == 1L)
    intercept[Exception] { Versioned.read(spark, dir, Some(2L)).count() }
    Versioned.dropTag(spark, dir, "audit")
    Versioned.vacuum(spark, dir, keepLast = 1)
    intercept[Exception] { Versioned.read(spark, dir, Some(1L)).count() }
    assert(Versioned.read(spark, dir).count() == 3L)
  }

  test("followChanges: replay-from-history, crash-resume without gaps " +
      "or re-delivery, seedCurrent consumes only the future") {
    val dir = tmp("graft_fc")
    val cp = tmp("graft_fccp") + "/off"
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k")) // v2
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k")) // v3
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val n1 = Versioned.followChanges(spark, dir, cp, maxVersions = 1) {
      (v, feed) => seen += (v -> feed.df.filter(col("op") === "I").count())
    }
    val n2 = Versioned.followChanges(spark, dir, cp) { (v, feed) =>
      seen += (v -> feed.df.filter(col("op") === "I").count())
    }
    assert(n1 == 1 && n2 == 1)
    assert(seen.toSeq == Seq(2L -> 1L, 3L -> 1L))
    // nothing new: a third call is a no-op
    assert(Versioned.followChanges(spark, dir, cp)((_, _) => fail()) == 0)
    // a fresh consumer seeded at current sees only future commits
    val cp2 = tmp("graft_fccp2") + "/off"
    assert(Versioned.followChanges(spark, dir, cp2, seedCurrent = true)(
      (_, _) => fail()) == 0)
    Versioned.merge(Seq((4L, 4.0)).toDF("k", "p"), dir, Seq("k")) // v4
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    Versioned.followChanges(spark, dir, cp2)((v, _) => got += v)
    assert(got.toSeq == Seq(4L))
  }

  test("followChanges detects a vacuumed GAP even when the tagged " +
      "checkpoint version itself survived") {
    val dir = tmp("graft_fcg")
    val cp = tmp("graft_fcgcp") + "/off"
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.followChanges(spark, dir, cp)((_, _) => ()) // seeds at v1
    Versioned.tag(spark, dir, "keep", Some(1L))
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.vacuum(spark, dir, keepLast = 1) // v1 kept (tag), v2 gone
    val e = intercept[IllegalArgumentException] {
      Versioned.followChanges(spark, dir, cp)((_, _) => ())
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("followChanges fails loudly when the checkpoint was vacuumed past") {
    val dir = tmp("graft_fcv")
    val cp = tmp("graft_fcvcp") + "/off"
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.followChanges(spark, dir, cp)((_, _) => ()) // seeds at v1
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.vacuum(spark, dir, keepLast = 1) // v1, v2 gone
    val e = intercept[IllegalArgumentException] {
      Versioned.followChanges(spark, dir, cp)((_, _) => ())
    }
    assert(e.getMessage.contains("vacuumed"))
  }
}
