package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Identity columns: allocation, preservation, supplied values,
  * clone-carried high-water, custom start/step, and the no-rebase
  * rule (wave 59). */
class Wave59Spec extends SparkSuite {
  import spark.implicits._

  test("omitted identity: inserts allocate past high-water in key " +
      "order, updates preserve their value") {
    val dir = tmp("graft_id1")
    Versioned.init(Seq((10L, 1L, 1.0), (20L, 2L, 2.0), (30L, 3L, 3.0))
      .toDF("id", "k", "p"), dir)
    Versioned.addIdentityColumn(spark, dir, "id")
    Versioned.merge(Seq((2L, 22.0), (9L, 9.0), (5L, 5.0))
      .toDF("k", "p"), dir, Seq("k"))
    val got = Versioned.read(spark, dir).select("k", "id", "p")
      .as[(Long, Long, Double)].collect().toSet
    // hw = 30; inserts k=5 then k=9 (key order) get 31, 32
    assert(got == Set((1L, 10L, 1.0), (2L, 20L, 22.0), (3L, 30L, 3.0),
      (5L, 31L, 5.0), (9L, 32L, 9.0)))
  }

  test("supplied values are accepted (BY DEFAULT) and advance the " +
      "mark; later allocations never collide") {
    val dir = tmp("graft_id2")
    Versioned.init(Seq((1L, 1L, 1.0)).toDF("id", "k", "p"), dir)
    Versioned.addIdentityColumn(spark, dir, "id")
    Versioned.merge(Seq((500L, 2L, 2.0)).toDF("id", "k", "p"), dir,
      Seq("k"))
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k"))
    val ids = Versioned.read(spark, dir).select("id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 500L, 501L))
  }

  test("start/step: high-water floors at start-step; negative step " +
      "descends") {
    val dir = tmp("graft_id3")
    Versioned.init(Seq((3L, 1L)).toDF("id", "k"), dir)
    Versioned.addIdentityColumn(spark, dir, "id", start = 100L,
      step = 10L)
    Versioned.merge(Seq(2L, 3L).toDF("k"), dir, Seq("k"))
    assert(Versioned.read(spark, dir).select("id").as[Long]
      .collect().toSet == Set(3L, 100L, 110L))
    val dn = tmp("graft_id3n")
    Versioned.init(Seq((-5L, 1L)).toDF("id", "k"), dn)
    Versioned.addIdentityColumn(spark, dn, "id", start = -10L,
      step = -10L)
    Versioned.merge(Seq(2L).toDF("k"), dn, Seq("k"))
    // hw = min(existing -5, start - step = 0) = -5 → next -15
    assert(Versioned.read(spark, dn).select("id").as[Long]
      .collect().toSet == Set(-5L, -15L))
  }

  test("the high-water travels with clones: allocations on the clone " +
      "never collide with inherited values") {
    val dir = tmp("graft_id4")
    Versioned.init(Seq((7L, 1L)).toDF("id", "k"), dir)
    Versioned.addIdentityColumn(spark, dir, "id")
    val dst = tmp("graft_id4c") + "/t"
    Versioned.clone(spark, dir, dst)
    Versioned.merge(Seq(2L).toDF("k"), dst, Seq("k"))
    assert(Versioned.read(spark, dst).select("id").as[Long]
      .collect().toSet == Set(7L, 8L))
  }

  test("identity-bearing merges never take the rebase fast path") {
    val dir = tmp("graft_id5")
    Versioned.init(Seq((1L, 1L, "a"), (2L, 2L, "b"))
      .toDF("id", "k", "pc"), dir, partitionCol = Some("pc"))
    Versioned.addIdentityColumn(spark, dir, "id")
    Versioned.merge(Seq((3L, "a")).toDF("k", "pc"), dir, Seq("k")) // v2
    // stale disjoint writer WOULD rebase, but identity forbids it
    Versioned.merge(Seq((4L, "b")).toDF("k", "pc"), dir, Seq("k"),
      baseVersion = Some(1L))                                     // v3
    assert(!Versioned.history(spark, dir).map(_.operation)
      .exists(_.endsWith("+REBASE")))
    // and the retried allocation continued from the WINNER's mark
    assert(Versioned.read(spark, dir).select("k", "id")
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("vacuum never deletes the NEWEST identity mark: an older " +
      "tag-pinned idhw cannot license dropping it") {
    val dir = tmp("graft_id7")
    Versioned.init(Seq((10L, 1L)).toDF("id", "k"), dir)
    Versioned.addIdentityColumn(spark, dir, "id") // v1.idhw (hw=10)
    Versioned.tag(spark, dir, "pin")              // pins v1
    Versioned.merge(Seq(2L).toDF("k"), dir, Seq("k")) // v2.idhw (hw=11)
    Versioned.merge(Seq((11L, 2L), (12L, 3L)).toDF("id", "k"), dir,
      Seq("k")) // v3: supplied ids, v3.idhw hw=12
    Versioned.compact(spark, dir, targetFiles = 1) // v4, NO idhw
    Versioned.vacuum(spark, dir, keepLast = 1) // keep v1(tag) + v4
    // v3's mark (hw=12) had no NEWER kept idhw — it must survive
    Versioned.merge(Seq(4L).toDF("k"), dir, Seq("k"))
    val ids = Versioned.read(spark, dir).select("id").as[Long]
      .collect().toSet
    assert(ids == Set(10L, 11L, 12L, 13L),
      s"allocation must continue past the vacuum-surviving mark: $ids")
  }

  test("vacuumOlderThan drops by commit age, keeps the tip and " +
      "tagged versions") {
    val dir = tmp("graft_vot")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.tag(spark, dir, "pin")                          // pins v1
    Versioned.merge(Seq((2L, 2.0)).toDF("k", "p"), dir, Seq("k")) // v2
    Thread.sleep(30)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(30)
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k")) // v3
    Versioned.vacuumOlderThan(spark, dir, cutoff)
    // v2 (older than cutoff, untagged) is gone; v1 (tagged) and the
    // tip v3 survive
    intercept[Exception] { Versioned.read(spark, dir, Some(2L)).count() }
    assert(Versioned.readTag(spark, dir, "pin").count() == 1L)
    assert(Versioned.read(spark, dir).count() == 3L)
  }

  test("declaration guards: non-bigint and double-declare are refused") {
    val dir = tmp("graft_id6")
    Versioned.init(Seq((1L, "x")).toDF("id", "s"), dir)
    intercept[IllegalArgumentException] {
      Versioned.addIdentityColumn(spark, dir, "s")
    }
    Versioned.addIdentityColumn(spark, dir, "id")
    intercept[IllegalArgumentException] {
      Versioned.addIdentityColumn(spark, dir, "id")
    }
    Versioned.dropIdentityColumn(spark, dir, "id")
    assert(Versioned.identityColumns(spark, dir).isEmpty)
  }
}
