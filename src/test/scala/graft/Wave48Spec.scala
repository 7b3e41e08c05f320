package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{Catalog, Versioned}

/** Catalog-pointer multi-table transactions. */
class Wave48Spec extends SparkSuite {
  import spark.implicits._

  private def mkLake(p: String, rows: (Long, Double)*): String = {
    val dir = tmp(p)
    Versioned.init(rows.toSeq.toDF("k", "p"), dir)
    dir
  }

  test("transact publishes both tables with one catalog swap; " +
      "pinned reads see the pre-tx snapshot") {
    val a = mkLake("graft_ca", 1L -> 10.0, 2L -> 20.0)
    val b = mkLake("graft_cb", 9L -> 90.0)
    val root = tmp("graft_croot")
    Catalog.init(spark, root, Map("a" -> a, "b" -> b))
    val v = Catalog.transact(spark, root, { ents =>
      val moved = Versioned.read(spark, ents("a")._1, Some(ents("a")._2))
        .filter(col("k") === 2L)
      Versioned.merge(moved, ents("b")._1, Seq("k"))
      Versioned.delete(spark, ents("a")._1, col("k") === 2L)
    })
    assert(v == 2L)
    assert(Catalog.read(spark, root, "a").as[(Long, Double)].collect()
      .toSet == Set(1L -> 10.0))
    assert(Catalog.read(spark, root, "b").as[(Long, Double)].collect()
      .toSet == Set(9L -> 90.0, 2L -> 20.0))
    // catalog v1 still reads the consistent pre-tx world
    assert(Catalog.read(spark, root, "a", Some(1L)).count() == 2L)
    assert(Catalog.read(spark, root, "b", Some(1L)).count() == 1L)
  }

  test("a failed transaction publishes NOTHING even after partial " +
      "lake commits (catalog readers never see the half-applied state)") {
    val a = mkLake("graft_fa", 1L -> 1.0)
    val b = mkLake("graft_fb", 2L -> 2.0)
    val root = tmp("graft_froot")
    Catalog.init(spark, root, Map("a" -> a, "b" -> b))
    intercept[RuntimeException] {
      Catalog.transact(spark, root, { ents =>
        Versioned.merge(Seq(7L -> 7.0).toDF("k", "p"),
          ents("b")._1, Seq("k")) // lake b moves…
        sys.error("boom")          // …then the tx dies
      })
    }
    assert(Catalog.current(spark, root).contains(1L))
    // the orphan lake commit exists but is invisible through the catalog
    assert(Versioned.currentVersion(spark, b).contains(2L))
    assert(Catalog.read(spark, root, "b").count() == 1L)
    // and the lock was released: a follow-up tx succeeds
    Catalog.transact(spark, root, { ents =>
      Versioned.delete(spark, ents("a")._1, col("k") === 1L)
    })
    assert(Catalog.current(spark, root).contains(2L))
  }

  test("concurrent transactions serialize on the tx lock (no lost update)") {
    val a = mkLake("graft_sa", 0L -> 0.0)
    val root = tmp("graft_sroot")
    Catalog.init(spark, root, Map("a" -> a))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        Catalog.transact(spark, root, { ents =>
          Versioned.merge(Seq(i.toLong -> i.toDouble).toDF("k", "p"),
            ents("a")._1, Seq("k"))
        })
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Catalog.current(spark, root).contains(5L))
    assert(Catalog.read(spark, root, "a").count() == 5L)
  }

  test("transact on an uninitialized catalog fails fast, not after " +
      "the lock wait") {
    val root = tmp("graft_uroot")
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      Catalog.transact(spark, root, _ => ())
    }
    assert(e.getMessage.contains("uninitialized"))
    assert((System.nanoTime() - t0) / 1e9 < 10.0)
  }

  test("a held lock times out with a clear message") {
    val a = mkLake("graft_la", 1L -> 1.0)
    val root = tmp("graft_lroot")
    Catalog.init(spark, root, Map("a" -> a))
    // simulate a crashed writer: create the lock by hand
    Files.createFile(java.nio.file.Paths.get(root, "_catalog", ".tx.lock"))
    val e = intercept[IllegalArgumentException] {
      Catalog.transact(spark, root, _ => (), lockWaitMs = 300L)
    }
    assert(e.getMessage.contains("tx lock"))
  }
}
