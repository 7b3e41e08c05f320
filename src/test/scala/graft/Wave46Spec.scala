package graft

import org.apache.spark.sql.functions._
import graft.ops.{Versioned, ZOrder}

/** Multi-clause MERGE INTO semantics and the Z-order compact layout. */
class Wave46Spec extends SparkSuite {
  import spark.implicits._

  test("mergeInto: delete, additive update, gated insert, untouched rows") {
    val dir = tmp("graft_mi")
    Versioned.init(Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "st", "p"), dir)
    val src = Seq(
      (1L, "x", 5.0, "U"),   // matched + update clause: p := 10 + 5
      (2L, "x", 0.0, "D"),   // matched + delete clause
      (5L, "e", 50.0, "I"),  // unmatched + insert clause
      (6L, "f", 60.0, "Z"))  // unmatched, insert clause NOT satisfied
      .toDF("k", "st", "p", "flag")
    val stats = Versioned.mergeInto(src, dir, Seq("k"),
      updateSet = Map("p" -> (col("t.p") + col("s.p"))),
      updateCond = Some(col("s.flag") === "U"),
      deleteCond = Some(col("s.flag") === "D"),
      insertCond = Some(col("s.flag") === "I"))
    assert(stats == Versioned.MergeStats(2L, 1L, 1L, 1L))
    val got = Versioned.read(spark, dir).select("k", "st", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1L, "a", 15.0),   // updated in place: non-SET columns kept
      (3L, "c", 30.0),   // matched by nothing: untouched
      (4L, "d", 40.0),
      (5L, "e", 50.0)))  // inserted (source extras dropped)
  }

  test("mergeInto: matched row satisfying neither clause survives; " +
      "delete wins over update when both conditions hold") {
    val dir = tmp("graft_mi2")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"), dir)
    val src = Seq((1L, 9.0, "N"), (2L, 9.0, "B")).toDF("k", "p", "flag")
    val stats = Versioned.mergeInto(src, dir, Seq("k"),
      updateSet = Map("p" -> col("s.p")),
      updateCond = Some(col("s.flag").isin("U", "B")),
      deleteCond = Some(col("s.flag").isin("D", "B")))
    assert(stats.updated == 0L && stats.deleted == 1L &&
      stats.inserted == 0L)
    val got = Versioned.read(spark, dir).select("k", "p").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.0)))
  }

  test("mergeInto: no clause fires -> no new version committed") {
    val dir = tmp("graft_mi3")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    val src = Seq((9L, 9.0, "Z")).toDF("k", "p", "flag")
    val stats = Versioned.mergeInto(src, dir, Seq("k"),
      updateSet = Map.empty, updateCond = Some(lit(false)),
      insertCond = Some(col("s.flag") === "I"))
    assert(stats == Versioned.MergeStats(1L, 0L, 0L, 0L))
    assert(Versioned.currentVersion(spark, dir).contains(1L))
  }

  test("mergeInto rejects a source with duplicate keys") {
    val dir = tmp("graft_mi4")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    val src = Seq((1L, 2.0, "U"), (1L, 3.0, "U")).toDF("k", "p", "flag")
    val e = intercept[IllegalArgumentException] {
      Versioned.mergeInto(src, dir, Seq("k"),
        updateSet = Map("p" -> col("s.p")))
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("zOrder layout: content identical to the input, and a probe on " +
      "EITHER dimension prunes files a linear layout cannot") {
    val dir = tmp("graft_zo")
    // 64x64 grid: k and c independent, every file of a linear layout
    // spans c's full range
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64L).cast("long").as("k"),
        (col("id") % 64L).as("c"), (col("id") * 7L % 1000L).as("p"))
    Versioned.init(grid.repartition(8), dir, statsCols = Seq("k", "c"))
    Versioned.compact(spark, dir, targetFiles = 8, clusterBy = Seq("k", "c"))
    val linC = Versioned.readRange(spark, dir, "c", 10d, 15d)
    assert(linC.filesRead == linC.filesTotal) // trailing dim: no pruning
    Versioned.compact(spark, dir, targetFiles = 8, zOrderBy = Seq("k", "c"))
    val zK = Versioned.readRange(spark, dir, "k", 10d, 15d)
    val zC = Versioned.readRange(spark, dir, "c", 10d, 15d)
    assert(zK.filesTotal == 8 && zC.filesTotal == 8)
    assert(zK.filesRead < zK.filesTotal, s"k probe read ${zK.filesRead}")
    assert(zC.filesRead < zC.filesTotal, s"c probe read ${zC.filesRead}")
    // superset guarantee + exactness after the residual filter
    assert(zC.df.filter(col("c").between(10, 15)).count() == 64L * 6L)
    assert(zK.df.filter(col("k").between(10, 15)).count() == 64L * 6L)
    // the rewrite is a layout change only
    val all = Versioned.read(spark, dir)
    assert(all.count() == 64L * 64L)
    assert(all.agg(sum(col("p"))).head().getLong(0) ==
      grid.agg(sum(col("p"))).head().getLong(0))
  }

  test("zOrder layout handles constant and NULL dimensions") {
    val df = Seq((1L, Option(5L)), (2L, None), (3L, Option(5L)))
      .toDF("k", "c")
    val out = ZOrder.layout(df, 2, Seq("k", "c"))
    assert(out.collect().length == 3)
    assert(out.columns.toSeq == Seq("k", "c"))
  }
}
