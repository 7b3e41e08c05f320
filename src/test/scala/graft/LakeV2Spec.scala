package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** Round-9 lake upgrades: merge-on-read deletion vectors (read
  * equivalence with the copy-on-write path, zero-rewrite commit,
  * carry/materialize rules, compact clears), additive schema
  * evolution on MERGE (carried files surface NULL through the logged
  * schema; time travel keeps the old shape), and the parquet manifest
  * (directory layout, many-file carry-over without driver
  * materialization of the carried side). */
class LakeV2Spec extends SparkSuite {
  import spark.implicits._

  private val base = Seq(
    (1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"), (4L, "four", "b"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("deleteVectored: zero files rewritten, read-equivalent to " +
      "copy-on-write delete, history intact") {
    val cow = tmp(); val mor = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p").repartition(2), cow)
      Versioned.init(base.toDF("k", "v", "p").repartition(2), mor)
      val ec = Versioned.delete(spark, cow, col("k") === 2L)
      val ev = Versioned.deleteVectored(spark, mor, col("k") === 2L)
      assert(ev.rewritten == 0, "vectored delete must rewrite nothing")
      assert(ev.deletedRows == 1L && ec.deletedRows == 1L)
      assert(Versioned.files(spark, mor, Some(2L)) ==
        Versioned.files(spark, mor, Some(1L)),
        "vectored delete must commit the IDENTICAL file list")
      assert(rows(Versioned.read(spark, mor)) ==
        rows(Versioned.read(spark, cow)),
        "merge-on-read and copy-on-write must read identically")
      assert(rows(Versioned.read(spark, mor, Some(1L))) ==
        base.toSet.map((t: (Long, String, String)) => t),
        "time travel must see the pre-delete snapshot")
      assert(Versioned.deletionVector(spark, mor).nonEmpty)
      assert(Versioned.deletionVector(spark, mor, Some(1L)).isEmpty)
    } finally { rm(cow); rm(mor) }
  }

  test("deleteVectored accumulates across commits; NULL predicate " +
      "rows are retained") {
    val dir = tmp()
    try {
      val withNull = Seq((1L, Some(5L)), (2L, None), (3L, Some(20L)),
        (4L, Some(30L))).toDF("k", "v")
      Versioned.init(withNull.coalesce(1), dir)
      assert(Versioned.deleteVectored(spark, dir, col("v") > 25).deletedRows
        == 1L)
      // second vector on top of the first; v IS NULL (k=2) must survive
      assert(Versioned.deleteVectored(spark, dir, col("v") > 10).deletedRows
        == 1L, "already-deleted rows must not be re-counted")
      val kept = Versioned.read(spark, dir).select("k").as[Long]
        .collect().toSet
      assert(kept == Set(1L, 2L), s"expected {1,2}, got $kept")
      val dv = Versioned.deletionVector(spark, dir).get
      assert(dv.count() == 2L, "vectors must accumulate by union")
    } finally rm(dir)
  }

  test("compact materializes the deletion vector and drops it") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p").repartition(4), dir)
      Versioned.deleteVectored(spark, dir, col("k") === 1L)
      val before = rows(Versioned.read(spark, dir))
      Versioned.compact(spark, dir, targetFiles = 2)
      assert(Versioned.deletionVector(spark, dir).isEmpty,
        "compaction must clear the vector")
      assert(rows(Versioned.read(spark, dir)) == before,
        "materialization must be read-identical")
    } finally rm(dir)
  }

  test("partition-scoped merge carries vectors on carried files and " +
      "materializes them on rewritten files") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p"), dir, partitionCol = Some("p"))
      // one vectored delete in each partition
      Versioned.deleteVectored(spark, dir, col("k").isin(1L, 3L))
      // merge touches only partition a → partition a's vector entries
      // materialize in the rewrite; partition b's carry
      Versioned.merge(Seq((5L, "five", "a")).toDF("k", "v", "p"),
        dir, Seq("k"))
      assert(rows(Versioned.read(spark, dir)) == Set(
        (2L, "two", "a"), (4L, "four", "b"), (5L, "five", "a")),
        "deleted rows must stay deleted through the merge")
      val dv = Versioned.deletionVector(spark, dir)
      assert(dv.nonEmpty && dv.get.count() == 1L,
        "only the carried partition's vector entry may remain")
      // full rewrite drops the vector entirely
      Versioned.compact(spark, dir, targetFiles = 1,
        partitionCol = Some("p"))
      assert(Versioned.deletionVector(spark, dir).isEmpty)
      assert(rows(Versioned.read(spark, dir)) == Set(
        (2L, "two", "a"), (4L, "four", "b"), (5L, "five", "a")))
    } finally rm(dir)
  }

  test("deletion-vector keys survive part-file NAME collisions across " +
      "partition directories (regression: dynamic-partition writes " +
      "reuse one task's part name in every directory it touches)") {
    import spark.implicits._
    val dir = tmp()
    try {
      // repartition(1): ONE task writes BOTH partition dirs → the two
      // files share a part name and differ only in their directory
      val base = Seq((1L, "a"), (2L, "b")).toDF("k", "p").repartition(1)
      Versioned.init(base, dir, partitionCol = Some("p"))
      val names = Versioned.files(spark, dir)
        .map(f => f.substring(f.lastIndexOf('/') + 1)).distinct
      assert(names.length == 1,
        s"fixture must produce colliding part names, got $names")
      // delete row 0 of partition a ONLY; row 0 of partition b (same
      // file name, same row position) must survive
      Versioned.deleteVectored(spark, dir, col("k") === 1L)
      val kept = Versioned.read(spark, dir).select("k").as[Long]
        .collect().toSet
      assert(kept == Set(2L),
        s"same-name/same-position row in the other partition died: $kept")
    } finally rm(dir)
  }

  test("plan shape: a vectored read is one row-position filter over " +
      "the scan, no join") {
    import spark.implicits._
    val dir = tmp()
    try {
      Versioned.init((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(4), dir)
      Versioned.deleteVectored(spark, dir, col("k") <= 10L)
      val df = Versioned.read(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("Filter") && !plan.contains("Join") &&
        !plan.contains("Exchange") && !plan.contains("LocalTableScan"),
        s"the vector must apply as a filter over the one scan:\n$plan")
      assert(df.count() == 990L)
    } finally rm(dir)
  }

  test("clone propagates the deletion vector") {
    val dir = tmp(); val src = s"$dir/src"; val dst = s"$dir/dst"
    try {
      Versioned.init(base.toDF("k", "v", "p").repartition(2), src)
      Versioned.deleteVectored(spark, src, col("k") === 4L)
      Versioned.clone(spark, src, dst)
      assert(rows(Versioned.read(spark, dst)) ==
        rows(Versioned.read(spark, src)),
        "a clone of a vectored table must not resurrect deleted rows")
    } finally rm(dir)
  }

  test("evolveSchema merge: new column NULL-fills carried files; time " +
      "travel keeps the old shape; strict mode still drops extras") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p"), dir)
      // strict (default): extra column is dropped, schema unchanged
      Versioned.merge(Seq((5L, "five", "a", "EXTRA")).toDF("k", "v", "p", "x"),
        dir, Seq("k"))
      assert(Versioned.read(spark, dir).columns.toSeq == Seq("k", "v", "p"),
        "default merge must not evolve the schema")
      // evolving: the new column lands; old rows read NULL
      Versioned.merge(
        Seq((6L, "six", "b", 0.9)).toDF("k", "v", "p", "score"),
        dir, Seq("k"), evolveSchema = true)
      val cur = Versioned.read(spark, dir)
      assert(cur.columns.toSeq == Seq("k", "v", "p", "score"))
      val scores = cur.select("k", "score").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some(r.getDouble(1)))).toMap
      assert(scores(6L).contains(0.9))
      assert(Seq(1L, 2L, 3L, 4L, 5L).forall(scores(_).isEmpty),
        "carried files must surface NULL for the added column")
      // time travel: pre-evolution versions keep the old schema
      assert(Versioned.read(spark, dir, Some(2L)).columns.toSeq ==
        Seq("k", "v", "p"))
      // and evolution composes with upsert semantics on a later merge
      Versioned.merge(Seq((1L, "ONE", "a", 0.5)).toDF("k", "v", "p", "score"),
        dir, Seq("k"), evolveSchema = true)
      val one = Versioned.read(spark, dir).filter(col("k") === 1L)
        .select("v", "score").head()
      assert(one.getString(0) == "ONE" && one.getDouble(1) == 0.5)
    } finally rm(dir)
  }

  test("evolveSchema also NULL-fills target columns the source lacks") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p"), dir)
      Versioned.merge(Seq((7L, "b")).toDF("k", "p"), dir, Seq("k"),
        evolveSchema = true)
      val r = Versioned.read(spark, dir).filter(col("k") === 7L).head()
      assert(r.isNullAt(r.fieldIndex("v")),
        "missing source column must insert as NULL under evolution")
    } finally rm(dir)
  }

  test("manifest stats: readRange opens only overlapping files, stats " +
      "carry by reference through merge, and stay exact after compact") {
    val dir = tmp()
    try {
      // 4 disjoint ranges of k, one file each, stats on k
      val wide = (1L to 400L).map(i => (i, s"v$i", (i / 101).toString))
      Versioned.init(wide.toDF("k", "v", "p").repartition(4, col("p")), dir,
        statsCols = Seq("k"))
      val pr = Versioned.readRange(spark, dir, "k", 150d, 160d)
      assert(pr.filesTotal >= 3, s"expected several files, got ${pr.filesTotal}")
      assert(pr.filesRead < pr.filesTotal,
        "a narrow range must prune at least one file")
      assert(pr.df.filter(col("k").between(150, 160)).count() == 11L)
      // a superset guarantee: every matching row is in the pruned read
      assert(pr.df.filter(col("k").between(150, 160)).count() ==
        Versioned.read(spark, dir).filter(col("k").between(150, 160)).count())
      // merge another range-batch: carried files keep their stats (the
      // probe still prunes), staged files gain theirs
      Versioned.merge(Seq((500L, "x", "9")).toDF("k", "v", "p"),
        dir, Seq("k"))
      val pr2 = Versioned.readRange(spark, dir, "k", 500d, 500d)
      assert(pr2.filesRead < pr2.filesTotal,
        "post-merge probe must still prune via carried stats")
      assert(pr2.df.filter(col("k") === 500L).count() == 1L)
      // compact recomputes stats for the rewritten layout
      Versioned.compact(spark, dir, targetFiles = 2)
      val pr3 = Versioned.readRange(spark, dir, "k", -5d, -1d)
      assert(pr3.filesRead == 0 && pr3.df.count() == 0L,
        "an out-of-range probe after compact must open zero files")
    } finally rm(dir)
  }

  test("updateVectored: zero rewrite, SQL UPDATE semantics, compact folds") {
    import spark.implicits._
    val dir = tmp()
    try {
      val base = Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
        .toDF("k", "n", "p")
      Versioned.init(base.repartition(2), dir)
      val u = Versioned.updateVectored(spark, dir, col("k") >= 2L,
        Map("n" -> (col("n") + 100)))
      assert(u.updatedRows == 2L && u.version == 2L)
      val got = Versioned.read(spark, dir).select("k", "n").as[(Long, Long)]
        .collect().toMap
      assert(got == Map(1L -> 10L, 2L -> 120L, 3L -> 130L), got.toString)
      // time travel: v1 still has the old values
      assert(Versioned.read(spark, dir, Some(1L)).filter(col("k") === 2L)
        .select("n").as[Long].head() == 20L)
      // a second update composes on the updated values
      Versioned.updateVectored(spark, dir, col("k") === 2L,
        Map("n" -> (col("n") * 2)))
      assert(Versioned.read(spark, dir).filter(col("k") === 2L)
        .select("n").as[Long].head() == 240L)
      // no-match update commits nothing
      assert(Versioned.updateVectored(spark, dir, col("k") === 99L,
        Map("n" -> lit(0L))).version == -1L)
      val before = Versioned.read(spark, dir).select("k", "n")
        .as[(Long, Long)].collect().toSet
      Versioned.compact(spark, dir, targetFiles = 1)
      assert(Versioned.deletionVector(spark, dir).isEmpty)
      assert(Versioned.read(spark, dir).select("k", "n")
        .as[(Long, Long)].collect().toSet == before)
    } finally rm(dir)
  }

  test("changes(): whole-row diff reads only unshared files; carried " +
      "files and compaction moves contribute nothing; DV deltas appear") {
    import spark.implicits._
    val dir = tmp()
    try {
      val base = Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"),
        (4L, "four", "b")).toDF("k", "v", "p")
      Versioned.init(base, dir, partitionCol = Some("p"))
      // touch only partition a
      Versioned.merge(Seq((2L, "TWO", "a"), (5L, "five", "a"))
        .toDF("k", "v", "p"), dir, Seq("k"))
      val cf = Versioned.changes(spark, dir, 1L, 2L)
      val got = cf.df.select("op", "k", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set(("D", 2L, "two"), ("I", 2L, "TWO"),
        ("I", 5L, "five")), got.toString)
      assert(cf.filesOpened < cf.filesUnion,
        "the untouched partition's carried files must not be opened")
      // a pure compaction produces an EMPTY feed (rows only moved)
      Versioned.compact(spark, dir, targetFiles = 1,
        partitionCol = Some("p"))
      assert(Versioned.changes(spark, dir, 2L, 3L).df.count() == 0L)
      // a vectored delete on carried files surfaces as a D via the
      // deletion-vector delta
      Versioned.deleteVectored(spark, dir, col("k") === 4L)
      val cf2 = Versioned.changes(spark, dir, 3L, 4L)
      assert(cf2.df.select("op", "k").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("D", 4L)), "dv-delta rows must appear as deletes")
    } finally rm(dir)
  }

  test("readAsOf resolves by commit time and fails before the table existed") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "v", "p"), dir)
      val t1 = System.currentTimeMillis()
      Thread.sleep(20)
      Versioned.merge(Seq((1L, "ONE", "a")).toDF("k", "v", "p"),
        dir, Seq("k"))
      assert(Versioned.versionAsOf(spark, dir, t1).contains(1L))
      assert(rows(Versioned.readAsOf(spark, dir, t1)) ==
        rows(Versioned.read(spark, dir, Some(1L))))
      assert(Versioned.versionAsOf(spark, dir, System.currentTimeMillis())
        .contains(2L))
      intercept[RuntimeException] { Versioned.readAsOf(spark, dir, 1000L) }
    } finally rm(dir)
  }

  test("clusterBy compact: a selective range probe opens fewer files " +
      "after clustering, identical data") {
    import spark.implicits._
    val dir = tmp()
    try {
      // shuffled init: every file spans the whole key range
      val wide = (1L to 4000L).map(i => (i, s"v$i"))
      Versioned.init(wide.toDF("k", "v").repartition(8), dir,
        statsCols = Seq("k"))
      val before = Versioned.readRange(spark, dir, "k", 100d, 120d)
      assert(before.filesRead == before.filesTotal,
        "round-robin layout must not prune (every file spans the range)")
      val all = Versioned.read(spark, dir).select("k").as[Long]
        .collect().toSet
      Versioned.compact(spark, dir, targetFiles = 8, clusterBy = Seq("k"))
      val after = Versioned.readRange(spark, dir, "k", 100d, 120d)
      assert(after.filesRead < after.filesTotal,
        s"clustered layout must prune: ${after.filesRead}/${after.filesTotal}")
      assert(Versioned.read(spark, dir).select("k").as[Long]
        .collect().toSet == all, "clustering must be data-identical")
      assert(after.df.filter(col("k").between(100, 120)).count() == 21L)
    } finally rm(dir)
  }

  test("compactSmall coalesces only sub-threshold sliver files, " +
      "carries the bulk by reference, keeps bulk vector entries") {
    import spark.implicits._
    val dir = tmp()
    try {
      Versioned.init((1L to 4000L).map(i => (i, i * 10L)).toDF("k", "n")
        .coalesce(1), dir)
      // three O(1-row) update commits: each appends a sliver file and
      // vectors the old row
      (1L to 3L).foreach { i =>
        Versioned.updateVectored(spark, dir, col("k") === i,
          Map("n" -> (col("n") + 1)))
      }
      val nFiles = Versioned.files(spark, dir).length
      assert(nFiles == 4, s"expected bulk + 3 slivers, got $nFiles")
      val before = Versioned.read(spark, dir).select("k", "n")
        .as[(Long, Long)].collect().toSet
      val c = Versioned.compactSmall(spark, dir, minBytes = 10000L,
        targetFiles = 1)
      assert(c.coalesced == 3 && c.carried == 1,
        s"must coalesce the 3 slivers and carry the bulk: $c")
      val bulk = Versioned.files(spark, dir, Some(1L)).head
      assert(Versioned.files(spark, dir).contains(bulk),
        "the bulk file must carry by REFERENCE (same path)")
      assert(Versioned.read(spark, dir).select("k", "n")
        .as[(Long, Long)].collect().toSet == before,
        "selective compaction must be read-identical")
      // vector entries for the coalesced slivers materialized; the
      // bulk file's entries (old updated rows) must survive
      val dv = Versioned.deletionVector(spark, dir)
      assert(dv.nonEmpty && dv.get.count() == 3L,
        "bulk-file vector entries must carry through compactSmall")
      // a second pass finds at most one small file -> no-op
      assert(Versioned.compactSmall(spark, dir, 10000L, 1).version == -1L)
    } finally rm(dir)
  }

  test("optimistic concurrency: racing writers all land, every row " +
      "survives, versions are dense") {
    import spark.implicits._
    val dir = tmp()
    try {
      Versioned.init(Seq((0L, "base")).toDF("k", "v").coalesce(1), dir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = (1 to 4).map { t =>
        scala.concurrent.Future {
          (1 to 2).map { i =>
            val k = t * 100L + i
            Versioned.merge(Seq((k, s"w$t-$i")).toDF("k", "v"),
              dir, Seq("k"))
          }
        }
      }
      val versions = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration(120, "s")).flatten
      pool.shutdown()
      assert(versions.distinct.length == 8,
        s"every commit must claim a distinct version: $versions")
      assert(versions.toSet == (2L to 9L).toSet,
        s"versions must be dense 2..9: $versions")
      val keys = Versioned.read(spark, dir).select("k").as[Long]
        .collect().toSet
      assert(keys == Set(0L) ++ (1 to 4).flatMap(t =>
        (1 to 2).map(i => t * 100L + i)).toSet,
        s"a racing writer lost rows: $keys")
    } finally rm(dir)
  }

  test("metadataStats answers count/min/max from the manifest alone " +
      "and refuses vectored or stats-less versions") {
    import spark.implicits._
    val dir = tmp()
    try {
      val wide = (1L to 500L).map(i => (i, i * 2L))
      Versioned.init(wide.toDF("k", "n").repartition(4), dir,
        statsCols = Seq("k", "n"))
      val m = Versioned.metadataStats(spark, dir, "k")
      assert(m.rows == 500L && m.min == 1d && m.max == 500d && m.files == 4)
      assert(Versioned.metadataStats(spark, dir, "n").max == 1000d)
      intercept[IllegalArgumentException] {
        Versioned.metadataStats(spark, dir, "absent_col")
      }
      Versioned.deleteVectored(spark, dir, col("k") === 1L)
      intercept[IllegalArgumentException] {
        Versioned.metadataStats(spark, dir, "k")
      }
      // the materializing compact restores exactness
      Versioned.compact(spark, dir, targetFiles = 2)
      val m2 = Versioned.metadataStats(spark, dir, "k")
      assert(m2.rows == 499L && m2.min == 2d && m2.files == 2)
    } finally rm(dir)
  }

  test("readPoint: bloom sidecars prune a point lookup to ~one file, " +
      "never lose the row") {
    import spark.implicits._
    val dir = tmp()
    try {
      // keys round-robin across files: every file's [min,max] spans
      // the whole range, so ONLY the bloom can prune
      val wide = (1L to 4000L).map(i => (i, s"v$i"))
      Versioned.init(wide.toDF("k", "v").repartition(8), dir,
        statsCols = Seq("k"), bloomCols = Seq("k"))
      val rr = Versioned.readRange(spark, dir, "k", 77d, 77d)
      assert(rr.filesRead == rr.filesTotal,
        "round-robin min/max must NOT prune a point probe")
      val pp = Versioned.readPoint(spark, dir, "k", lit(77L))
      assert(pp.filesRead < pp.filesTotal,
        s"bloom must prune: ${pp.filesRead}/${pp.filesTotal}")
      val got = pp.df.filter(col("k") === 77L).select("v").as[String]
        .collect().toSeq
      assert(got == Seq("v77"), s"the looked-up row must survive: $got")
      // a key that exists nowhere: bloom may FP but content is empty
      assert(Versioned.readPoint(spark, dir, "k", lit(999999L))
        .df.filter(col("k") === 999999L).count() == 0L)
    } finally rm(dir)
  }

  test("hidden partitioning: layout derives from the table property, " +
      "untouched buckets carry by reference, reads never see it") {
    import spark.implicits._
    val dir = tmp()
    try {
      val base = (1L to 400L).map(i => (i, i % 40, s"v$i"))
        .toDF("k", "c", "v")
      Versioned.init(base, dir, partitionCol = Some("c div 10"))
      assert(Versioned.partitionLayout(spark, dir).contains(
        Versioned.Layout("__gpart", Some("c div 10"))))
      assert(Versioned.readHidden(spark, dir).columns.toSeq ==
        Seq("k", "c", "v"), "the derived column must stay hidden")
      val v1Files = Versioned.files(spark, dir, Some(1L))
      // the batch touches only bucket 2 (c in 20..29) — the caller
      // never states that; the transform derives it
      Versioned.merge(Seq((21L, 21L, "NEW")).toDF("k", "c", "v"),
        dir, Seq("k"))
      val v2Files = Versioned.files(spark, dir, Some(2L)).toSet
      val untouched = v1Files.filterNot(_.contains("/__gpart=2/"))
      assert(untouched.nonEmpty && untouched.forall(v2Files.contains),
        "untouched hidden buckets must carry by file reference")
      assert(v1Files.filter(_.contains("/__gpart=2/"))
        .forall(!v2Files.contains(_)),
        "the touched hidden bucket must be fully rewritten")
      val got = Versioned.readHidden(spark, dir)
        .filter(col("k") === 21L).select("v").as[String].head()
      assert(got == "NEW")
      assert(Versioned.readHidden(spark, dir).count() == 400L)
      // deletion vectors compose with the hidden layout
      Versioned.deleteVectored(spark, dir, col("k") === 1L)
      assert(Versioned.readHidden(spark, dir).count() == 399L)
    } finally rm(dir)
  }

  test("manifest is parquet-as-data: directory layout, and a many-file " +
      "partition merge carries the untouched set by reference") {
    val dir = tmp()
    try {
      // 100 partitions → 100 files; touch ONE partition
      val wide = (1L to 1000L).map(i => (i, s"v$i", (i % 100).toString))
      Versioned.init(wide.toDF("k", "v", "p").repartition(8), dir,
        partitionCol = Some("p"))
      val v1Files = Versioned.files(spark, dir, Some(1L))
      assert(v1Files.length >= 100)
      val f = new org.apache.hadoop.fs.Path(s"$dir/_versions/v1.manifest")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(f.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_versions/v1.manifest")).isDirectory,
        "the manifest must be a parquet directory, not a text file")
      Versioned.merge(Seq((7L, "SEVEN", "7")).toDF("k", "v", "p"),
        dir, Seq("k"))
      val v2Files = Versioned.files(spark, dir, Some(2L)).toSet
      val untouched = v1Files.filterNot(_.contains("/p=7/"))
      assert(untouched.nonEmpty && untouched.forall(v2Files.contains),
        "all untouched partitions must carry by file reference")
      assert(v1Files.filter(_.contains("/p=7/")).forall(!v2Files.contains(_)),
        "the touched partition must be fully rewritten")
      val got = Versioned.read(spark, dir).filter(col("k") === 7L)
        .select("v").head().getString(0)
      assert(got == "SEVEN")
      assert(Versioned.read(spark, dir).count() == 1000L)
    } finally rm(dir)
  }

  test("the connector reads and writes every type Versioned does: " +
      "decimal, binary, date, timestamp (INT96 and INT64), array, struct") {
    val dir = tmp()
    val src = tmp()
    val cp = tmp()
    def batch(lo: Long) = spark.range(lo, lo + 4).selectExpr(
      "id AS k",
      "IF(id % 4 = 3, NULL, CAST(id * 1.25 AS DECIMAL(12,2))) AS amt",
      "CAST(concat('b', id) AS BINARY) AS bin",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
      "timestamp_micros(1709296245123456 + id * 86400000001) AS t",
      "IF(id % 4 = 2, NULL, array(id, id * 2)) AS xs",
      "named_struct('a', CAST(id AS INT), 'b', concat('s', id)) AS st")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getLong(0)).toSeq
    def viaSql = spark.sql(s"SELECT * FROM lake.`$dir`")
    def check(expected: Seq[org.apache.spark.sql.Row], what: String): Unit = {
      val api = Versioned.read(spark, dir)
      assert(sorted(api.select(viaSql.columns.map(col).toSeq: _*)) ==
        sorted(viaSql), s"$what: SQL read differs from Versioned.read")
      assert(sorted(api) == expected, s"$what: Versioned.read lost rows")
    }
    try {
      Versioned.init(batch(0).coalesce(1), dir) // session default: INT96
      Session.withConf(spark,
          "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(
        Versioned.append(batch(10).coalesce(1), dir))
      check(sorted(batch(0).union(batch(10))), "INT96 + INT64 appends")
      // the direct V2 write: executor-staged files, APPEND commit
      batch(20).createOrReplaceTempView("lake_types_src")
      spark.sql(s"INSERT INTO lake.`$dir` SELECT * FROM lake_types_src")
      assert(Versioned.history(spark, dir).last.operation == "APPEND")
      assert(Versioned.files(spark, dir).exists(_.contains("/gbatch=ba")))
      check(sorted(batch(0).union(batch(10)).union(batch(20))),
        "SQL INSERT")
      // one micro-batch through the streaming sink
      batch(30).write.mode("overwrite").parquet(src)
      val q = spark.readStream.schema(batch(30).schema).parquet(src)
        .writeStream.format("graft-lake").option("path", dir)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(Versioned.history(spark, dir).last.operation == "STREAM-APPEND")
      check(sorted(batch(0).union(batch(10)).union(batch(20))
        .union(batch(30))), "streaming sink")
    } finally rm(dir, src, cp)
  }
}
