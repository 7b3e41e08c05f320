package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.queries.Q

/** Segmented manifests (wave 70) — the Iceberg manifest-list shape:
  * append and metadata-only commits write a top level of
  * O(segments + delta) rows whose carried segment refs copy forward
  * verbatim, instead of re-listing every file of the table. These
  * tests pin the commit-cost shape via [[Versioned.manifestShape]]
  * AND the full read/time-travel/prune/maintenance semantics over
  * segmented versions.
  */
class LakeSegmentsSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def table(prefix: String): String = s"${tmp(prefix)}/t"

  /** orders slice keyed so batches are disjoint and checkable. */
  private def slice(lo: Long, hi: Long) = Tables.load(spark, d, "orders")
    .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))

  private def withThreshold[T](n: Int)(body: => T): T =
    Session.withConf(spark, "graft.lake.manifestInlineRows" -> n.toString)(body)

  private def sumK(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(sum(col("k"))).head().getLong(0)

  test("SQL row-level DML keeps a segmented manifest segmented: the " +
      "commit carries segment refs instead of re-listing every file") {
    withThreshold(2) {
      val t = table("graft_seg_sqldml")
      try {
        Versioned.init(slice(0, 300).coalesce(1), t)
        Seq(300L, 600L, 900L, 1200L).foreach(lo =>
          Versioned.append(slice(lo, lo + 300).coalesce(1), t))
        val before = Versioned.manifestShape(spark, t)
        assert(before._2 >= 1L, s"expected a sealed segment, shape=$before")
        val expect = Versioned.read(spark, t).select(col("k"),
            when(col("k") < 100, col("p") + 1).otherwise(col("p")).as("p"))
          .collect().toSet
        spark.sql(s"UPDATE lake.`$t` SET p = p + 1 WHERE k < 100")
        val (topRows, segs) = Versioned.manifestShape(spark, t)
        assert(segs >= 1L && topRows - segs <= 2L,
          s"UPDATE flattened the manifest: shape ($topRows, $segs), " +
            s"before $before")
        assert(Versioned.read(spark, t).select("k", "p").collect().toSet ==
          expect)
      } finally rm(t)
    }
  }

  test("appends seal inline rows into segments; every version reads " +
      "exact and the head's top level stays O(segments + delta)") {
    withThreshold(8) {
      val t = table("graft_seg1")
      try {
        Versioned.init(slice(0, 600).repartition(6), t)
        val cuts = Seq(600L, 1200L, 1800L, 2400L, 3000L, 3600L)
        cuts.sliding(2).foreach { case Seq(lo, hi) =>
          Versioned.append(slice(lo, hi).repartition(3), t)
        }
        val head = Versioned.currentVersion(spark, t).get
        assert(head == 1L + (cuts.size - 1))
        // the head's file list is the union of every batch's files
        // (late slices may be empty at this sf — only require growth)
        val nFiles = Versioned.files(spark, t).size
        assert(nFiles > 9, s"expected growth past the initial 6: $nFiles")
        // ...but its TOP LEVEL is smaller than the file list: inline
        // rows sealed into segments as they crossed the threshold
        val (topRows, segs) = Versioned.manifestShape(spark, t)
        assert(segs >= 1L, s"expected a sealed segment, shape=($topRows,$segs)")
        assert(topRows < nFiles,
          s"top level ($topRows rows) should be smaller than the " +
            s"file list ($nFiles) once sealed")
        assert(topRows - segs <= 8L, "inline rows must respect the threshold")
        // content: head and every intermediate version read exact
        assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 3600)))
        (1 to cuts.size).foreach { i =>
          assert(sumK(Versioned.read(spark, t, Some(i.toLong))) ==
            sumK(slice(0, cuts(i - 1))), s"time travel to v$i")
        }
      } finally rm(t)
    }
  }

  test("a later append REUSES committed segments — refs carry " +
      "forward verbatim while the file count grows") {
    withThreshold(4) {
      val t = table("graft_seg2")
      try {
        Versioned.init(slice(0, 600).repartition(5), t)
        Versioned.append(slice(600, 1200).repartition(2), t) // seals 7 > 4
        val (top1, segs1) = Versioned.manifestShape(spark, t)
        assert(segs1 == 1L && top1 == 1L)
        Versioned.append(slice(1200, 1800).repartition(2), t) // inline 2
        val (top2, segs2) = Versioned.manifestShape(spark, t)
        assert(segs2 == segs1, "the sealed segment must be reused")
        assert(top2 == segs1 + 2L, "the delta rides inline")
        assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 1800)))
      } finally rm(t)
    }
  }

  test("metadata-only commits on a segmented table (DV delete, ADD " +
      "COLUMN, RESTORE) copy the top level forward and stay exact") {
    withThreshold(4) {
      val t = table("graft_seg3")
      try {
        Versioned.init(slice(0, 600).repartition(5), t)
        Versioned.append(slice(600, 1200).repartition(2), t)
        val (_, segs0) = Versioned.manifestShape(spark, t)
        assert(segs0 == 1L)
        val expect = sumK(slice(0, 1200).filter(col("k") % 7 =!= 0))
        Versioned.deleteVectored(spark, t, col("k") % 7 === 0)
        val (topDv, segsDv) = Versioned.manifestShape(spark, t)
        assert(segsDv == segs0 && topDv <= segs0 + 4L,
          s"DV delete must not expand the manifest: ($topDv,$segsDv)")
        assert(sumK(Versioned.read(spark, t)) == expect)
        Versioned.addColumn(spark, t, "note",
          org.apache.spark.sql.types.StringType)
        val r = Versioned.read(spark, t)
        assert(r.columns.contains("note") &&
          r.filter(col("note").isNotNull).count() == 0L)
        assert(sumK(r) == expect)
        // restore to the pre-delete segmented version: still O(top)
        val v = Versioned.restore(spark, t, 2L)
        val (topR, segsR) = Versioned.manifestShape(spark, t, Some(v))
        assert(segsR == segs0 && topR <= segs0 + 4L)
        assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 1200)))
      } finally rm(t)
    }
  }

  test("stats pruning reads THROUGH segments (stats ride in segment " +
      "rows) and the distributed manifest path splices them") {
    withThreshold(4) {
      val t = table("graft_seg4")
      try {
        // range-partition so files have disjoint k intervals
        Versioned.init(slice(0, 600).repartitionByRange(5, col("k")), t,
          statsCols = Seq("k"))
        Versioned.append(slice(600, 1200).repartitionByRange(3, col("k")),
          t)
        assert(Versioned.manifestShape(spark, t)._2 >= 1L)
        val pr = Versioned.readRange(spark, t, "k", 0d, 100d)
        assert(pr.filesRead < pr.filesTotal,
          s"segment-resident stats must prune: ${pr.filesRead}/" +
            s"${pr.filesTotal}")
        assert(sumK(pr.df.filter(col("k") between (0L, 100L))) ==
          sumK(slice(0, 101)))
      } finally rm(t)
    }
  }

  test("compact collapses segments; vacuum then GCs unreferenced " +
      "segment files — and keeps those a retained version still needs") {
    withThreshold(4) {
      val t = table("graft_seg5")
      try {
        Versioned.init(slice(0, 600).repartition(5), t)
        Versioned.append(slice(600, 1200).repartition(2), t)
        Versioned.append(slice(1200, 1800).repartition(2), t)
        val f = new org.apache.hadoop.fs.Path(t, "_versions/segs")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val segsP = new org.apache.hadoop.fs.Path(t, "_versions/segs")
        assert(f.listStatus(segsP).nonEmpty)
        Versioned.compact(spark, t, targetFiles = 2)
        // keepLast=2 retains v3 (segmented) and v4 (flat): segments live
        Versioned.vacuum(spark, t, keepLast = 2)
        assert(f.exists(segsP) && f.listStatus(segsP).nonEmpty,
          "segments referenced by a retained version must survive")
        assert(sumK(Versioned.read(spark, t, Some(3L))) ==
          sumK(slice(0, 1800)))
        // keepLast=1 drops every segmented version: segments GC'd.
        // Unreferenced segments younger than the grace window survive
        // (in-flight-writer guard) — first prove the guard holds, then
        // age them past the grace and prove the GC fires.
        Versioned.vacuum(spark, t, keepLast = 1)
        assert(f.exists(segsP) && f.listStatus(segsP).nonEmpty,
          "young unreferenced segments must survive the grace window " +
            "(an in-flight append may be about to commit them)")
        val aged = System.currentTimeMillis() - Versioned.segGraceMs - 1000L
        f.listStatus(segsP).foreach(s => f.setTimes(s.getPath, aged, -1L))
        Versioned.vacuum(spark, t, keepLast = 1)
        assert(!f.exists(segsP) || f.listStatus(segsP).isEmpty,
          "no retained version references a segment — all GC'd")
        assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 1800)))
      } finally rm(t)
    }
  }

  test("a partition-scoped merge carries disjoint segments unopened " +
      "and rewrites only the touched partition's files") {
    withThreshold(2) {
      val t = table("graft_seg7")
      try {
        def part(g: Int) = slice(0, 1800)
          .filter(col("k") % 3 === g).withColumn("g", lit(g))
          .repartition(3)
        Versioned.init(part(0), t, Some("g"))
        Versioned.append(part(1), t) // seals {g=0,g=1}
        Versioned.append(part(2), t) // seals {g=2}
        val (_, segs0) = Versioned.manifestShape(spark, t)
        assert(segs0 == 2L)
        val before = Versioned.files(spark, t)
        val untouched0 = before.filter(f =>
          f.contains("/g=0/") || f.contains("/g=1/")).toSet
        // merge touching ONLY g=2: bump p for half its keys
        val src = part(2).filter(col("k") % 2 === 0)
          .withColumn("p", col("p") + lit(1000.0))
        Versioned.merge(src, t, keys = Seq("k"))
        val after = Versioned.files(spark, t)
        // untouched partitions' files carry BY REFERENCE — same paths
        assert(after.filter(f =>
          f.contains("/g=0/") || f.contains("/g=1/")).toSet == untouched0)
        // ...and the disjoint segment survives as an unopened ref:
        // the {g=0,g=1} segment is still referenced, so the top level
        // stays refs + the rewritten partition's delta
        val (topM, segsM) = Versioned.manifestShape(spark, t)
        assert(segsM >= 1L && topM < after.size,
          s"expected carried refs, got shape=($topM,$segsM) over " +
            s"${after.size} files")
        val expect = part(0).unionByName(part(1))
          .unionByName(part(2).withColumn("p",
            when(col("k") % 2 === 0, col("p") + lit(1000.0))
              .otherwise(col("p"))))
        assert(Versioned.read(spark, t).agg(
            sum(col("k")), Q.dsum(col("p"))).head().toSeq ==
          expect.agg(sum(col("k")), Q.dsum(col("p"))).head().toSeq)
      } finally rm(t)
    }
  }

  test("rewriteManifests re-seals one segment per partition " +
      "metadata-only; compactPartitions rewrites ONLY the named " +
      "partitions, carrying the rest as refs") {
    withThreshold(2) {
      val t = table("graft_seg8")
      try {
        def part(g: Int) = slice(0, 1800)
          .filter(col("k") % 3 === g).withColumn("g", lit(g))
          .repartition(3)
        Versioned.init(part(0), t, Some("g"))
        Versioned.append(part(1), t)
        Versioned.append(part(2), t)
        val expect = sumK(slice(0, 1800))
        val filesBefore = Versioned.files(spark, t).toSet
        val v = Versioned.rewriteManifests(spark, t)
        assert(v == 4L)
        // metadata-only: the same data files, re-listed
        assert(Versioned.files(spark, t).toSet == filesBefore)
        val (top, segs) = Versioned.manifestShape(spark, t)
        assert(top == 3L && segs == 3L,
          s"expected one segment per partition, got ($top,$segs)")
        // idempotent: a second call is a no-op, no new version
        assert(Versioned.rewriteManifests(spark, t) == v)
        assert(sumK(Versioned.read(spark, t)) == expect)
        // OPTIMIZE ... WHERE g=2: only that partition rewrites
        val g01 = Versioned.files(spark, t)
          .filter(f => f.contains("/g=0/") || f.contains("/g=1/")).toSet
        val g2 = Versioned.files(spark, t).filter(_.contains("/g=2/"))
        val c = Versioned.compactPartitions(spark, t, "g", Seq("2"), 1)
        assert(c.version == 5L && c.coalesced == g2.size &&
          c.carried == g01.size)
        val after = Versioned.files(spark, t)
        assert(after.filter(f =>
          f.contains("/g=0/") || f.contains("/g=1/")).toSet == g01)
        val g2after = after.filter(_.contains("/g=2/"))
        assert(g2after.size == 1 && g2after.toSet.intersect(g2.toSet).isEmpty)
        assert(sumK(Versioned.read(spark, t)) == expect)
        // the SQL procedures route to the same engine paths
        val rr = spark.sql(s"CALL lake.rewrite_manifests('$t')").head()
        assert(rr.getLong(2) >= 1L)
        val ro = spark.sql(
          s"CALL lake.optimize_partitions('$t', 1, 'g', '0, 1')").head()
        assert(ro.getInt(1) > 0 && sumK(Versioned.read(spark, t)) == expect)
      } finally rm(t)
    }
  }

  test("clone and renameTable of a segmented table stay exact (clone " +
      "expands; rename keeps relative refs / rewrites moved roots)") {
    withThreshold(4) {
      val t = table("graft_seg6")
      val c = table("graft_seg6c")
      val r = new java.io.File(new java.io.File(t).getParent, "r")
        .toString
      try {
        Versioned.init(slice(0, 600).repartition(5), t)
        Versioned.append(slice(600, 1200).repartition(2), t)
        val expect = sumK(slice(0, 1200))
        Versioned.clone(spark, t, c)
        assert(sumK(Versioned.read(spark, c)) == expect)
        Versioned.renameTable(spark, t, r)
        assert(sumK(Versioned.read(spark, r)) == expect)
        assert(sumK(Versioned.read(spark, r, Some(1L))) ==
          sumK(slice(0, 600)))
        // rename must NOT flatten a segmented manifest back to
        // O(table-files) top rows — it rewrites each referenced
        // segment once and remaps the refs
        val (topAfter, segsAfter) = Versioned.manifestShape(spark, r)
        assert(segsAfter >= 1L,
          s"rename flattened the manifest: shape=($topAfter,$segsAfter)")
        // the renamed table keeps committing fine
        Versioned.append(slice(1200, 1800).repartition(2), r)
        assert(sumK(Versioned.read(spark, r)) == sumK(slice(0, 1800)))
      } finally { rm(t); rm(c) }
    }
  }
}
