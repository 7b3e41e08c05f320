package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** The manifest-swap MERGE: upsert/insert/delete semantics, snapshot
  * isolation (an old version stays readable and bit-identical after a
  * commit), partition-scoped rewrite (untouched partitions carry over
  * by file REFERENCE, never rewritten), optimistic-concurrency
  * conflict handling, and vacuum's reference counting. */
class VersionedSpec extends SparkSuite {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private val base = Seq(
    (1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"), (4L, "four", "b"))

  test("merge = update + insert + delete, committed as a new version") {
    val dir = tmp()
    assert(Versioned.init(base.toDF("k", "v", "p"), dir) == 1L)
    val src = Seq(
      (2L, "TWO", "a", false),  // update
      (5L, "five", "b", false), // insert
      (3L, "", "b", true))      // delete
      .toDF("k", "v", "p", "is_delete")
    assert(Versioned.merge(src, dir, Seq("k"), deleteCol = Some("is_delete")) == 2L)
    assert(rows(Versioned.read(spark, dir)) == Set(
      (1L, "one", "a"), (2L, "TWO", "a"), (4L, "four", "b"), (5L, "five", "b")))
  }

  test("snapshot isolation: version 1 is bit-identical after the merge commits") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir)
    val before = rows(Versioned.read(spark, dir, Some(1L)))
    Versioned.merge(Seq((1L, "ONE", "a", false)).toDF("k", "v", "p", "d"),
      dir, Seq("k"), deleteCol = Some("d"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    assert(rows(Versioned.read(spark, dir, Some(1L))) == before,
      "a reader holding version 1 must keep its exact snapshot")
    assert(rows(Versioned.read(spark, dir))
      .contains((1L, "ONE", "a")))
  }

  test("partition-scoped merge carries untouched partitions by reference") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir, partitionCol = Some("p"))
    val v1Files = Versioned.files(spark, dir, Some(1L)).toSet
    // source touches only partition a
    Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"),
      dir, Seq("k"))
    val v2Files = Versioned.files(spark, dir, Some(2L)).toSet
    val v1b = v1Files.filter(_.contains("/p=b/"))
    assert(v1b.nonEmpty && v1b.subsetOf(v2Files),
      "partition b's files must appear in v2 UNREWRITTEN (same paths)")
    assert(v2Files.filter(_.contains("/p=a/")).forall(f => !v1Files.contains(f)),
      "partition a must be fully rewritten")
    assert(rows(Versioned.read(spark, dir)) == Set(
      (1L, "one", "a"), (2L, "TWO", "a"), (3L, "three", "b"), (4L, "four", "b")))
  }

  test("a lost commit race retries against the winner's snapshot") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir)
    // simulate a concurrent winner: commit version 2 out from under us
    Versioned.merge(Seq((9L, "nine", "a")).toDF("k", "v", "p"), dir, Seq("k"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // this merge must land on version 3 and see the winner's row
    assert(Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"),
      dir, Seq("k")) == 3L)
    val got = rows(Versioned.read(spark, dir))
    assert(got.contains((9L, "nine", "a")) && got.contains((2L, "TWO", "a")))
  }

  test("a losing writer's cleanup cannot touch the winner's files: " +
      "staging directories are disjoint per attempt") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir)
    // two sequential merges both produce version-unique staging dirs;
    // the uuid suffix is what makes a RACING loser's recursive delete
    // safe — prove no two commits ever share a gbatch directory
    Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"), dir, Seq("k"))
    Versioned.merge(Seq((3L, "THREE", "b")).toDF("k", "v", "p"), dir, Seq("k"))
    def batchDirOf(f: String): String =
      f.split("/").find(_.startsWith("gbatch=")).get
    val dirs = (1L to 3L).map(v =>
      Versioned.files(spark, dir, Some(v)).map(batchDirOf).toSet)
    val perVersionNew = Seq(dirs(0), dirs(1) -- dirs(0), dirs(2) -- dirs(1))
    assert(perVersionNew.forall(_.size == 1))
    assert(perVersionNew.map(_.head).distinct.size == 3,
      s"every commit must stage into its own directory: $perVersionNew")
    assert(rows(Versioned.read(spark, dir)).contains((3L, "THREE", "b")))
  }

  test("partition matching survives hive-escaped and NULL partition values") {
    val dir = tmp()
    // 'x:y' escapes to p=x%3Ay on disk; null becomes the hive default
    val hostile = Seq((1L, "one", "x:y"), (2L, "two", "plain"))
      .toDF("k", "v", "p")
      .unionByName(Seq((3L, "three")).toDF("k", "v")
        .withColumn("p", lit(null).cast("string")))
    Versioned.init(hostile, dir, partitionCol = Some("p"))
    // touch ONLY the escaped partition: its old row must be replaced,
    // not carried alongside the new one
    Versioned.merge(Seq((1L, "ONE", "x:y")).toDF("k", "v", "p"),
      dir, Seq("k"))
    val got = Versioned.read(spark, dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "ONE"), (2L, "two"), (3L, "three")),
      s"escaped-partition upsert must not duplicate keys: $got")
    // and a null-partition touch rewrites the hive-default directory
    Versioned.merge(Seq((3L, "THREE")).toDF("k", "v")
        .withColumn("p", lit(null).cast("string")),
      dir, Seq("k"))
    val got2 = Versioned.read(spark, dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == Set((1L, "ONE"), (2L, "two"), (3L, "THREE")),
      s"null-partition upsert must not duplicate keys: $got2")
  }

  test("compact hits the target file count, preserves data, keeps history") {
    val dir = tmp()
    val wide = (1L to 64L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
    Versioned.init(wide.toDF("k", "v", "p").repartition(16), dir)
    assert(Versioned.files(spark, dir, Some(1L)).length == 16)
    val before = rows(Versioned.read(spark, dir))
    val v2 = Versioned.compact(spark, dir, targetFiles = 3)
    assert(v2 == 2L)
    assert(Versioned.files(spark, dir, Some(2L)).length == 3,
      "round-robin compaction must land exactly targetFiles files")
    assert(rows(Versioned.read(spark, dir)) == before,
      "compaction must be data-identical")
    // snapshot isolation: the fragmented version stays readable
    assert(rows(Versioned.read(spark, dir, Some(1L))) == before)
    assert(Versioned.files(spark, dir, Some(1L)).length == 16)
  }

  test("partitioned compact keeps partition-scoped merge carry-over sound") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir, partitionCol = Some("p"))
    Versioned.merge(Seq((5L, "five", "b")).toDF("k", "v", "p"),
      dir, Seq("k"))
    val v3 = Versioned.compact(spark, dir, targetFiles = 2,
      partitionCol = Some("p"))
    assert(v3 == 3L)
    // a post-compaction partition-scoped merge must still match the
    // compacted layout's directory names: touch only partition a
    Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"),
      dir, Seq("k"))
    assert(rows(Versioned.read(spark, dir)) == Set(
      (1L, "one", "a"), (2L, "TWO", "a"), (3L, "three", "b"),
      (4L, "four", "b"), (5L, "five", "b")),
      "merge after partitioned compact must not duplicate or drop keys")
    // partition b's compacted files carried by reference into v4
    val v3b = Versioned.files(spark, dir, Some(3L)).filter(_.contains("/p=b/"))
    val v4 = Versioned.files(spark, dir, Some(4L)).toSet
    assert(v3b.nonEmpty && v3b.forall(v4.contains),
      "untouched partition must carry the compacted files by reference")
  }

  test("shallow clone shares files, diverges on write, never touches the source") {
    val dir = tmp(); val src = s"$dir/src"; val dst = s"$dir/dst"
    Versioned.init(base.toDF("k", "v", "p"), src)
    assert(Versioned.clone(spark, src, dst) == 1L)
    assert(Versioned.files(spark, dst).toSet ==
      Versioned.files(spark, src).toSet,
      "a fresh clone must reference exactly the source's files")
    assert(rows(Versioned.read(spark, dst)) == rows(Versioned.read(spark, src)))
    Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"), dst, Seq("k"))
    assert(rows(Versioned.read(spark, dst)).contains((2L, "TWO", "a")))
    assert(rows(Versioned.read(spark, src)).contains((2L, "two", "a")),
      "writing the clone must not change the source")
    assert(Versioned.currentVersion(spark, src).contains(1L))
  }

  test("documented hazard: vacuuming a diverged source breaks its clones") {
    val dir = tmp(); val src = s"$dir/src"; val dst = s"$dir/dst"
    Versioned.init(base.toDF("k", "v", "p"), src)
    Versioned.clone(spark, src, dst)
    // source moves on; its v1 files are now dead BY ITS OWN reference
    // counting, though the clone still points at them
    Versioned.merge(Seq((1L, "ONE", "a")).toDF("k", "v", "p"), src, Seq("k"))
    assert(Versioned.vacuum(spark, src, keepLast = 1) > 0)
    intercept[Exception] { Versioned.read(spark, dst).collect() }
  }

  test("vacuum deletes only unreferenced files and keeps readable history") {
    val dir = tmp()
    Versioned.init(base.toDF("k", "v", "p"), dir)
    Versioned.merge(Seq((2L, "TWO", "a")).toDF("k", "v", "p"), dir, Seq("k"))
    Versioned.merge(Seq((2L, "TWO2", "a")).toDF("k", "v", "p"), dir, Seq("k"))
    val deleted = Versioned.vacuum(spark, dir, keepLast = 1)
    assert(deleted > 0, "superseded batch files must be reclaimed")
    assert(rows(Versioned.read(spark, dir)).contains((2L, "TWO2", "a")))
    intercept[Exception] { Versioned.read(spark, dir, Some(1L)).collect() }
  }
}
