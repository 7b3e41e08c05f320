package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** Round-10 connector upgrades: the REAL V2 batch write (executor-
  * staged append commits) and delta-based row-level SQL DML —
  * `UPDATE`, `MERGE INTO`, and non-filter `DELETE` planned by Spark's
  * row-level rewrites and committed MERGE-ON-READ (deletion-vector +
  * appended images, zero pre-existing files rewritten). */
class LakeSqlDmlSpec extends SparkSuite {
  import spark.implicits._

  private val base = (1L to 20L).map(k => (k, s"v$k", k.toDouble))

  private def initBase(dir: String): Unit =
    Versioned.init(base.toDF("k", "v", "p").repartition(3), dir)

  private def rows(dir: String): Set[(Long, String, Double)] =
    Versioned.read(spark, dir).select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("INSERT INTO runs the real V2 batch write: executor-staged " +
      "files, APPEND commit, prior files by reference") {
    val dir = tmp()
    try {
      initBase(dir)
      val v1Files = Versioned.files(spark, dir).toSet
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (21, 'v21', 21.0D), " +
        "(22, 'v22', 22.0D)")
      assert(Versioned.history(spark, dir).map(_.operation) ==
        Seq("INIT", "APPEND"))
      // the V2 path stages under the batch writer's `ba…` tag — the
      // V1 fallback would stage under a version-numbered gbatch prefix
      val added = Versioned.files(spark, dir).toSet.diff(v1Files)
      assert(added.nonEmpty && added.forall(_.contains("/gbatch=ba")))
      assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
      assert(rows(dir) == (base ++ Seq((21L, "v21", 21.0),
        (22L, "v22", 22.0))).toSet)
    } finally rm(dir)
  }

  test("SQL UPDATE is merge-on-read: deletion vector + appended " +
      "copies, ZERO files rewritten, op UPDATE_SQL") {
    val dir = tmp()
    try {
      initBase(dir)
      val v1Files = Versioned.files(spark, dir).toSet
      spark.sql(s"UPDATE lake.`$dir` SET p = p + 100.0, v = 'upd' " +
        "WHERE k % 7 = 3")
      assert(Versioned.history(spark, dir).map(_.operation) ==
        Seq("INIT", "UPDATE_SQL"))
      // zero rewrite: every v1 file still in the manifest
      assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
      val dv = Versioned.deletionVector(spark, dir)
      assert(dv.nonEmpty && dv.get.count() == 3) // k = 3, 10, 17
      val expect = base.map { case (k, v, p) =>
        if (k % 7 == 3) (k, "upd", p + 100.0) else (k, v, p)
      }.toSet
      assert(rows(dir) == expect)
    } finally rm(dir)
  }

  test("SQL UPDATE matching zero rows commits nothing") {
    val dir = tmp()
    try {
      initBase(dir)
      spark.sql(s"UPDATE lake.`$dir` SET p = 0.0 WHERE k > 1000")
      assert(Versioned.history(spark, dir).map(_.operation) == Seq("INIT"))
      assert(rows(dir) == base.toSet)
    } finally rm(dir)
  }

  test("SQL MERGE INTO replays a 3-clause statement (matched-delete, " +
      "matched-update, not-matched-insert) as one delta commit") {
    val dir = tmp()
    try {
      initBase(dir)
      val v1Files = Versioned.files(spark, dir).toSet
      Seq((2L, "two", 0.5), (3L, "three", 0.25), (30L, "thirty", 30.0))
        .toDF("k", "v", "p").createOrReplaceTempView("dml_src")
      spark.sql(
        s"""MERGE INTO lake.`$dir` t USING dml_src s ON t.k = s.k
           |WHEN MATCHED AND s.p < 0.4 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.p = t.p + s.p
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(Versioned.history(spark, dir).map(_.operation) ==
        Seq("INIT", "MERGE_SQL"))
      assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
      val expect = base.flatMap {
        case (3L, _, _) => None                      // matched-delete (p=0.25)
        case (2L, _, p) => Some((2L, "two", p + 0.5)) // matched-update
        case r => Some(r)
      }.toSet + ((30L, "thirty", 30.0))               // not-matched-insert
      assert(rows(dir) == expect)
    } finally rm(dir)
  }

  test("DELETE with a predicate source filters can't express takes " +
      "the row-level path (DELETE_SQL), still zero-rewrite") {
    val dir = tmp()
    try {
      initBase(dir)
      val v1Files = Versioned.files(spark, dir).toSet
      spark.sql(s"DELETE FROM lake.`$dir` WHERE k % 7 = 0")
      val op = Versioned.history(spark, dir).last.operation
      assert(op == "DELETE_SQL" || op == "DELETE_VECTORED")
      assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
      assert(rows(dir) == base.filterNot(_._1 % 7 == 0).toSet)
    } finally rm(dir)
  }

  test("row-id metadata columns are selectable and match the " +
      "deletion-vector identity") {
    val dir = tmp()
    try {
      initBase(dir)
      val meta = spark.sql(
        s"SELECT k, __lake_file, __lake_pos FROM lake.`$dir`")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(meta.length == base.length)
      val keys = Versioned.files(spark, dir)
        .map(Versioned.fileKeyOf).toSet
      assert(meta.map(_._2).toSet.subsetOf(keys))
      // positions are per-file dense from 0
      meta.groupBy(_._2).foreach { case (_, rs) =>
        assert(rs.map(_._3).sorted.sameElements(0L until rs.length))
      }
      // vector a row away, then its (file, pos) disappears from the scan
      spark.sql(s"UPDATE lake.`$dir` SET p = 0.0 WHERE k = 5")
      val after = spark.sql(
        s"SELECT k, __lake_file, __lake_pos FROM lake.`$dir`")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val dv = Versioned.deletionVector(spark, dir).get.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(dv.size == 1)
      assert(!after.exists(r => dv.contains((r._2, r._3))))
    } finally rm(dir)
  }

  test("row-level DML on a version-pinned table is refused") {
    val dir = tmp()
    try {
      initBase(dir)
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (21, 'x', 1.0D)")
      val e = intercept[Exception] {
        spark.sql(s"UPDATE lake.`$dir` VERSION AS OF 1 SET p = 0.0")
      }
      assert(e.getMessage != null)
    } finally rm(dir)
  }

  test("update on a partitioned table: bulk partition files carried, " +
      "updated copies staged as slivers") {
    val dir = tmp()
    try {
      Versioned.init(base.map { case (k, v, p) =>
        (k, v, p, if (k % 2 == 0) "E" else "O") }
        .toDF("k", "v", "p", "st"), dir, partitionCol = Some("st"))
      val v1Files = Versioned.files(spark, dir).toSet
      spark.sql(s"UPDATE lake.`$dir` SET p = p * 2.0 WHERE k <= 4")
      assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
      val got = Versioned.read(spark, dir).select("k", "p").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == base.map { case (k, _, p) =>
        (k, if (k <= 4) p * 2 else p) }.toSet)
    } finally rm(dir)
  }
}
