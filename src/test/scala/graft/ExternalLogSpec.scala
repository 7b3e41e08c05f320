package graft

import org.apache.spark.sql.functions._

import graft.io.ExternalLog

/** Delta-style external log read path ([[ExternalLog]]).
  *
  * Pins the live-set algebra (add/remove per version), snapshot
  * isolation (an old version is unaffected by later commits), the
  * loud-failure contracts (unknown version, duplicate commit), and
  * that resolving a snapshot opens ONLY the live files.
  */
class ExternalLogSpec extends SparkSuite {

  import spark.implicits._

  private def freshTable(): String = {
    val dir = tmp("graft_extspec")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/d0")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/d1")
    Seq((10L, "x")).toDF("id", "v").write.parquet(s"$dir/d2")
    dir
  }

  test("live-set algebra: remove drops a file, later versions stack") {
    val dir = freshTable()
    ExternalLog.commit(spark, dir, 0L, adds = Seq("d0"))
    ExternalLog.commit(spark, dir, 1L, adds = Seq("d1"), removes = Seq("d0"))
    ExternalLog.commit(spark, dir, 2L, adds = Seq("d2"))
    assert(ExternalLog.liveFiles(spark, dir, Some(0L)) == Seq("d0"))
    assert(ExternalLog.liveFiles(spark, dir, Some(1L)) == Seq("d1"))
    assert(ExternalLog.liveFiles(spark, dir, Some(2L)).toSet == Set("d1", "d2"))
    val latest = ExternalLog.read(spark, dir)
      .orderBy("id").select("id").as[Long].collect()
    assert(latest.sameElements(Array(3L, 10L)))
  }

  test("snapshot isolation: v0 read is identical before and after later commits") {
    val dir = freshTable()
    ExternalLog.commit(spark, dir, 0L, adds = Seq("d0"))
    val before = ExternalLog.read(spark, dir, Some(0L))
      .orderBy("id").collect().toSeq
    ExternalLog.commit(spark, dir, 1L, adds = Seq("d1"), removes = Seq("d0"))
    val after = ExternalLog.read(spark, dir, Some(0L))
      .orderBy("id").collect().toSeq
    assert(before == after && before.map(_.getLong(0)) == Seq(1L, 2L))
  }

  test("unknown version and duplicate commit fail loudly") {
    val dir = freshTable()
    ExternalLog.commit(spark, dir, 0L, adds = Seq("d0"))
    intercept[IllegalArgumentException] {
      ExternalLog.read(spark, dir, Some(7L))
    }
    intercept[Exception] { // exclusive create: version 0 already exists
      ExternalLog.commit(spark, dir, 0L, adds = Seq("d1"))
    }
    // the failed duplicate must not have corrupted version 0
    assert(ExternalLog.liveFiles(spark, dir, Some(0L)) == Seq("d0"))
  }

  test("additive schema evolution: old files read NULL for later columns") {
    val dir = tmp("graft_evospec")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/d0")
    Seq((3L, "c", 30L)).toDF("id", "v", "extra").write.parquet(s"$dir/d1")
    ExternalLog.commit(spark, dir, 0L, adds = Seq("d0"))
    ExternalLog.commit(spark, dir, 1L, adds = Seq("d1"))
    val merged = ExternalLog.read(spark, dir, mergeSchema = true)
      .orderBy("id").collect()
    assert(merged.map(_.schema.fieldNames.toSeq).head ==
      Seq("id", "v", "extra"))
    assert(merged.map(r => Option(r.get(2))).toSeq ==
      Seq(None, None, Some(30L)))
    // default read (no merge) must not silently pay the footer union
    val plain = ExternalLog.read(spark, dir)
    assert(!plain.columns.contains("extra") || plain.columns.length == 3)
  }

  test("export: a Versioned table's history round-trips through the " +
      "log, version for version, with zero data copy") {
    import graft.ops.Versioned
    val dir = tmp("graft_export")
    Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(2), dir)
    Versioned.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), dir, Seq("id"))
    assert(ExternalLog.export(spark, dir) == 1L)
    // per-version identity: log v == versioned v+1
    (1L to 2L).foreach { v =>
      val native = Versioned.read(spark, dir, Some(v))
        .orderBy("id").collect().toSeq
      val ext = ExternalLog.read(spark, dir, Some(v - 1))
        .orderBy("id").collect().toSeq
      assert(native == ext, s"version $v mismatch")
    }
    // the exported adds are relative paths into the table's own data
    assert(ExternalLog.liveFiles(spark, dir).forall(_.startsWith("data/")))
    // incremental: another merge, re-export appends only the tail
    Versioned.merge(Seq((4L, "d")).toDF("id", "v"), dir, Seq("id"))
    assert(ExternalLog.export(spark, dir) == 2L)
    assert(ExternalLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(ExternalLog.read(spark, dir).orderBy("id")
      .select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("export skips inexpressible deletion-vector versions and " +
      "publishes the materializing compact against the last export") {
    import graft.ops.Versioned
    val dir = tmp("graft_exdv")
    Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir)
    Versioned.deleteVectored(spark, dir, col("id") === 1L)
    // current version carries a vector: only the pre-vector history
    // is expressible
    assert(ExternalLog.export(spark, dir) == 0L)
    assert(ExternalLog.versions(spark, dir) == Seq(0L))
    Versioned.compact(spark, dir, targetFiles = 1)
    assert(ExternalLog.export(spark, dir) == 2L)
    assert(ExternalLog.versions(spark, dir) == Seq(0L, 2L),
      "the vector version must stay a numbering gap")
    assert(ExternalLog.read(spark, dir).select("id").as[Long]
      .collect().toSeq == Seq(2L),
      "the exported snapshot must reflect the materialized delete")
  }

  test("snapshot scan opens only the live files") {
    val dir = freshTable()
    ExternalLog.commit(spark, dir, 0L, adds = Seq("d0", "d1"))
    ExternalLog.commit(spark, dir, 1L, removes = Seq("d0"), adds = Seq())
    val df = ExternalLog.read(spark, dir)
    val scanned = df.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scanned.forall(_.contains("/d1/")), scanned.mkString(","))
  }
}
