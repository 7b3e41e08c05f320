package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** SQL access to the lake through the TableCatalog plugin (wave 58). */
class LakeCatalogSpec extends SparkSuite {
  import spark.implicits._

  test("SQL path identifier reads the current snapshot; VERSION AS OF " +
      "pins history; TIMESTAMP AS OF resolves by commit time") {
    val dir = tmp("graft_cat1")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), dir)
    Thread.sleep(20)
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    Versioned.merge(Seq((3L, 30.0)).toDF("k", "p"), dir, Seq("k"))
    assert(spark.sql(s"SELECT k FROM lake.`$dir`")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(spark.sql(s"SELECT k FROM lake.`$dir` VERSION AS OF 1")
      .as[Long].collect().toSet == Set(1L, 2L))
    val tsLit = new java.sql.Timestamp(tsAfterV1).toString
    assert(spark.sql(
      s"SELECT k FROM lake.`$dir` TIMESTAMP AS OF '$tsLit'")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("OCC freshness: a commit landing AFTER a prior SQL read is " +
      "visible to the next current-version statement; VERSION AS OF " +
      "stays pinned (r17 — the memoized-history queries rely on " +
      "per-statement manifest resolution, not a cached relation)") {
    val dir = tmp("graft_cat_occ")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), dir)
    // first read resolves v1 as "current"
    assert(spark.sql(s"SELECT k FROM lake.`$dir`").count() == 2)
    // concurrent writer lands v2 through the OCC commit path
    Versioned.merge(Seq((3L, 30.0)).toDF("k", "p"), dir, Seq("k"))
    // a NEW current-version statement must see v2 (no stale relation
    // cache), while the pinned-version read is immutable
    assert(spark.sql(s"SELECT k FROM lake.`$dir`")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(spark.sql(s"SELECT k FROM lake.`$dir` VERSION AS OF 1")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("SQL joins across two lake tables; filters reach the scan") {
    val d1 = tmp("graft_cat2a")
    val d2 = tmp("graft_cat2b")
    Versioned.init(Seq((1L, "x"), (2L, "y")).toDF("k", "name"), d1)
    Versioned.init(Seq((1L, 5.0), (1L, 7.0), (2L, 9.0)).toDF("k", "v"), d2)
    val got = spark.sql(
      s"""SELECT a.name, sum(b.v) AS s FROM lake.`$d1` a
         |JOIN lake.`$d2` b ON a.k = b.k
         |WHERE a.name = 'x' GROUP BY a.name""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("x", 12.0)))
  }

  test("INSERT INTO appends through the commit protocol; constraints " +
      "veto violating batches; INSERT OVERWRITE stays refused; " +
      "DROP TABLE removes the table") {
    val dir = tmp("graft_cat3")
    Versioned.init(Seq((1L, 10.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p >= 0")
    spark.sql(s"INSERT INTO lake.`$dir` VALUES (9, 90.0)")
    assert(Versioned.read(spark, dir).select("k", "p")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (9L, 90.0)))
    assert(Versioned.history(spark, dir).last.operation == "APPEND")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val bad = intercept[Exception] {
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (10, -1.0)")
    }
    assert(messages(bad).exists(_.contains("p_pos")),
      s"unexpected error: ${messages(bad)}")
    // the vetoed batch committed NOTHING
    assert(Versioned.read(spark, dir).count() == 2L)
    // blind INSERT OVERWRITE stays refused (it would bypass the
    // engine's merge/delete semantics) …
    val ow = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE lake.`$dir` VALUES (11, 1.0)")
    }
    assert(messages(ow).nonEmpty)
    assert(Versioned.read(spark, dir).count() == 2L)
    // … but DDL is real since wave 66: DROP TABLE removes the table
    spark.sql(s"DROP TABLE lake.`$dir`")
    assert(Versioned.currentVersion(spark, dir).isEmpty)
  }

  test("DELETE FROM runs as a vectored merge-on-read delete; " +
      "untranslatable predicates take the row-level delta path") {
    val dir = tmp("graft_cat7")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("k", "p"), dir)
    val v1Files = Versioned.files(spark, dir).toSet
    spark.sql(s"DELETE FROM lake.`$dir` WHERE k >= 3 AND p < 4.0")
    assert(Versioned.read(spark, dir).select("k").as[Long]
      .collect().toSet == Set(1L, 2L, 4L))
    assert(Versioned.files(spark, dir).toSet == v1Files,
      "vectored delete must not rewrite files")
    assert(Versioned.deletionVector(spark, dir).nonEmpty)
    // a predicate with no source-filter translation used to be refused
    // at analysis; since the round-10 row-level ops it runs through
    // Spark's DELETE rewrite + the delta write — same merge-on-read
    // commit, still zero rewrite
    spark.sql(s"DELETE FROM lake.`$dir` WHERE k % 2 = 0")
    assert(Versioned.read(spark, dir).select("k").as[Long]
      .collect().toSet == Set(1L))
    assert(v1Files.subsetOf(Versioned.files(spark, dir).toSet))
  }

  test("df.writeTo(...).append() lands as an APPEND commit") {
    val dir = tmp("graft_cat6")
    Versioned.init(Seq((1L, 10.0)).toDF("k", "p"), dir)
    Seq((2L, 20.0)).toDF("k", "p").writeTo(s"lake.`$dir`").append()
    assert(Versioned.read(spark, dir).count() == 2L)
    assert(Versioned.history(spark, dir).map(_.operation) ==
      Seq("INIT", "APPEND"))
  }

  test("$files scans the manifest itself; $history reads the commit " +
      "log; both compose with VERSION AS OF") {
    val dir = tmp("graft_cat5")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), dir)
    Versioned.merge(Seq((3L, 30.0)).toDF("k", "p"), dir, Seq("k"))
    val curFiles = spark.sql(s"SELECT f FROM lake.`$dir$$files`")
      .as[String].collect().toSet
    assert(curFiles == Versioned.files(spark, dir).toSet)
    val v1Files = spark.sql(
      s"SELECT f FROM lake.`$dir$$files` VERSION AS OF 1")
      .as[String].collect().toSet
    assert(v1Files == Versioned.files(spark, dir, Some(1L)).toSet)
    val hist = spark.sql(
      s"SELECT version, operation FROM lake.`$dir$$history` ORDER BY 1")
      .as[(Long, String)].collect().toSeq
    assert(hist == Seq((1L, "INIT"), (2L, "MERGE")))
    // a segmented manifest lists the files its segments reference,
    // never the `seg:` refs themselves
    val seg = tmp("graft_cat5s")
    Session.withConf(spark, "graft.lake.manifestInlineRows" -> "2") {
      Versioned.init(Seq((1L, 10.0)).toDF("k", "p").coalesce(1), seg)
      (2 to 5).foreach(i => Versioned.append(
        Seq((i.toLong, i * 10.0)).toDF("k", "p").coalesce(1), seg))
      assert(Versioned.manifestShape(spark, seg)._2 >= 1L)
      val segFiles = spark.sql(s"SELECT f FROM lake.`$seg$$files`")
        .as[String].collect().toSeq
      assert(segFiles.sorted == Versioned.files(spark, seg).sorted)
      assert(segFiles.length == 5 && !segFiles.exists(_.startsWith("seg:")))
    }
  }

  test("root-configured catalog resolves namespace identifiers and " +
      "lists lake tables") {
    val root = tmp("graft_cat4")
    spark.conf.set("spark.sql.catalog.laker", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.laker.root", root)
    val dir = new java.io.File(root, "t1")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"),
      dir.toString)
    assert(spark.sql("SELECT count(*) AS n FROM laker.t1")
      .as[Long].head() == 2L)
    assert(spark.sql("SHOW TABLES IN laker").collect()
      .map(_.getString(1)).toSet == Set("t1"))
  }

  test("the catalog lists a directory only once it holds a committed " +
      "version: a failed init is not a table") {
    val root = tmp("graft_cat5")
    spark.conf.set("spark.sql.catalog.lakel", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.lakel.root", root)
    val rows = Seq((1L, 1.0)).toDF("k", "p")
    Versioned.init(rows, s"$root/t1")
    // registers its stats columns, then fails staging: a log, no version
    intercept[Exception] {
      Versioned.init(rows, s"$root/t2", partitionCol = Some("nope"),
        statsCols = Seq("k"))
    }
    assert(Versioned.currentVersion(spark, s"$root/t2").isEmpty)
    assert(spark.sql("SHOW TABLES IN lakel").collect()
      .map(_.getString(1)).toSet == Set("t1"))
  }
}
