package graft

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** `CALL lake.<proc>(…)` — catalog maintenance through pure SQL. */
class LakeProceduresSpec extends SparkSuite {
  import spark.implicits._

  private val base = (1L to 20L).map(k => (k, k.toDouble))

  test("CALL lake.optimize compacts and returns the receipt row") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "p").repartition(6), dir)
      val r = spark.sql(s"CALL lake.optimize('$dir', 2)").collect()
      assert(r.length == 1)
      assert(r(0).getLong(0) == 2L)           // committed version
      assert(r(0).getLong(1) == 6L)           // files before
      assert(r(0).getLong(2) <= 2L)           // files after
      assert(Versioned.read(spark, dir).count() == 20L)
    } finally rm(dir)
  }

  test("CALL lake.optimize_cluster / optimize_zorder rewrite with a " +
      "layout and the stats prune afterwards") {
    val dir = tmp()
    try {
      val rows = (1L to 400L).map(k => (k, (k * 37L) % 400L, k.toDouble))
      Versioned.init(rows.toDF("k", "c", "p").repartition(8), dir,
        statsCols = Seq("k", "c"))
      val rc = spark.sql(
        s"CALL lake.optimize_cluster('$dir', 8, 'k')").collect()
      assert(rc(0).getLong(0) == 2L && rc(0).getLong(1) == 8L)
      val kProbe = Versioned.readRange(spark, dir, "k", 1d, 50d)
      assert(kProbe.filesRead < kProbe.filesTotal,
        s"linear cluster must prune k: ${kProbe.filesRead} of " +
          s"${kProbe.filesTotal}")
      val rz = spark.sql(
        s"CALL lake.optimize_zorder('$dir', 8, 'k, c')").collect()
      assert(rz(0).getLong(0) == 3L && rz(0).getLong(1) == 8L)
      val zK = Versioned.readRange(spark, dir, "k", 1d, 50d)
      val zC = Versioned.readRange(spark, dir, "c", 1d, 50d)
      assert(zK.filesRead < zK.filesTotal && zC.filesRead < zC.filesTotal,
        s"z-order must prune both dims: k=${zK.filesRead}/" +
          s"${zK.filesTotal} c=${zC.filesRead}/${zC.filesTotal}")
      assert(Versioned.read(spark, dir).count() == 400L)
    } finally rm(dir)
  }

  test("CALL lake.vacuum drops old versions; named-argument binding") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "p").repartition(4), dir)
      Versioned.compact(spark, dir, 1)
      val r = spark.sql(
        s"CALL lake.vacuum(path => '$dir', keep_last => 1)").collect()
      assert(r.length == 1 && r(0).getInt(0) >= 4) // the 4 v1 files freed
      assert(Versioned.history(spark, dir).map(_.version) == Seq(2L))
      assert(Versioned.read(spark, dir).count() == 20L)
    } finally rm(dir)
  }

  test("CALL lake.restore re-commits a historical version; " +
      "CALL lake.history shows the forward-only log") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "p"), dir)
      Versioned.deleteVectored(spark, dir, col("k") > 10L)
      assert(Versioned.read(spark, dir).count() == 10L)
      val r = spark.sql(s"CALL lake.restore('$dir', 1)").collect()
      assert(r.length == 1 && r(0).getLong(0) == 3L)
      assert(Versioned.read(spark, dir).count() == 20L)
      val h = spark.sql(s"CALL lake.history('$dir')").collect()
        .map(x => (x.getLong(0), x.getString(1)))
      assert(h.map(_._1).sameElements(Seq(1L, 2L, 3L)))
      assert(h.last._2.startsWith("RESTORE"))
    } finally rm(dir)
  }

  test("CALL lake.vacuum_older_than drops versions by commit age") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "p").repartition(4), dir)
      Versioned.compact(spark, dir, 1)
      // everything committed so far is older than now+1s
      val cutoff = System.currentTimeMillis() + 1000L
      val r = spark.sql(
        s"CALL lake.vacuum_older_than('$dir', ${cutoff}L)").collect()
      assert(r.length == 1 && r(0).getInt(0) >= 4) // the 4 v1 files freed
      // the tip always survives age-based retention
      assert(Versioned.history(spark, dir).map(_.version) == Seq(2L))
      assert(Versioned.read(spark, dir).count() == 20L)
    } finally rm(dir)
  }

  test("DESCRIBE DETAIL sugar rewrites onto CALL lake.describe; " +
      "ordinary statements pass through the parser shim untouched") {
    val dir = tmp()
    try {
      Versioned.init(base.toDF("k", "p").repartition(2), dir)
      val viaCall = spark.sql(s"CALL lake.describe('$dir')").head()
      val viaSugar = spark.sql(s"DESCRIBE DETAIL lake.`$dir`").head()
      assert(viaSugar == viaCall)
      // delegate path: a plain statement still parses and runs
      base.toDF("k", "p").createOrReplaceTempView("graft_dd_passthru")
      assert(spark.sql(
        "SELECT count(*) FROM graft_dd_passthru").head().getLong(0) == 20L)
      assert(spark.sql("DESCRIBE graft_dd_passthru").count() == 2L)
    } finally rm(dir)
  }

  test("unknown procedure fails with the available list") {
    val e = intercept[Exception] {
      spark.sql("CALL lake.frobnicate('/nope')")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("optimize")))
  }
}
