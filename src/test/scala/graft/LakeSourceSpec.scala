package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned
import graft.sources.LakeSource

/** DataSource V2 connector over the lake: batch reads (pruning, DV,
  * time travel, column mapping, schema evolution) and the micro-batch
  * streaming source (wave 57). */
class LakeSourceSpec extends SparkSuite {
  import spark.implicits._

  private def lake(dir: String): org.apache.spark.sql.DataFrame =
    spark.read.format("graft-lake").option("path", dir).load()

  test("batch read equals Versioned.read — partitions, deletion " +
      "vectors, and evolved columns included") {
    val dir = tmp("graft_ds1")
    Versioned.init(Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    Versioned.deleteVectored(spark, dir, col("k") === 2L)
    Versioned.merge(Seq((5L, "b", 50.0, "x")).toDF("k", "pc", "p", "tag"),
      dir, Seq("k"), evolveSchema = true)
    val viaApi = Versioned.read(spark, dir)
      .select("k", "pc", "p", "tag").as[(Long, String, Double, Option[String])]
      .collect().toSet
    val viaDsv2 = lake(dir)
      .select("k", "pc", "p", "tag").as[(Long, String, Double, Option[String])]
      .collect().toSet
    assert(viaDsv2 == viaApi)
    assert(viaDsv2.map(_._1) == Set(1L, 3L, 4L, 5L))
    assert(viaDsv2.find(_._1 == 5L).get._4.contains("x"))
    assert(viaDsv2.find(_._1 == 1L).get._4.isEmpty) // evolved col NULL
  }

  test("stats filters prune files at planning and appear as " +
      "PushedFilters; results stay exact") {
    val dir = tmp("graft_ds2")
    val base = (1 to 400).map(i => (i.toLong, (i / 100).toLong, i * 1.5))
      .toDF("k", "bkt", "c")
    Versioned.init(base.repartition(col("bkt")), dir,
      partitionCol = Some("bkt"), statsCols = Seq("k"))
    val q = lake(dir).filter(col("k") >= 350L && col("k") <= 360L)
    val got = q.select("k").as[Long].collect().toSet
    assert(got == (350L to 360L).toSet)
    val (planned, total) = LakeSource.lastPlanned.get()
    assert(planned < total,
      s"expected file pruning, planned $planned of $total")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("350"))
  }

  test("string-equality partition filters prune by directory segment") {
    val dir = tmp("graft_ds3")
    Versioned.init(Seq(
      (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c:x", 3.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    val total = Versioned.files(spark, dir).length
    // hive-escaped segment value (the ':') must still match
    val got = lake(dir).filter(col("pc") === "c:x")
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(3L))
    assert(LakeSource.lastPlanned.get()._1 < total)
  }

  test("partition segments come from the file key: a table root under " +
      "a Hive-style directory of the same column reads and prunes right") {
    val dir = s"${tmp("graft_ds10")}/s=zzz/tbl"
    Versioned.init(Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("k", "s"), dir, partitionCol = Some("s"))
    val api = Versioned.read(spark, dir)
    assert(spark.sql(s"SELECT count(*) FROM lake.`$dir` WHERE s = 'a'")
      .as[Long].head() == api.filter(col("s") === "a").count())
    assert(spark.sql(s"SELECT k, s FROM lake.`$dir`")
      .as[(Long, String)].collect().toSet ==
      api.select("k", "s").as[(Long, String)].collect().toSet)
  }

  test("versionAsOf time-travels; renamed columns read by physical " +
      "identity through the connector") {
    val dir = tmp("graft_ds4")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"), dir)
    Versioned.merge(Seq((3L, 30.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.renameColumn(spark, dir, "p", "price")
    assert(lake(dir).select("k", "price").as[(Long, Double)]
      .collect().toSet == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    val v1 = spark.read.format("graft-lake").option("path", dir)
      .option("versionAsOf", 1).load()
    assert(v1.columns.toSeq == Seq("k", "p"))
    assert(v1.select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("streaming: initial snapshot then per-commit increments, " +
      "exactly once across a checkpointed restart") {
    val dir = tmp("graft_ds5")
    val cp = tmp("graft_ds5cp")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    // append-only commit: new partition, carried files untouched
    Versioned.merge(Seq((3L, "c", 3.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))
    val out = tmp("graft_ds5out")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-lake").option("path", dir)
        .load().writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(out).select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // another append while the stream is DOWN; restart resumes at the
    // checkpointed version and delivers ONLY the delta — each key
    // lands in the durable sink exactly once
    Versioned.merge(Seq((4L, "d", 4.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))
    runOnce()
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("maxFilesPerTrigger paces the backfill: versions admit while " +
      "the file budget lasts, at least one per trigger") {
    val dir = tmp("graft_ds8")
    val cp = tmp("graft_ds8cp")
    Versioned.init(Seq(1L, 2L, 3L).toDF("k").repartition(3), dir) // v1: 3
    Versioned.append(Seq(4L, 5L).toDF("k").repartition(2), dir)   // v2: 2
    Versioned.append(Seq(6L, 7L).toDF("k").repartition(2), dir)   // v3: 2
    val q = spark.readStream.format("graft-lake").option("path", dir)
      .option("maxFilesPerTrigger", 3).load()
      .writeStream.format("memory").queryName("ds8")
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ds8").select("k").as[Long].collect().sorted
      .toSeq == (1L to 7L))
    // v1 (3 files) fills the budget alone; v2 then v3 each start a
    // fresh trigger: three data-bearing micro-batches, not one
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3,
      s"expected 3 paced micro-batches, got $dataBatches: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("maxBytesPerTrigger paces by the manifest's #bytes stats; " +
      "VERSION AS OF 'tag' resolves the ref") {
    val dir = tmp("graft_ds9")
    val cp = tmp("graft_ds9cp")
    Versioned.init(Seq(1L, 2L).toDF("k"), dir)     // v1
    Versioned.append(Seq(3L, 4L).toDF("k"), dir)   // v2
    Versioned.append(Seq(5L).toDF("k"), dir)       // v3
    // a 1-byte budget forces one version per trigger (first always
    // admits)
    val q = spark.readStream.format("graft-lake").option("path", dir)
      .option("maxBytesPerTrigger", 1L).load()
      .writeStream.format("memory").queryName("ds9")
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ds9").select("k").as[Long].collect().sorted
      .toSeq == (1L to 5L))
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    // tag time travel through SQL
    Versioned.tag(spark, dir, "first-cut", Some(1L))
    assert(spark.sql(
        s"SELECT k FROM lake.`$dir` VERSION AS OF 'first-cut'")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM lake.`$dir` VERSION AS OF 'nope'")
        .collect()
    }
    assert(e.getMessage.contains("no such tag") ||
      Option(e.getCause).exists(_.getMessage.contains("no such tag")))
  }

  test("timestamp columns decode through the connector (INT96, " +
      "Spark's default parquet encoding)") {
    val dir = tmp("graft_ds7")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456")
    Versioned.init(Seq((1L, ts)).toDF("k", "t"), dir)
    val got = lake(dir).select("k", "t")
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    assert(got == Seq((1L, ts)))
  }

  test("a merge pinned below a vacuumed version can never recreate " +
      "it: the commit lands at the tip") {
    val dir = tmp("graft_ds8")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    Versioned.tag(spark, dir, "pin") // protects v1
    Versioned.merge(Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))                                                   // v2
    Versioned.merge(Seq((1L, "a", 12.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))                                                   // v3
    Versioned.vacuum(spark, dir, keepLast = 1) // drops v2 (+ its lock)
    // stale writer pinned to the tagged v1, disjoint partition b:
    // must NOT win the recreated v2 slot — it rebases onto the tip
    val v = Versioned.merge(Seq((3L, "b", 30.0)).toDF("k", "pc", "p"),
      dir, Seq("k"), baseVersion = Some(1L))
    assert(v == 4L, s"expected the tip, got v$v")
    assert(Versioned.read(spark, dir).select("k", "p")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 12.0), (2L, 2.0), (3L, 30.0)))
  }

  test("streaming refuses non-append commits unless ignoreChanges") {
    val dir = tmp("graft_ds6")
    val cp = tmp("graft_ds6cp")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    // rewriting commit: updates partition a in place
    Versioned.merge(Seq((1L, "a", 11.0)).toDF("k", "pc", "p"), dir,
      Seq("k"))
    val q = spark.readStream.format("graft-lake").option("path", dir)
      .load().writeStream.format("memory").queryName("ds6a")
      .option("checkpointLocation", cp).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("not an append") ||
      Option(e.getCause).exists(_.getMessage.contains("not an append")))
    val q2 = spark.readStream.format("graft-lake").option("path", dir)
      .option("ignoreChanges", true).load()
      .writeStream.format("memory").queryName("ds6b")
      .option("checkpointLocation", tmp("graft_ds6cp2")).start()
    try q2.processAllAvailable() finally q2.stop()
    // v1 snapshot + v2's rewritten partition-a file: k=1 re-delivered
    // under both values — ignoreChanges' documented at-least-once
    val got = spark.table("ds6b").select("k").as[Long].collect().toSeq
    assert(got.sorted == Seq(1L, 1L, 2L))
  }
}
