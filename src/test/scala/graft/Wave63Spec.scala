package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.Versioned
import graft.sources.{LakeFilesMessage, LakeStreamingWrite}

/** Structured Streaming sink into the lake (wave 63). */
class Wave63Spec extends SparkSuite {
  import spark.implicits._

  test("writeStream into the lake: per-epoch STREAM-APPEND commits, " +
      "content exactly the streamed rows") {
    val dir = tmp("graft_sk1")
    Versioned.init(Seq.empty[(Long, Double)].toDF("k", "p"), dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("k", "p").writeStream.format("graft-lake")
      .option("path", dir)
      .option("checkpointLocation", tmp("graft_sk1cp")).start()
    try {
      ms.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      ms.addData((3L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(Versioned.read(spark, dir).select("k", "p")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    val ops = Versioned.history(spark, dir).map(_.operation)
    assert(ops.count(_ == "STREAM-APPEND") == 2, s"ops: $ops")
  }

  test("a replayed epoch commits nothing and drops its duplicate " +
      "staging (Delta txn idempotence)") {
    val dir = tmp("graft_sk2")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    val schema = Versioned.read(spark, dir).schema
    def stageBatch(): Seq[String] = {
      val b = new org.apache.hadoop.fs.Path(dir,
        s"data/gbatch=se-test-${java.util.UUID.randomUUID().toString.take(8)}")
      Seq((9L, 9.0)).toDF("k", "p").coalesce(1).write
        .mode("overwrite").parquet(b.toString)
      val f = b.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = f.listFiles(b, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val s0 = it.next()
        if (s0.isFile && s0.getPath.getName.endsWith(".parquet"))
          out += s0.getPath.toString
      }
      out.result()
    }
    val w = new LakeStreamingWrite(dir, schema, "query-A")
    w.commit(7L, Array(LakeFilesMessage(stageBatch())))
    assert(Versioned.read(spark, dir).count() == 2L)
    val dup = stageBatch()
    w.commit(7L, Array(LakeFilesMessage(dup))) // replay: no-op
    assert(Versioned.read(spark, dir).count() == 2L)
    assert(Versioned.history(spark, dir)
      .count(_.operation == "STREAM-APPEND") == 1)
    // the duplicate staging was cleaned up
    val f = new org.apache.hadoop.fs.Path(dup.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(dup.head)))
    // a LATER epoch from the same query still commits
    w.commit(8L, Array(LakeFilesMessage(stageBatch())))
    assert(Versioned.read(spark, dir).count() == 3L)
  }

  test("sink-written timestamps read back through Versioned.read " +
      "(session encoding)") {
    val dir = tmp("graft_sk5")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456")
    Versioned.init(Seq.empty[(Long, java.sql.Timestamp)]
      .toDF("k", "t"), dir)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = ms.toDF().toDF("k", "t").writeStream.format("graft-lake")
      .option("path", dir)
      .option("checkpointLocation", tmp("graft_sk5cp")).start()
    try { ms.addData((1L, ts)); q.processAllAvailable() }
    finally q.stop()
    assert(Versioned.read(spark, dir)
      .as[(Long, java.sql.Timestamp)].collect().toSeq == Seq((1L, ts)))
  }

  test("the sink refuses column-mapped tables loudly") {
    val dir = tmp("graft_sk6")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.renameColumn(spark, dir, "p", "price")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("k", "price").writeStream
      .format("graft-lake").option("path", dir)
      .option("checkpointLocation", tmp("graft_sk6cp")).start()
    ms.addData((2L, 2.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("column-mapped")))
    assert(Versioned.read(spark, dir).count() == 1L)
  }

  test("the sink enforces CHECK constraints and refuses identity / " +
      "partition-structured tables") {
    val dir = tmp("graft_sk3")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p >= 0")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDF().toDF("k", "p").writeStream.format("graft-lake")
      .option("path", dir)
      .option("checkpointLocation", tmp("graft_sk3cp")).start()
    ms.addData((2L, -5.0))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(Versioned.read(spark, dir).count() == 1L)
    val dp = tmp("graft_sk4")
    Versioned.init(Seq((1L, "a", 1.0)).toDF("k", "pc", "p"), dp,
      partitionCol = Some("pc"))
    val ms2 = MemoryStream[(Long, String, Double)]
    val q2 = ms2.toDF().toDF("k", "pc", "p").writeStream
      .format("graft-lake").option("path", dp)
      .option("checkpointLocation", tmp("graft_sk4cp")).start()
    ms2.addData((2L, "b", 2.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("partition-structured")))
  }
}
