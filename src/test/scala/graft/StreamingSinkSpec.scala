package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Events

/** Streaming file sink: readStream → transform → writeStream(parquet)
  * with a checkpoint — the durable-output path (memory sink is for
  * tests; production lands on files/tables with exactly-once per-batch
  * commit protocol). */
class StreamingSinkSpec extends SparkSuite {

  test("streaming parquet sink writes all rows exactly once") {
    val d = sf("sf0.001")
    val out = tmp("ssink")
    val q = Events.readStream(spark, d)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()

    val written = spark.read.parquet(s"$out/data")
    val expected = graft.io.Tables.load(spark, d, "events")
      .filter(col("event_type") === "purchase")
    assert(written.count() == expected.count())
    assert(written.select("event_id").distinct().count() == written.count())
  }

  test("foreachBatch sink: arbitrary per-micro-batch logic (upsert-style)") {
    val d = sf("sf0.001")
    val out = tmp("feb")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = Events.readStream(spark, d)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the escape hatch: any batch writer (JDBC upsert, MERGE, multi-sink)
        seen.addAndGet(batch.count())
        batch.write.mode("overwrite").parquet(s"$out/agg")
      }
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.get() == 5) // five event types
    assert(spark.read.parquet(s"$out/agg").count() == 5)
  }

  test("join strategy hints are honored (shuffle_hash / merge)") {
    import org.apache.spark.sql.execution.ExplainMode
    val d = sf("sf0.001")
    val o = graft.io.Tables.load(spark, d, "orders")
    val c = graft.io.Tables.load(spark, d, "customer")
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))

    val sh = o.join(c.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
    assert(plan(sh).contains("ShuffledHashJoin"), plan(sh))
    val mj = o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
    assert(plan(mj).contains("SortMergeJoin"), plan(mj))
    assert(sh.count() == mj.count())
  }
}
