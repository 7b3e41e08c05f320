package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Events

/** Event-time-timeout sessionization: state is bounded (open session
  * only) and watermark-evicted. Two angles:
  *  1. Controlled MemoryStream: a session whose user goes quiet is
  *     emitted BY TIMEOUT once the watermark passes last+gap, and its
  *     state row is removed (numRowsTotal drops).
  *  2. Replay determinism on the real table: two AvailableNow replays
  *     emit the identical session set, and that set matches the batch
  *     islands result restricted to closed sessions.
  */
class StreamingSessionSpec extends SparkSuite {

  test("timeout emits quiet session and evicts its state (MemoryStream)") {
    val s = spark
    import s.implicits._
    val base = 1700000000000000L // micros
    val hour = 3600L * 1000000L

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val events = in.toDS().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = Events.sessionize(events).writeStream
      .outputMode("append").format("memory").queryName("sess_timeout_test")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 1: user 1 has two events 10 min apart — one open session
      in.addData((1L, base), (1L, base + 600L * 1000000L))
      q.processAllAvailable()
      assert(spark.table("sess_timeout_test").count() == 0,
        "open session must not be emitted yet")

      // batch 2: user 2 far in the future pushes the watermark past
      // user 1's timeout (last + 1h); timeout fires on a following batch
      in.addData((2L, base + 5 * hour))
      q.processAllAvailable()
      // batch 3: any further data triggers timeout processing
      in.addData((2L, base + 5 * hour + 60L * 1000000L))
      q.processAllAvailable()

      val emitted = spark.table("sess_timeout_test")
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(emitted.contains((1L, base, base + 600L * 1000000L, 2L)),
        s"user 1's quiet session must be emitted by timeout; got ${emitted.mkString(", ")}")

      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows == 1L,
        s"only user 2's open session may remain in state, got $stateRows rows")
    } finally q.stop()
  }

  test("AvailableNow replay is deterministic and matches batch islands (closed sessions)") {
    val d = sf("sf0.001")
    val run1 = Events.streamingSessions(spark, d).collect().toSeq
    val run2 = Events.streamingSessions(spark, d).collect().toSeq
    assert(run1 == run2, "two replays must emit the identical session set")

    // batch islands twin (same SQL family as the q_fmgws_sessions oracle)
    val ev = graft.io.Tables.load(spark, d, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val islands = ev
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 3600L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "sid")
      .agg(min(unix_micros(col("ts"))).as("start_us"),
           max(unix_micros(col("ts"))).as("end_us"),
           count(lit(1)).as("n_events"))
    val maxTs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
    // Spark's watermark and setTimeoutTimestamp both work in MILLIS, and
    // FlatMapGroupsWithStateExec fires event-time timeouts only when
    // timeoutTimestamp < watermark (STRICT) — mirror both exactly
    val finalWatermarkMs = maxTs / 1000L - 3600000L

    // sessions CLOSED w.r.t. the stream: either a later event of the same
    // user opened a new session (non-last island) or the watermark passed
    // last+gap (timeout-eligible)
    val wLast = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val closed = islands
      .withColumn("last_end", max(col("end_us")).over(wLast))
      .filter(col("end_us") < col("last_end") ||
              col("end_us") / 1000L + 3600000L < finalWatermarkMs)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_last_event"),
        col("n_events"))
      .orderBy("user_id", "session_start")
      .collect().toSeq

    assert(run1 == closed,
      s"stream emitted ${run1.size} sessions, batch-closed expectation ${closed.size}")
  }

  test("a streaming replay hands back its rows and drops its memory-sink " +
      "view") {
    val d = sf("sf0.001")
    val first = Events.hourlyByType(spark, d)
    val second = Events.hourlyByType(spark, d)
    assert(spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_")).isEmpty,
      "a replay's memory-sink view outlived the call")
    assert(first.count() > 0 && first.collect().toSet == second.collect().toSet)
  }
}
