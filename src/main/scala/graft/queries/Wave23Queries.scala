package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.streaming.{Events, SessIn, StatefulSessions}

/** Round-8 wave 23 — event-time timers on the new state API:
  *
  *  - `q_tws_sessions`: gap sessionization via `transformWithState`
  *    with EXPLICIT event-time timers ([[StatefulSessions]]) — the
  *    timer half of the Spark-4 arbitrary-state surface
  *    (`q_stream_topk` covered typed state). Same watermark-flush
  *    semantics as the `flatMapGroupsWithState(EventTimeTimeout)`
  *    path, so it satisfies the SAME replay oracle as
  *    `q_stream_sessions` — two independent engine paths pinned to
  *    one ground truth.
  */
object Wave23Queries extends QueryModule {

  /** Sessions via the timer-based processor on a bounded replay:
    * state is 3 longs + 1 timer per ACTIVE user (bounded by
    * concurrency, not corpus size); the final no-data batch advances
    * the watermark and fires the timers whose sessions can no longer
    * be extended — open tails stay in state, exactly like the old
    * API, which is what the shared oracle encodes. */
  def qTwsSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gapMicros = 3600L * 1000000L
    val sessions = Events.readStream(s, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .map { case (u, t) => SessIn(u, t) }
      .groupByKey(_.user_id)
      .transformWithState(new StatefulSessions(gapMicros),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
    Events.runToCompletion(s, sessions, mode = "append",
      wideState = true, needsTimers = true)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(timestamp_micros(col("end_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_last_event"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tws_sessions" -> qTwsSessions)

  /** Identical ground truth to q_stream_sessions: batch islands minus
    * sessions still open w.r.t. the final watermark. */
  val oracles: Map[String, String] = Map(
    "q_tws_sessions" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |), i AS (
        |  SELECT user_id, sid, min(ts) AS start_ts, max(ts) AS end_ts,
        |         count(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  strftime(start_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(end_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_last_event,
        |  n_events
        |FROM i
        |WHERE end_ts < (SELECT max(i2.end_ts) FROM i i2 WHERE i2.user_id = i.user_id)
        |   OR (epoch_us(end_ts) // 1000) + 3600000 <
        |      (SELECT max(epoch_us(ts)) // 1000 FROM events) - 3600000
        |ORDER BY user_id, session_start""".stripMargin)
}
