package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Events

/** Round-8 wave 37 — native merging-session windows:
  *
  *  - `q_session_native`: the BUILT-IN `session_window` streaming
  *    aggregation ([[Events.nativeSessions]]) — same 1-hour-gap
  *    session semantics as `q_stream_sessions` (FMGWS),
  *    `q_tws_sessions` (transformWithState timers), and
  *    `q_session_windows` (batch SQL), here through Spark's native
  *    session-merging state store. Append mode emits exactly the
  *    sessions whose end (last event + gap) cleared the final
  *    watermark — the oracle replays the gap-islands construction and
  *    that emission rule.
  */
object Wave37Queries extends QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_session_native" -> ((s, d) => Events.nativeSessions(s, d)))

  val oracles: Map[String, String] = Map(
    "q_session_native" ->
      s"""WITH m AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
         |      THEN 1 ELSE 0 END AS new_s
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
         |  FROM s GROUP BY user_id, sid),
         |wm AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS ms
         |       FROM events)
         |SELECT user_id,
         |  strftime(start_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         |  strftime(end_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_last_event,
         |  n_events
         |FROM i
         |WHERE (epoch_us(end_ts) // 1000) + 3600000 <= (SELECT ms FROM wm)
         |ORDER BY user_id, session_start""".stripMargin)
}
