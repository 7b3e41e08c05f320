package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.Events

/** Streaming + advanced time-window queries (SURVEY.md §7.3 step 5).
  * `q_stream_hourly` executes a REAL readStream→writeStream pipeline
  * (AvailableNow replay, memory sink); its oracle is the plain batch SQL
  * — streaming and batch must agree on bounded input. Sliding and
  * session windows run in batch mode (same `window`/`session_window`
  * expressions Structured Streaming uses).
  */
object StreamingQueries extends QueryModule {

  def qStreamHourly(s: SparkSession, d: String): DataFrame =
    Events.hourlyByType(s, d)

  /** Sliding window: 2-hour windows every hour — each event lands in 2
    * windows. */
  def qSlidingWindows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
              col("event_type"), col("n"), col("total_value"))
      .orderBy("win_start", "event_type")

  /** Session windows per user: sessions close after a 1-hour silence
    * (session end = last event + gap, Spark semantics). */
  def qSessionWindows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("session_value"))
      .select(col("user_id"),
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
              date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
              col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")

  /** Custom state machine via mapGroupsWithState (see
    * [[graft.streaming.Events.statefulUserTotals]]). */
  def qStatefulTotals(s: SparkSession, d: String): DataFrame =
    Events.statefulUserTotals(s, d)

  def qStreamDedup(s: SparkSession, d: String): DataFrame =
    Events.dedupCountsByType(s, d)

  /** flatMapGroupsWithState sessionization (multi-row state output). */
  def qFmgwsSessions(s: SparkSession, d: String): DataFrame =
    Events.fmgwsSessions(s, d, Tables.load(s, d, "events"))

  /** STREAMING sessionization with an event-time timeout (bounded
    * state): emits sessions closed by data or by watermark timeout;
    * each user's still-open tail session stays in state. The oracle is
    * the batch islands SQL restricted to closed sessions, with Spark's
    * millisecond-floored watermark arithmetic mirrored exactly. */
  def qStreamSessions(s: SparkSession, d: String): DataFrame =
    Events.streamingSessions(s, d)

  /** Stream-stream interval join (clicks × same-user errors ≤10 min
    * later), watermarked both sides; oracle is the batch join. */
  def qStreamJoin(s: SparkSession, d: String): DataFrame =
    Events.clickErrorPairs(s, d)

  /** LEFT OUTER stream-stream interval join: matched pairs inner-style,
    * unmatched clicks emitted with a null error once the watermark
    * evicts them (see [[Events.clickErrorPairsOuter]]). */
  def qStreamJoinOuter(s: SparkSession, d: String): DataFrame =
    Events.clickErrorPairsOuter(s, d)

  /** Watermark late-data drop proof (see
    * [[Events.hourlyWithLateReplay]]): history replayed AFTER newer
    * data is provably dropped, emitted windows bounded by the final
    * watermark. */
  def qLateData(s: SparkSession, d: String): DataFrame =
    Events.hourlyWithLateReplay(s, d, cut = "2024-01-20 00:00:00")

  /** Stream-static broadcast enrichment + aggregation. */
  def qStreamEnrich(s: SparkSession, d: String): DataFrame =
    Events.enrichedSegmentTotals(s, d)

  /** Streaming ingest gate: stream-static anti join against the lake's
    * fingerprint set (see [[Events.streamingIngestGate]]); oracle is
    * the batch NOT EXISTS. */
  def qStreamIngest(s: SparkSession, d: String): DataFrame =
    Events.streamingIngestGate(s, d)

  /** [[Events.streamingBloomGate]]: the same admitted set computed via
    * the bounded-sketch prefilter (misses admitted map-side without a
    * join; hits exact-verified) — the gate shape that survives a lake
    * too big to broadcast. Same NOT EXISTS oracle as q_stream_ingest:
    * identical output through a different physical path IS the claim. */
  def qStreamBloom(s: SparkSession, d: String): DataFrame =
    Events.streamingBloomGate(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_enrich"    -> qStreamEnrich,
    "q_stream_ingest"    -> qStreamIngest,
    "q_stream_bloom"     -> qStreamBloom,
    "q_stream_join"      -> qStreamJoin,
    "q_stream_join_outer" -> qStreamJoinOuter,
    "q_late_data"        -> qLateData,
    "q_stream_sessions"  -> qStreamSessions,
    "q_fmgws_sessions"   -> qFmgwsSessions,
    "q_stream_dedup"     -> qStreamDedup,
    "q_stream_hourly"    -> qStreamHourly,
    "q_sliding_windows"  -> qSlidingWindows,
    "q_session_windows"  -> qSessionWindows,
    "q_stateful_totals"  -> qStatefulTotals)

  private val INGEST_SQL =
    s"""SELECT b.doc_id, b.source
       |FROM documents b
       |WHERE b.doc_id % 2 = 1 AND NOT EXISTS (
       |  SELECT 1 FROM documents c
       |  WHERE c.doc_id % 2 = 0
       |    AND ${graft.text.TextStats.FINGERPRINT("c.text")}
       |      = ${graft.text.TextStats.FINGERPRINT("b.text")})
       |ORDER BY b.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_stream_ingest" -> INGEST_SQL,
    "q_stream_bloom"  -> INGEST_SQL,
    "q_stream_enrich" ->
      s"""SELECT c_mktsegment, count(*) AS n_events,
         |  ${Q.DSUM("value")} AS total_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_join" ->
      """SELECT c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND c.event_type = 'click' AND e.event_type = 'error'
        | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c.user_id, click_ts, error_ts""".stripMargin,
    "q_stream_join_outer" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
        |wm AS (SELECT least(
        |    (SELECT max(epoch_us(ts)) // 1000 FROM c),
        |    (SELECT max(epoch_us(ts)) // 1000 FROM e)) - 3600000 AS ms),
        |pairs AS (
        |  SELECT c.user_id,
        |    strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |    strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts
        |  FROM c JOIN e ON c.user_id = e.user_id
        |    AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE),
        |lone AS (
        |  SELECT c.user_id,
        |    strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |    CAST(NULL AS VARCHAR) AS error_ts
        |  FROM c
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM e
        |      WHERE e.user_id = c.user_id
        |        AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE)
        |    AND (epoch_us(c.ts) // 1000) + 600000 < (SELECT ms FROM wm))
        |SELECT * FROM pairs
        |UNION ALL SELECT * FROM lone
        |ORDER BY user_id, click_ts, error_ts NULLS FIRST""".stripMargin,
    "q_late_data" ->
      s"""WITH recent AS (
         |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'),
         |wm AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS ms
         |       FROM recent),
         |agg AS (
         |  SELECT date_trunc('hour', ts) AS h, event_type,
         |    count(*) AS n, ${Q.DSUM("value")} AS total_value
         |  FROM recent GROUP BY 1, 2)
         |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n,
         |  total_value
         |FROM agg
         |WHERE (epoch_us(h) // 1000) + 3600000 <= (SELECT ms FROM wm)
         |ORDER BY hour, event_type""".stripMargin,
    "q_stream_sessions" ->
      s"""WITH m AS (
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
         |ORDER BY user_id, session_start""".stripMargin,
    "q_fmgws_sessions" ->
      s"""WITH m AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), s AS (
         |  SELECT user_id, ts,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_last_event,
         |  count(*) AS n_events
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n_unique
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stateful_totals" ->
      s"""SELECT user_id, count(*) AS n_events, ${Q.DSUM("value")} AS total_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, count(*) AS n, ${Q.DSUM("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_sliding_windows" ->
      s"""WITH x AS (
         |  SELECT date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS win_start,
         |         event_type, value
         |  FROM events, (SELECT unnest([0, 1]) AS o))
         |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
         |  event_type, count(*) AS n, ${Q.DSUM("value")} AS total_value
         |FROM x GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,
    "q_session_windows" ->
      s"""WITH m AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), s AS (
         |  SELECT user_id, ts, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         |  strftime(max(ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
         |  count(*) AS n_events, ${Q.DSUM("value")} AS session_value
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin)
}
