package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Events

/** Round-8 wave 27 — CHAINED stateful streaming operators:
  *
  *  - `q_stream_cascade`: 10-minute tumbling aggregation → 1-hour
  *    re-aggregation over the sub-windows, both stateful, in ONE
  *    append-mode streaming query ([[Events.cascadedWindows]]). The
  *    multi-resolution rollup every metrics pipeline runs — fine tier
  *    shuffles event volume once, coarse tier consumes the sub-window
  *    stream. The oracle recomputes both tiers in SQL and applies the
  *    append-mode emission rule (hour end ≤ final watermark).
  */
object Wave27Queries extends QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_cascade" -> ((s, d) => Events.cascadedWindows(s, d)))

  val oracles: Map[String, String] = Map(
    "q_stream_cascade" ->
      s"""WITH wm AS (SELECT (epoch_us(max(ts)) // 1000) - 3600000 AS ms
         |  FROM events),
         |sub AS (
         |  SELECT (epoch_us(ts) // 1000000) // 600 * 600 AS w10, event_type,
         |    count(*) AS n10, sum(CAST(value AS DECIMAL(30,8))) AS v10
         |  FROM events GROUP BY 1, 2),
         |hr AS (
         |  SELECT (w10 // 3600) * 3600 AS h, event_type,
         |    count(*) AS n_sub, CAST(sum(n10) AS BIGINT) AS n_total,
         |    CAST(max(n10) AS BIGINT) AS max10,
         |    CAST(CAST(sum(v10) AS VARCHAR) AS DOUBLE) AS total_value
         |  FROM sub GROUP BY 1, 2)
         |SELECT strftime(make_timestamp(h * 1000000),
         |    '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, n_sub, n_total, max10, total_value
         |FROM hr
         |WHERE (h + 3600) * 1000 <= (SELECT ms FROM wm)
         |ORDER BY hour, event_type""".stripMargin)
}
