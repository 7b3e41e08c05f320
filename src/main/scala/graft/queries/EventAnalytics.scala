package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Product/event analytics over the events table: strictly-ordered
  * conversion funnels and day-offset retention — the query shapes a
  * behavioral-analytics workload adds on top of the time-window
  * aggregations. Both reduce to joins over per-user minima, so they
  * shuffle on user_id once per stage and never materialize event lists.
  */
object EventAnalytics extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Strict view → click → purchase funnel: each stage's timestamp must
    * exceed the previous stage's first occurrence. One row with the
    * stage survivor counts. */
  private val FUNNEL_SQL =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_then_click,
      |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin

  def qFunnel(s: SparkSession, d: String): DataFrame = {
    t(s, d, "events").createOrReplaceTempView("events")
    s.sql(FUNNEL_SQL)
  }

  /** Day-offset retention: users active N days after their first-seen
    * day (classic cohort curve, offsets 0-29). */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d0"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    active.join(first, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("d0")))
      .filter(col("day_offset").between(0, 29))
      .groupBy("day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("day_offset")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel"    -> qFunnel,
    "q_retention" -> qRetention)

  val oracles: Map[String, String] = Map(
    "q_funnel" -> FUNNEL_SQL,
    "q_retention" ->
      """WITH first AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT CAST(date_diff('day', d0, day) AS INTEGER) AS day_offset,
        |       count(DISTINCT act.user_id) AS n_users
        |FROM act JOIN first ON act.user_id = first.user_id
        |WHERE date_diff('day', d0, day) BETWEEN 0 AND 29
        |GROUP BY 1 ORDER BY day_offset""".stripMargin)
}
