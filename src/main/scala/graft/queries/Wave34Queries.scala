package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-8 wave 34 — user-activity accounting over event streams:
  *
  *  - `q_rolling_dau`: exact trailing-7-day distinct users per day
  *    (DAU/WAU and stickiness). Exact sliding DISTINCT doesn't
  *    decompose like a sum, so the scalable shape is contribution
  *    expansion: each (user, day) pair — already deduplicated, so the
  *    expansion factor applies to unique pairs, not raw events —
  *    contributes to the 7 window anchors it can serve, then one
  *    distinct count per anchor. Shuffle volume = 7 × unique
  *    user-days, independent of raw event volume (the q_sliding_windows
  *    offset-explode discipline, lifted to COUNT DISTINCT).
  *  - `q_growth_accounting`: the standard growth ledger — per
  *    week: new (first-ever week), retained (active this week and
  *    last), resurrected (active this week, inactive last, not new),
  *    churned (active last week, gone this week; the corpus spans
  *    weeks, so every class is exercised) — via one
  *    (user, week) dedup + a self-join on adjacent weeks + a
  *    first-week minimum. All integers; the invariant
  *    `active = new + retained + resurrected` is part of the output.
  */
object Wave34Queries extends QueryModule {

  def qRollingDau(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.load(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val span = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val anchors = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("o"),
        col("day"))
      .select(col("user_id"), date_add(col("day"), col("o")).as("day"))
    val dau7 = anchors.crossJoin(broadcast(span))
      .filter(col("day") <= col("hi"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("dau7"))
    val dau1 = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau1"))
    dau1.join(dau7, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau1"), col("dau7"),
        (col("dau1").cast("double") / col("dau7").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val um = Tables.load(s, d, "events")
      .select(col("user_id"), trunc(to_date(col("ts")), "week").as("m"))
      .distinct()
    val first = um.groupBy("user_id").agg(min(col("m")).as("first_m"))
    val prev = um.select(col("user_id"), date_add(col("m"), 7).as("m"),
      lit(1).as("was_prev"))
    val classified = um.join(first, "user_id")
      .join(prev, Seq("user_id", "m"), "left")
      .select(col("m"),
        (col("m") === col("first_m")).cast("long").as("is_new"),
        (col("m") =!= col("first_m") && col("was_prev").isNotNull)
          .cast("long").as("is_retained"),
        (col("m") =!= col("first_m") && col("was_prev").isNull)
          .cast("long").as("is_resurrected"))
      .groupBy("m")
      .agg(count(lit(1)).as("active"), sum("is_new").as("new_users"),
        sum("is_retained").as("retained"),
        sum("is_resurrected").as("resurrected"))
    val churned = um.select(col("user_id"), date_add(col("m"), 7).as("m"))
      .join(um.withColumn("here", lit(1)), Seq("user_id", "m"), "left")
      .filter(col("here").isNull)
      .groupBy("m").agg(count(lit(1)).as("churned"))
    val span = um.agg(max(col("m")).as("hi"))
    classified.join(churned, Seq("m"), "left")
      .crossJoin(broadcast(span))
      .filter(col("m") <= col("hi"))
      .select(date_format(col("m"), "yyyy-MM-dd").as("week"),
        col("active"), col("new_users"), col("retained"),
        col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"),
        (col("active") === col("new_users") + col("retained") +
          col("resurrected")).cast("int").as("ok"))
      .orderBy("week")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rolling_dau" -> qRollingDau,
    "q_growth_accounting" -> qGrowthAccounting)

  val oracles: Map[String, String] = Map(
    "q_rolling_dau" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |span AS (SELECT max(day) AS hi FROM ud),
         |anchors AS (
         |  SELECT user_id, day + o AS day
         |  FROM ud, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o)),
         |d7 AS (SELECT day, count(DISTINCT user_id) AS dau7
         |  FROM anchors WHERE day <= (SELECT hi FROM span) GROUP BY day),
         |d1 AS (SELECT day, count(DISTINCT user_id) AS dau1
         |  FROM ud GROUP BY day)
         |SELECT strftime(d1.day, '%Y-%m-%d') AS day, dau1, dau7,
         |  CAST(dau1 AS DOUBLE) / CAST(dau7 AS DOUBLE) AS stickiness
         |FROM d1 JOIN d7 ON d7.day = d1.day
         |ORDER BY day""".stripMargin,
    "q_growth_accounting" ->
      s"""WITH um AS (
         |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS m
         |  FROM events),
         |f AS (SELECT user_id, min(m) AS first_m FROM um GROUP BY 1),
         |cls AS (
         |  SELECT um.m,
         |    CASE WHEN um.m = f.first_m THEN 1 ELSE 0 END AS is_new,
         |    CASE WHEN um.m <> f.first_m AND p.user_id IS NOT NULL
         |      THEN 1 ELSE 0 END AS is_retained,
         |    CASE WHEN um.m <> f.first_m AND p.user_id IS NULL
         |      THEN 1 ELSE 0 END AS is_resurrected
         |  FROM um JOIN f ON f.user_id = um.user_id
         |  LEFT JOIN um p ON p.user_id = um.user_id
         |    AND p.m + 7 = um.m),
         |agg AS (
         |  SELECT m, count(*) AS active,
         |    CAST(sum(is_new) AS BIGINT) AS new_users,
         |    CAST(sum(is_retained) AS BIGINT) AS retained,
         |    CAST(sum(is_resurrected) AS BIGINT) AS resurrected
         |  FROM cls GROUP BY m),
         |ch AS (
         |  SELECT a.m + 7 AS m, count(*) AS churned
         |  FROM um a LEFT JOIN um b ON b.user_id = a.user_id
         |    AND b.m = a.m + 7
         |  WHERE b.user_id IS NULL GROUP BY 1),
         |span AS (SELECT max(m) AS hi FROM um)
         |SELECT strftime(agg.m, '%Y-%m-%d') AS week, active, new_users,
         |  retained, resurrected,
         |  CAST(coalesce(ch.churned, 0) AS BIGINT) AS churned,
         |  CAST(active = new_users + retained + resurrected AS INTEGER)
         |    AS ok
         |FROM agg LEFT JOIN ch ON ch.m = agg.m
         |WHERE agg.m <= (SELECT hi FROM span)
         |ORDER BY week""".stripMargin)
}
