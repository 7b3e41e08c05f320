package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-8 wave 36 — gaps-and-islands + concentration analytics:
  *
  *  - `q_streaks`: longest consecutive-day activity streak per user,
  *    reported as a streak-length histogram. The classic
  *    islands-and-gaps reduction: `day − row_number()` is constant
  *    exactly within a consecutive run, so one window + one groupBy
  *    finds every island without self-joins — per-user windows
  *    parallelize by user, and the input is deduplicated user-days.
  *  - `q_pareto_share`: revenue concentration per market segment —
  *    the share of segment revenue held by the top decile of its
  *    customers (the 80/20 audit next to `q_gini`'s single number).
  *    Customers ranked by exact integer cents; the decile cut
  *    ceil(n/10) and both sums are integers; one double division at
  *    the end.
  */
object Wave36Queries extends QueryModule {

  def qStreaks(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.load(s, d, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = ud
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
    val best = islands.groupBy("user_id").agg(max("len").as("best"))
    best.groupBy(col("best").as("streak_len"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("streak_len")
  }

  def qParetoShare(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.load(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("x"))
      .join(Tables.load(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
        col("x"))
    val w = Window.partitionBy("seg").orderBy(col("x").desc, col("ck"))
    val ranked = spend.withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
    ranked.groupBy(col("seg").as("c_mktsegment"))
      .agg(max("n").as("n_customers"),
        sum((col("r") * 10 <= col("n")).cast("long")).as("n_top"),
        sum("x").as("total_cents"),
        sum(when(col("r") * 10 <= col("n"), col("x")).otherwise(0L))
          .as("top_cents"))
      .select(col("c_mktsegment"), col("n_customers"), col("n_top"),
        col("total_cents"),
        (col("top_cents").cast("double") / col("total_cents").cast("double"))
          .as("top_decile_share"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_streaks" -> qStreaks,
    "q_pareto_share" -> qParetoShare)

  val oracles: Map[String, String] = Map(
    "q_streaks" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |isl AS (
         |  SELECT user_id,
         |    day - CAST(row_number() OVER
         |      (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
         |  FROM ud),
         |lens AS (SELECT user_id, count(*) AS len
         |  FROM isl GROUP BY user_id, grp),
         |best AS (SELECT user_id, max(len) AS best FROM lens GROUP BY 1)
         |SELECT best AS streak_len, count(*) AS n_users
         |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pareto_share" ->
      s"""WITH spend AS (
         |  SELECT c_mktsegment AS seg, c_custkey AS ck,
         |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |r AS (SELECT seg, x,
         |    row_number() OVER (PARTITION BY seg ORDER BY x DESC, ck) AS rk,
         |    count(*) OVER (PARTITION BY seg) AS n
         |  FROM spend)
         |SELECT seg AS c_mktsegment,
         |  CAST(max(n) AS BIGINT) AS n_customers,
         |  CAST(sum(CASE WHEN rk * 10 <= n THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_top,
         |  CAST(sum(x) AS BIGINT) AS total_cents,
         |  CAST(sum(CASE WHEN rk * 10 <= n THEN x ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(x) AS DOUBLE) AS top_decile_share
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
}
