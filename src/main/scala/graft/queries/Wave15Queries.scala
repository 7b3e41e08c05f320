package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-7 wave 15 — temporal-dimension correctness and multi-step
  * behavioral analytics:
  *
  *  - `q_temporal_join`: events joined to the SCD-2 dimension version
  *    VALID AT EVENT TIME — the warehouse op that makes slowly-changing
  *    attributes trustworthy in fact rollups. Executed as the scalable
  *    union+window as-of shape (one shuffle on the key, no inequality
  *    join, no history broadcast).
  *  - `q_funnel_steps`: a timed three-step funnel (signup → click ≤ 3 d
  *    → purchase ≤ 3 d) computed from associative min-folds only, so
  *    the result is layout-independent by construction.
  */
object Wave15Queries extends QueryModule {

  // ---- temporal (as-of) dimension join ----

  /** The SCD-2 history `q_scd2` builds (customer priority versions from
    * their order stream), joined temporally: each event takes the
    * priority whose validity covers the event's day — implemented as
    * last-version-start-wins via ONE window over the union of history
    * starts and events, partitioned by the key. Ordering is
    * (day, tag, version) with history before events on ties, version
    * breaking same-day version chains — every tie deterministic in
    * both engines (no NULL-ordering reliance: events carry version 0).
    * Events before any version, or for users with no order history,
    * land in 'none'. One shuffle on the key — the as-of shape that
    * survives any history size. */
  def qTemporalJoin(s: SparkSession, d: String): DataFrame = {
    val byOrder = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val marked = Tables.load(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("chg",
        when(lag(col("o_orderpriority"), 1).over(byOrder)
          === col("o_orderpriority"), lit(0)).otherwise(lit(1)))
      .withColumn("version", sum(col("chg")).over(byOrder))
    val hist = marked
      .groupBy("o_custkey", "version", "o_orderpriority")
      .agg(min(to_date(col("o_orderdate"))).as("day"))
      .select(col("o_custkey").as("custkey"), col("day"),
        lit(0).as("tag"), col("version"),
        col("o_orderpriority").as("priority"))
    val ev = Tables.load(s, d, "events")
      .select(col("user_id").as("custkey"), to_date(col("ts")).as("day"),
        lit(1).as("tag"), lit(0L).as("version"),
        lit(null).cast("string").as("priority"))
    val w = Window.partitionBy("custkey")
      .orderBy(col("day"), col("tag"), col("version"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.unionByName(ev)
      .withColumn("pr", last(when(col("tag") === 0, col("priority")),
        ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .groupBy(coalesce(col("pr"), lit("none")).as("priority"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("custkey")).as("n_users"))
      .orderBy("priority")
  }

  // ---- timed multi-step funnel ----

  private val stepDays = 3

  /** Signup → first click within 3 days → first purchase within 3 days
    * OF THAT CLICK, per user, then one summary row. Every step is a
    * MIN over a filtered equi-join (first qualifying event), so the
    * whole funnel is an associative fold — deterministic on any
    * layout, and each step costs one user-keyed shuffle. */
  def qFunnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    def firstOf(t: String): DataFrame = ev
      .filter(col("event_type") === t)
      .groupBy("user_id").agg(min(col("ts")).as(s"${t}_ts"))
    val horizon = expr(s"INTERVAL $stepDays DAYS")
    val s0 = firstOf("signup")
    val c1 = ev.filter(col("event_type") === "click")
      .join(s0, "user_id")
      .filter(col("ts") >= col("signup_ts") &&
        col("ts") <= col("signup_ts") + horizon)
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val p2 = ev.filter(col("event_type") === "purchase")
      .join(c1, "user_id")
      .filter(col("ts") >= col("click_ts") &&
        col("ts") <= col("click_ts") + horizon)
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    val n0 = s0.count(); val n1 = c1.count(); val n2 = p2.count()
    import s.implicits._
    // rates rounded by the ENGINE's round (HALF_UP, same as DuckDB's) —
    // a driver-side rint would round half-to-even and could diverge
    Seq((n0, n1, n2)).toDF("n_signup", "n_click_3d", "n_purchase_3d")
      .withColumn("step2_rate",
        round(col("n_click_3d").cast("double") / col("n_signup"), 6))
      .withColumn("step3_rate",
        round(col("n_purchase_3d").cast("double")
          / greatest(col("n_click_3d"), lit(1L)), 6))
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_temporal_join" -> qTemporalJoin,
    "q_funnel_steps"  -> qFunnelSteps)

  val oracles: Map[String, String] = Map(
    "q_temporal_join" ->
      """WITH marked AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    CASE WHEN lag(o_orderpriority) OVER w = o_orderpriority
        |         THEN 0 ELSE 1 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)
        |), ver AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS version
        |  FROM marked
        |), hist AS (
        |  SELECT o_custkey AS custkey,
        |    min(CAST(o_orderdate AS DATE)) AS day,
        |    0 AS tag, version, o_orderpriority AS priority
        |  FROM ver GROUP BY o_custkey, version, o_orderpriority
        |), ev AS (
        |  SELECT user_id AS custkey, CAST(ts AS DATE) AS day,
        |    1 AS tag, CAST(0 AS BIGINT) AS version,
        |    CAST(NULL AS VARCHAR) AS priority
        |  FROM events
        |), u AS (
        |  SELECT * FROM hist UNION ALL SELECT * FROM ev
        |), lv AS (
        |  SELECT *, last_value(CASE WHEN tag = 0 THEN priority END
        |      IGNORE NULLS) OVER (PARTITION BY custkey
        |      ORDER BY day, tag, version
        |      ROWS UNBOUNDED PRECEDING) AS pr
        |  FROM u
        |)
        |SELECT coalesce(pr, 'none') AS priority,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT custkey) AS BIGINT) AS n_users
        |FROM lv WHERE tag = 1
        |GROUP BY 1 ORDER BY priority""".stripMargin,
    "q_funnel_steps" ->
      s"""WITH s0 AS (
         |  SELECT user_id, min(ts) AS signup_ts FROM events
         |  WHERE event_type = 'signup' GROUP BY user_id
         |), c1 AS (
         |  SELECT e.user_id, min(e.ts) AS click_ts
         |  FROM events e JOIN s0 USING (user_id)
         |  WHERE e.event_type = 'click'
         |    AND e.ts >= s0.signup_ts
         |    AND e.ts <= s0.signup_ts + INTERVAL $stepDays DAY
         |  GROUP BY e.user_id
         |), p2 AS (
         |  SELECT e.user_id, min(e.ts) AS purchase_ts
         |  FROM events e JOIN c1 USING (user_id)
         |  WHERE e.event_type = 'purchase'
         |    AND e.ts >= c1.click_ts
         |    AND e.ts <= c1.click_ts + INTERVAL $stepDays DAY
         |  GROUP BY e.user_id
         |)
         |SELECT (SELECT count(*) FROM s0) AS n_signup,
         |  (SELECT count(*) FROM c1) AS n_click_3d,
         |  (SELECT count(*) FROM p2) AS n_purchase_3d,
         |  round((SELECT count(*) FROM c1)
         |    / CAST((SELECT count(*) FROM s0) AS DOUBLE), 6) AS step2_rate,
         |  round((SELECT count(*) FROM p2)
         |    / CAST(greatest((SELECT count(*) FROM c1), 1) AS DOUBLE), 6)
         |    AS step3_rate""".stripMargin)
}
