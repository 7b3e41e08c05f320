package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.io.Tables

/** Window functions beyond the reference's lone lag (ranking, frames,
  * rolling aggregates), the scalar string/date/math battery, JSON
  * extraction over `events.props`, time-bucketed event aggregation (the
  * batch twin of the streaming path), and pivot.
  *
  * All windows here are PARTITIONED (scale-safe); the only unpartitioned
  * window in the engine is the reference-parity one in ParityQueries,
  * kept deliberately (SURVEY.md §7.5).
  */
object AnalyticQueries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Ranking window: top-3 customers by balance per market segment.
    * row_number with a unique tiebreak (custkey) → deterministic. */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, d, "customer")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(3))
      .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_acctbal"))
      .orderBy("c_mktsegment", "rk")
  }

  /** Frame-spec window: 7-day rolling average + running total of daily
    * revenue (rowsBetween), partition-free ONLY because the series is
    * one row per day — at scale this would partition by asset/series.
    *
    * The RUNNING total accumulates in DECIMAL(30,8) (the q51
    * discipline): a double running sum diverges between engines at
    * sf1 magnitudes (~1e11) because Spark folds the frame
    * sequentially while DuckDB's windowed sum aggregates a segment
    * tree — same values, different addition order, 1-ulp drift that
    * round(…, 4) then exposes. Decimal addition is associative-exact,
    * so the running value is order-independent; rounded in the
    * decimal domain and cast once at output. */
  def qRolling(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    CoreQueries.dailyRevenue(s, d)
      .withColumn("avg7", round(avg(col("price")).over(w.rowsBetween(-6, 0)), 6))
      .withColumn("running",
        round(sum(col("price").cast(org.apache.spark.sql.types
            .DecimalType(30, 8)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
          .cast("double"))
      .select(col("day"), col("price"), col("avg7"), col("running"))
      .orderBy("day")
  }

  /** Top-2 orders per status via ranking + filter (per-group top-k:
    * the scalable pattern — no global sort, one shuffle on the
    * partition key). */
  def qTopPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, d, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(2))
      .select(col("o_orderstatus"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderstatus", "rk")
  }

  /** rank/dense_rank/lag/lead battery over per-nation supplier balances. */
  def qRankBattery(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    t(s, d, "supplier")
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag(col("s_suppkey"), 1).over(w).as("prev_supp"),
        lead(col("s_suppkey"), 1).over(w).as("next_supp"))
      .orderBy("s_nationkey", "rnk", "s_suppkey")
  }

  /** Scalar string/date/math battery (SURVEY.md §2.6 generalized). */
  def qScalarBattery(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .filter(col("o_orderkey") < lit(200L))
      .select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("status_up"),
        concat(col("o_orderpriority"), lit(":"), col("o_orderstatus")).as("pri_status"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        length(col("o_orderpriority")).as("pri_len"),
        regexp_replace(col("o_orderpriority"), "[0-9]-", "").as("pri_name"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        round(sqrt(col("o_totalprice")), 6).as("sqrt_price"),
        floor(col("o_totalprice")).as("floor_price"),
        ceil(col("o_totalprice")).as("ceil_price"),
        round(col("o_totalprice") % lit(1000.0), 2).as("mod_price"),
        abs(col("o_totalprice") - lit(100000.0)).as("abs_diff"))
      .orderBy("o_orderkey")

  private val propsSchema = StructType(Seq(StructField("k", IntegerType)))

  /** JSON extraction: schema'd from_json over events.props (SURVEY.md
    * §1.5 — nested types enter via the extensions). */
  def qFromJson(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k").cast("long")).as("sum_k"),
           (Q.dsum(col("value")) / count(col("value"))).as("avg_value"))
      .orderBy("event_type")

  /** Time-bucketed aggregation over events — the batch twin of the
    * streaming tumbling window (timestamps leave as strings for
    * cross-engine parquet parity). */
  def qEventsHourly(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")

  /** Daily active users per event type — date bucket + exact distinct. */
  def qEventsDaily(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("dau"), count(lit(1)).as("n"))
      .orderBy("day", "event_type")

  /** Pivot: order counts per priority × status (in-engine equivalent of
    * the reference's ticker→column pivot, SURVEY.md §2 S2). */
  def qPivotStatus(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_rank"   -> qWindowRank,
    "q_rolling"       -> qRolling,
    "q_top_per_group" -> qTopPerGroup,
    "q_rank_battery"  -> qRankBattery,
    "q_scalar_battery"-> qScalarBattery,
    "q_from_json"     -> qFromJson,
    "q_events_hourly" -> qEventsHourly,
    "q_events_daily"  -> qEventsDaily,
    "q_pivot_status"  -> qPivotStatus)

  val oracles: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         CAST(row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
        |  FROM customer)
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,
    "q_rolling" ->
      s"""WITH daily AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day, ${Q.DSUM(Q.REVENUE)} AS price
         |  FROM lineitem GROUP BY 1)
         |SELECT day, price,
         |  round(avg(price) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg7,
         |  CAST(CAST(round(sum(CAST(price AS DECIMAL(30,8))) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS VARCHAR) AS DOUBLE) AS running
         |FROM daily ORDER BY day""".stripMargin,
    "q_top_per_group" ->
      """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM orders)
        |WHERE rk <= 2 ORDER BY o_orderstatus, rk""".stripMargin,
    "q_rank_battery" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  lag(s_suppkey, 1) OVER w AS prev_supp,
        |  lead(s_suppkey, 1) OVER w AS next_supp
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin,
    "q_scalar_battery" ->
      """SELECT o_orderkey,
        |  upper(o_orderstatus) AS status_up,
        |  concat(o_orderpriority, ':', o_orderstatus) AS pri_status,
        |  substr(o_orderpriority, 1, 1) AS pri_code,
        |  CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
        |  regexp_replace(o_orderpriority, '[0-9]-', '', 'g') AS pri_name,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  round(sqrt(o_totalprice), 6) AS sqrt_price,
        |  CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
        |  round(fmod(o_totalprice, 1000.0), 2) AS mod_price,
        |  abs(o_totalprice - 100000.0) AS abs_diff
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q_from_json" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS BIGINT) AS sum_k,
         |  ${Q.DSUM("value")} / count("value") AS avg_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, count(*) AS n, ${Q.DSUM("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  count(DISTINCT user_id) AS dau, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
