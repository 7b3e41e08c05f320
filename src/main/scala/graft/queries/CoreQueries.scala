package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Returns

/** Reference-parity core queries: the daily-returns pipeline of
  * `controller/script.py` transplanted onto the driver's test data
  * (SURVEY.md §7.2 flagship slice). The reference's price series maps to
  * per-day `lineitem` revenue: `day = to_date(l_shipdate)`,
  * `price = sum(l_extendedprice * (1 - l_discount))`; then the reference
  * semantics (null-fill, range filter, lag window, pct-change, global avg)
  * apply verbatim.
  *
  * Oracle-safety conventions used by EVERY query in this engine:
  * deterministic total ORDER BY in both engines; doubles rounded on
  * output; no raw timestamp columns in output (dates/strings only);
  * divisions guarded with nullif on both sides.
  */
object CoreQueries extends QueryModule {

  val from = "1996-01-01"
  val to   = "1997-12-31"

  /** Per-day lineitem revenue — the "price" series (ref wide table analog,
    * `controller/app.py:264`). One shuffle (groupBy day); partial
    * aggregation is map-side so the shuffle carries one row per day per
    * task, not raw lineitems. */
  def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(Q.dsum(Q.revenue).as("price"))

  /** Flagship: daily percentage returns of the revenue series
    * (ref `controller/script.py:33-50`). */
  def dailyReturns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    dailyRevenue(spark, dir)
      .na.fill(0.0)
      .filter(col("day") >= lit(from) && col("day") <= lit(to))
      .withColumn("ret", round(Returns.pctChange(col("price"), w), 6))
      .select(col("day"), col("price"), col("ret"))
      .orderBy(col("day"))
  }

  /** Global average return — the reference's 1-row aggregate
    * (ref `controller/script.py:96-99`); `avg` skips the NULL first row. */
  def avgReturn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    dailyRevenue(spark, dir)
      .filter(col("day") >= lit(from) && col("day") <= lit(to))
      .withColumn("ret", Returns.pctChange(col("price"), w))
      .agg(round(avg(col("ret")), 6).as("media_ret"),
           count(lit(1)).as("n_days"))
  }

  /** Scale-path variant: returns partitioned by asset over a long-format
    * series (asset = l_returnflag for test purposes) — demonstrates the
    * partitioned window that replaces the reference's single-partition
    * global window at 100 TB (SURVEY.md §7.5). */
  def dailyReturnsByFlag(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("asset"), to_date(col("l_shipdate")).as("day"))
      .agg(Q.dsum(Q.revenue).as("price"))
    Returns.dailyReturnsLong(daily, "asset", "day", "price")
      .select(col("asset"), col("day"), col("price"),
              round(col("ret"), 6).as("ret"))
      .orderBy(col("asset"), col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_daily_returns"   -> dailyReturns,
    "q_avg_return"      -> avgReturn,
    "q_returns_by_flag" -> dailyReturnsByFlag)

  private val DAILY =
    s"""SELECT CAST(l_shipdate AS DATE) AS day,
       |       ${Q.DSUM(Q.REVENUE)} AS price
       |FROM lineitem GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_daily_returns" ->
      s"""WITH daily AS ($DAILY)
         |SELECT day, price,
         |       round((price / NULLIF(lag(price) OVER (ORDER BY day), 0) - 1) * 100, 6) AS ret
         |FROM daily
         |WHERE day BETWEEN DATE '$from' AND DATE '$to'
         |ORDER BY day""".stripMargin,
    "q_avg_return" ->
      s"""WITH daily AS ($DAILY), rets AS (
         |  SELECT (price / NULLIF(lag(price) OVER (ORDER BY day), 0) - 1) * 100 AS ret
         |  FROM daily
         |  WHERE day BETWEEN DATE '$from' AND DATE '$to'
         |)
         |SELECT round(avg(ret), 6) AS media_ret, count(*) AS n_days FROM rets""".stripMargin,
    "q_returns_by_flag" ->
      s"""WITH daily AS (
         |  SELECT l_returnflag AS asset, CAST(l_shipdate AS DATE) AS day,
         |         ${Q.DSUM(Q.REVENUE)} AS price
         |  FROM lineitem GROUP BY 1, 2
         |)
         |SELECT asset, day, price,
         |       round((price / NULLIF(lag(price) OVER (PARTITION BY asset ORDER BY day), 0) - 1) * 100, 6) AS ret
         |FROM daily
         |ORDER BY asset, day""".stripMargin)
}
