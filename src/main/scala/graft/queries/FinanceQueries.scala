package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Financial analytics beyond the reference's daily returns — the
  * operators a reporting engine in this domain is expected to ship:
  * volume-weighted and time-weighted averages, running peaks and maximum
  * drawdown. All are window/agg compositions over the exact decimal
  * revenue series, so they inherit the same order-independence
  * guarantees as the core queries.
  */
object FinanceQueries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** VWAP per returnflag: Σ(price·qty)/Σ(qty) with exact decimal sums. */
  def qVwap(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg((Q.dsum(col("l_extendedprice") * col("l_quantity")) /
            Q.dsum(col("l_quantity"))).as("vwap"),
           sum(col("l_quantity")).as("volume"))
      .orderBy("l_returnflag")

  /** TWAP of the daily revenue series: each day's price weighted by how
    * long it "held" (days until the next observation; last day weight 1).
    * Distinguishes correctly from the plain mean whenever the series has
    * gaps. */
  def qTwap(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    CoreQueries.dailyRevenue(s, d)
      .withColumn("held_days",
        coalesce(datediff(lead(col("day"), 1).over(w), col("day")), lit(1))
          .cast("double"))
      .agg(round(Q.dsum(col("price") * col("held_days")) /
                 Q.dsum(col("held_days")), 4).as("twap"),
           round(Q.dsum(col("price")) / count(lit(1)), 4).as("plain_mean"),
           count(lit(1)).as("n_days"))
  }

  /** Maximum drawdown of the cumulative-revenue "equity curve": running
    * peak via an unbounded-preceding max window, drawdown = value/peak−1,
    * reported as the worst point with its date. */
  def qDrawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    val curve = CoreQueries.dailyRevenue(s, d)
      .withColumn("equity",
        sum(col("price").cast(org.apache.spark.sql.types.DecimalType(30, 8)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .withColumn("peak", max(col("equity")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dd", round(col("equity") / col("peak") - lit(1.0), 8))
    curve.orderBy(col("dd").asc, col("day").asc).limit(1)
      .select(col("day").as("worst_day"), round(col("equity"), 4).as("equity"),
              round(col("peak"), 4).as("peak"), col("dd").as("max_drawdown"))
  }

  /** 30-day rolling volatility (sample stddev of daily returns) —
    * the risk column every returns report carries. */
  def qRollingVol(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    CoreQueries.dailyRevenue(s, d)
      .withColumn("ret", graft.ops.Returns.pctChange(col("price"), w))
      .withColumn("vol30", round(stddev_samp(col("ret"))
        .over(w.rowsBetween(-29, 0)), 6))
      .filter(col("day") >= lit("1996-01-01") && col("day") <= lit("1996-06-30"))
      .select(col("day"), round(col("ret"), 6).as("ret"), col("vol30"))
      .orderBy("day")
  }

  /** Beta of the 'R' flag's daily return series against 'A' (slope =
    * cov/var) plus their correlation — the cross-series risk measure.
    *
    * ONE lineitem pass: flags filtered before the aggregation, and the
    * A/R series are aligned by pivoting the (flag, day) returns wide
    * instead of self-joining two separately aggregated branches (which
    * scanned and aggregated lineitem twice). The pivot's shuffle carries
    * only daily-cardinality rows. */
  def qBeta(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "lineitem")
      .filter(col("l_returnflag").isin("A", "R"))
      .groupBy(col("l_returnflag").as("flag"), to_date(col("l_shipdate")).as("day"))
      .agg(Q.dsum(Q.revenue).as("price"))
    val w = Window.partitionBy(col("flag")).orderBy(col("day"))
    val rets = daily
      .withColumn("ret", graft.ops.Returns.pctChange(col("price"), w))
      .filter(col("ret").isNotNull)
    rets.groupBy("day")
      .pivot("flag", Seq("A", "R")).agg(first(col("ret")))
      .filter(col("A").isNotNull && col("R").isNotNull)
      .agg(round(covar_samp(col("R"), col("A")) / var_samp(col("A")), 6).as("beta"),
           round(corr(col("R"), col("A")), 6).as("correlation"),
           count(lit(1)).as("n_days"))
  }

  /** Month-over-month revenue growth. */
  def qMomGrowth(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    t(s, d, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(Q.dsum(Q.revenue).as("revenue"))
      .withColumn("mom_pct", round((col("revenue") /
        nullif(lag(col("revenue"), 1).over(w), lit(0.0)) - 1) * 100, 6))
      .orderBy("month")
  }

  /** Weekday seasonality of revenue (classic calendar-effect report).
    *
    * Two-level aggregation: per-day partials first (decimal-EXACT, so
    * re-summing per dow is bit-identical to a one-shot sum), then 7
    * groups of daily rows. Avoids countDistinct-inside-agg, whose
    * expand+two-phase plan re-shuffles every lineitem row at 100 TB;
    * here the distinct-day count is a plain count over pre-distinct
    * daily rows. */
  def qWeekdaySeasonality(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = t(s, d, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Q.revenue.cast(DecimalType(30, 8))).as("day_rev"),
           count(lit(1)).as("n_items"))
    daily.groupBy(dayofweek(col("day")).as("dow"))
      .agg((sum(col("day_rev")).cast("double") / count(lit(1))).as("avg_daily_revenue"),
           sum(col("n_items")).as("n_items"))
      .orderBy("dow")
  }

  /** Distribution of daily returns in 1-percentage-point buckets —
    * the histogram behind a returns risk report. */
  def qReturnHistogram(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    CoreQueries.dailyRevenue(s, d)
      .withColumn("ret", graft.ops.Returns.pctChange(col("price"), w))
      .filter(col("ret").isNotNull)
      .withColumn("bucket",
        greatest(least(floor(col("ret") / lit(10.0)) * 10, lit(90.0)), lit(-100.0))
          .cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n_days"))
      .orderBy("bucket")
  }

  /** Anomalous-return days: |return − mean| > 2σ (global stats joined
    * back — the broadcastable two-pass anomaly pattern). */
  def qAnomalyDays(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    val rets = CoreQueries.dailyRevenue(s, d)
      .withColumn("ret", graft.ops.Returns.pctChange(col("price"), w))
      .filter(col("ret").isNotNull)
    val stats = rets.agg(avg(col("ret")).as("mu"), stddev_samp(col("ret")).as("sigma"))
    rets.crossJoin(broadcast(stats))
      .filter(abs(col("ret") - col("mu")) > col("sigma") * 2)
      .select(col("day"), round(col("ret"), 6).as("ret"),
              round((col("ret") - col("mu")) / col("sigma"), 4).as("z"))
      .orderBy("day")
  }

  /** Revenue concentration by customer decile (the 80/20 report):
    * decile 1 = top spenders; share of total revenue per decile. */
  def qRevenueDeciles(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(Q.dsum(col("o_totalprice")).as("spend"))
    val w = Window.orderBy(col("spend").desc, col("o_custkey"))
    spend.withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), Q.dsum(col("spend")).as("decile_spend"))
      .withColumn("share", round(col("decile_spend") /
        sum(col("decile_spend").cast(org.apache.spark.sql.types.DecimalType(30, 8)))
          .over(Window.partitionBy()).cast("double"), 6))
      .select(col("decile"), col("n_customers"), col("decile_spend"), col("share"))
      .orderBy("decile")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anomaly_days"        -> qAnomalyDays,
    "q_revenue_deciles"     -> qRevenueDeciles,
    "q_weekday_seasonality" -> qWeekdaySeasonality,
    "q_return_histogram"    -> qReturnHistogram,
    "q_vwap"        -> qVwap,
    "q_twap"        -> qTwap,
    "q_drawdown"    -> qDrawdown,
    "q_rolling_vol" -> qRollingVol,
    "q_beta"        -> qBeta,
    "q_mom_growth"  -> qMomGrowth)

  private val DAILY =
    s"""SELECT CAST(l_shipdate AS DATE) AS day, ${Q.DSUM(Q.REVENUE)} AS price
       |  FROM lineitem GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_anomaly_days" ->
      s"""WITH daily AS ($DAILY),
         |r AS (
         |  SELECT day,
         |    (price / NULLIF(lag(price) OVER (ORDER BY day), 0) - 1) * 100 AS ret
         |  FROM daily),
         |rr AS (SELECT day, ret FROM r WHERE ret IS NOT NULL),
         |st AS (SELECT avg(ret) AS mu, stddev_samp(ret) AS sigma FROM rr)
         |SELECT day, round(ret, 6) AS ret, round((ret - mu) / sigma, 4) AS z
         |FROM rr, st WHERE abs(ret - mu) > sigma * 2
         |ORDER BY day""".stripMargin,
    "q_revenue_deciles" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${Q.DSUM("o_totalprice")} AS spend
         |  FROM orders GROUP BY o_custkey),
         |dec AS (
         |  SELECT spend, CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS INTEGER) AS decile
         |  FROM spend),
         |agg AS (
         |  SELECT decile, count(*) AS n_customers, ${Q.DSUM("spend")} AS decile_spend
         |  FROM dec GROUP BY decile)
         |SELECT decile, n_customers, decile_spend,
         |  round(decile_spend / CAST(CAST(sum(CAST(decile_spend AS DECIMAL(30,8))) OVER () AS VARCHAR) AS DOUBLE), 6) AS share
         |FROM agg ORDER BY decile""".stripMargin,
    "q_weekday_seasonality" ->
      s"""SELECT CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS dow,
         |  ${Q.DSUM(Q.REVENUE)} / count(DISTINCT CAST(l_shipdate AS DATE)) AS avg_daily_revenue,
         |  count(*) AS n_items
         |FROM lineitem GROUP BY 1 ORDER BY dow""".stripMargin,
    "q_return_histogram" ->
      s"""WITH daily AS ($DAILY),
         |r AS (
         |  SELECT (price / NULLIF(lag(price) OVER (ORDER BY day), 0) - 1) * 100 AS ret
         |  FROM daily)
         |SELECT CAST(greatest(least(floor(ret / 10.0) * 10, 90.0), -100.0) AS BIGINT) AS bucket,
         |  count(*) AS n_days
         |FROM r WHERE ret IS NOT NULL
         |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_rolling_vol" ->
      s"""WITH daily AS ($DAILY),
         |r AS (
         |  SELECT day,
         |    (price / NULLIF(lag(price) OVER (ORDER BY day), 0) - 1) * 100 AS ret
         |  FROM daily),
         |v AS (
         |  SELECT day, ret,
         |    round(stddev_samp(ret) OVER (ORDER BY day
         |      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 6) AS vol30
         |  FROM r)
         |SELECT day, round(ret, 6) AS ret, vol30
         |FROM v WHERE day BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
         |ORDER BY day""".stripMargin,
    "q_beta" ->
      s"""WITH daily AS (
         |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
         |         ${Q.DSUM(Q.REVENUE)} AS price
         |  FROM lineitem GROUP BY 1, 2),
         |rets AS (
         |  SELECT flag, day,
         |    (price / NULLIF(lag(price) OVER (PARTITION BY flag ORDER BY day), 0) - 1) * 100 AS ret
         |  FROM daily),
         |j AS (
         |  SELECT a.ret AS ret_a, r.ret AS ret_r
         |  FROM rets a JOIN rets r ON a.day = r.day
         |  WHERE a.flag = 'A' AND r.flag = 'R'
         |    AND a.ret IS NOT NULL AND r.ret IS NOT NULL)
         |SELECT round(covar_samp(ret_r, ret_a) / var_samp(ret_a), 6) AS beta,
         |  round(corr(ret_r, ret_a), 6) AS correlation, count(*) AS n_days
         |FROM j""".stripMargin,
    "q_mom_growth" ->
      s"""WITH m AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS month, ${Q.DSUM(Q.REVENUE)} AS revenue
         |  FROM lineitem GROUP BY 1)
         |SELECT month, revenue,
         |  round((revenue / NULLIF(lag(revenue) OVER (ORDER BY month), 0) - 1) * 100, 6) AS mom_pct
         |FROM m ORDER BY month""".stripMargin,
    "q_vwap" ->
      s"""SELECT l_returnflag,
         |  ${Q.DSUM("l_extendedprice * l_quantity")} / ${Q.DSUM("l_quantity")} AS vwap,
         |  sum(l_quantity) AS volume
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_twap" ->
      s"""WITH daily AS ($DAILY),
         |h AS (
         |  SELECT day, price,
         |    CAST(coalesce(date_diff('day', day, lead(day) OVER (ORDER BY day)), 1) AS DOUBLE) AS held_days
         |  FROM daily)
         |SELECT round(${Q.DSUM("price * held_days")} / ${Q.DSUM("held_days")}, 4) AS twap,
         |  round(${Q.DSUM("price")} / count(*), 4) AS plain_mean,
         |  count(*) AS n_days
         |FROM h""".stripMargin,
    "q_drawdown" ->
      s"""WITH daily AS ($DAILY),
         |c AS (
         |  SELECT day,
         |    CAST(CAST(sum(CAST(price AS DECIMAL(30,8))) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS equity
         |  FROM daily),
         |p AS (
         |  SELECT day, equity,
         |    max(equity) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM c)
         |SELECT day AS worst_day, round(equity, 4) AS equity,
         |  round(peak, 4) AS peak,
         |  round(equity / peak - 1.0, 8) AS max_drawdown
         |FROM p ORDER BY round(equity / peak - 1.0, 8) ASC, day ASC LIMIT 1""".stripMargin)
}
