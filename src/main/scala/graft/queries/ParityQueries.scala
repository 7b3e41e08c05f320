package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.MarketPipeline

/** The reference's WIDE pipeline (one row per day, one column per asset,
  * unpartitioned date-ordered window — ref `controller/script.py:33-50`)
  * driven end-to-end through [[MarketPipeline]] on the driver's data:
  * assets = l_returnflag values, price = per-day revenue per flag,
  * built with groupBy().pivot() (the in-engine equivalent of the
  * reference's yfinance pivot, SURVEY.md §2 S2).
  *
  * This is the parity surface; `q_returns_by_flag` (CoreQueries) is the
  * SAME computation in long format with a partitioned window — the
  * 100 TB-safe plan. Keeping both documents the scale trade-off.
  */
object ParityQueries extends QueryModule {

  private val flags = Seq("A", "N", "R")

  /** Wide day × {A,N,R} revenue table; missing cells null-filled to 0 by
    * the pipeline (reference wart preserved). */
  def wideMarket(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .pivot("l_returnflag", flags)
      .agg(Q.dsum(Q.revenue))

  def marketReturns(spark: SparkSession, dir: String): DataFrame = {
    val rets = MarketPipeline.dailyReturns(wideMarket(spark, dir),
      CoreQueries.from, CoreQueries.to, dateCol = "day")
    val retCols = flags.map(f => round(col(s"${f}_Retorno"), 6).as(s"${f}_Retorno"))
    rets.select(col("day") +: flags.map(col) ++: retCols: _*).orderBy("day")
  }

  def marketAvg(spark: SparkSession, dir: String): DataFrame = {
    val (_, avgDf) = MarketPipeline.run(wideMarket(spark, dir),
      CoreQueries.from, CoreQueries.to, dateCol = "day")
    avgDf.select(flags.map(f =>
      round(col(s"Media_${f}_Retorno"), 6).as(s"Media_${f}_Retorno")): _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_market_wide_returns" -> marketReturns,
    "q_market_avg_return"   -> marketAvg)

  private def WIDE = {
    val cols = flags.map { f =>
      s"${Q.DSUM(s"CASE WHEN l_returnflag = '$f' THEN ${Q.REVENUE} ELSE 0 END")} AS \"$f\""
    }.mkString(",\n         ")
    s"""SELECT CAST(l_shipdate AS DATE) AS day,
       |         $cols
       |  FROM lineitem GROUP BY 1""".stripMargin
  }

  private def RETS =
    s"""WITH wide AS ($WIDE),
       |rets AS (
       |  SELECT day, ${flags.mkString("\"", "\", \"", "\"")},
       |${flags.map(f => s"""    ("$f" / NULLIF(lag("$f") OVER (ORDER BY day), 0) - 1) * 100 AS "${f}_Retorno"""").mkString(",\n")}
       |  FROM wide
       |  WHERE day BETWEEN DATE '${CoreQueries.from}' AND DATE '${CoreQueries.to}'
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_market_wide_returns" ->
      s"""$RETS
         |SELECT day, ${flags.mkString("\"", "\", \"", "\"")},
         |${flags.map(f => s"""  round("${f}_Retorno", 6) AS "${f}_Retorno"""").mkString(",\n")}
         |FROM rets ORDER BY day""".stripMargin,
    "q_market_avg_return" ->
      s"""$RETS
         |SELECT
         |${flags.map(f => s"""  round(avg("${f}_Retorno"), 6) AS "Media_${f}_Retorno"""").mkString(",\n")}
         |FROM rets""".stripMargin)
}
