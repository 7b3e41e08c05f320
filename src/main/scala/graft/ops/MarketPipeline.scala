package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end parity with the reference's Spark job
  * (ref `controller/script.py:67-108`): wide market table in →
  * `daily_returns` + `average_daily_return` out, preserving the
  * reference's semantic warts deliberately (SURVEY.md §7.5):
  *
  *  - null-fill 0 BEFORE returns → a 0-price day yields −100% that day
  *    and NULL (divide-by-zero) the next;
  *  - first row's return is NULL (lag over nothing);
  *  - `&` allowed in asset column names (`S&P500`);
  *  - the aggregate output drops `&` from names:
  *    `S&P500` → `Media_SP500_Retorno` (ref `controller/script.py:96-99`).
  */
object MarketPipeline {

  def assetColumns(df: DataFrame, dateCol: String = "Date"): Seq[String] =
    df.columns.filterNot(_ == dateCol).toSeq

  /** `daily_returns` output (ref `controller/script.py:33-50`). */
  def dailyReturns(df: DataFrame, from: String, to: String,
                   dateCol: String = "Date"): DataFrame =
    Returns.dailyReturnsWide(df, dateCol, assetColumns(df, dateCol), from, to)

  /** The `average_daily_return` aggregates: `Media_<asset sans '&'>_Retorno`
    * per asset; avg skips NULLs. */
  def averageColumns(assets: Seq[String]): Seq[Column] =
    assets.map { a =>
      avg(col(s"${a}_Retorno")).as(s"Media_${a.replace("&", "")}_Retorno")
    }

  /** `average_daily_return` output (ref `controller/script.py:92-100`):
    * one row of [[averageColumns]]. */
  def averageDailyReturn(returns: DataFrame, assets: Seq[String]): DataFrame = {
    val cols = averageColumns(assets)
    returns.agg(cols.head, cols.tail: _*)
  }

  /** Full job: returns frame + 1-row average frame. Like the reference
    * (ref `controller/script.py:90-100`), the average recomputes the
    * returns lineage: nothing is cached, so a long-lived session keeps
    * no frame behind. [[graft.jobs.MarketJob]] observes the average on
    * the returns write instead of recomputing it. */
  def run(market: DataFrame, from: String, to: String,
          dateCol: String = "Date"): (DataFrame, DataFrame) = {
    val rets = dailyReturns(market, from, to, dateCol)
    (rets, averageDailyReturn(rets, assetColumns(market, dateCol)))
  }
}
