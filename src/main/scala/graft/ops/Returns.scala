package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Daily-returns analytics — the reference's entire analytic core
  * (ref `controller/script.py:33-50`: null-fill, date-range filter,
  * lag-window percentage returns, global average), re-expressed
  * Spark-first.
  *
  * Two layouts:
  *  - '''wide''' (reference parity): one row per day, one column per
  *    asset, `Window.orderBy(date)` with NO partitionBy — exactly the
  *    reference's semantics including its single-partition scalability
  *    wart (ref `controller/script.py:39`). Keep for parity/small data.
  *  - '''long''' (scale path): `(asset, day, price)` rows with
  *    `Window.partitionBy(asset).orderBy(day)` — per-asset lag is what
  *    the wide query actually computes per column, so results are
  *    identical while restoring full shuffle parallelism at 100 TB
  *    (SURVEY.md §7.5).
  */
object Returns {

  /** `(price/lag(price) - 1) * 100` over window `w`, divide-by-zero → NULL
    * (pinned with nullif so semantics are identical under ANSI and
    * non-ANSI SQL modes, and match the DuckDB oracle's NULLIF guard). */
  def pctChange(price: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    (price / nullif(lag(price, 1).over(w), lit(0.0)) - lit(1.0)) * lit(100.0)

  /** Reference-parity wide pipeline (ref `controller/script.py:33-50`):
    * fill nulls with 0, keep `from<=dateCol<=to`, add `<asset>_Retorno`
    * per asset over a global date-ordered window. All return columns are
    * one projection (`withColumns`, appended in asset order): a
    * `withColumn` per asset re-analyzes the growing plan once per
    * column, which dominated driver time at 32 assets. */
  def dailyReturnsWide(df: DataFrame, dateCol: String, assets: Seq[String],
                       from: String, to: String): DataFrame = {
    val w = Window.orderBy(col(dateCol))
    val filtered = df.na.fill(0.0)
      .filter(col(dateCol) >= lit(from) && col(dateCol) <= lit(to))
    filtered.withColumns(ListMap(assets.map(a =>
      s"${a}_Retorno" -> pctChange(col(a), w)): _*))
  }

  /** Scale-path long-format returns: partition by asset, order by day.
    * Shuffles once on `asset` and parallelizes across assets/executors —
    * the 100 TB-safe variant of the reference's unpartitioned window. */
  def dailyReturnsLong(df: DataFrame, asset: String, day: String,
                       price: String): DataFrame = {
    val w = Window.partitionBy(col(asset)).orderBy(col(day))
    df.withColumn("ret", pctChange(col(price), w))
  }
}
