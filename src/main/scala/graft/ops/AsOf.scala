package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — the canonical financial operator Spark
  * has no native node for: match each trade to the most recent quote at
  * or before its timestamp, optionally per key.
  *
  * Implementation is preference (a) from SURVEY.md §4.4 — COMPOSED from
  * built-ins, no custom strategy needed: tag and union both sides, sort
  * within key by (time, quote-first), and carry the last non-null quote
  * forward with an ignoreNulls window. One shuffle on (key), no join
  * explosion, state linear in rows — at 100 TB this is a single
  * range-partition-friendly pass, unlike a naive inequality join
  * (O(trades × quotes) nested loop).
  *
  * Ties: a quote AT the trade's timestamp is visible to it (<= semantics,
  * quote sorted first) — matching DuckDB's `ASOF JOIN ... ON t.ts >= q.ts`.
  */
object AsOf {

  /** @param trades    left side, one output row each
    * @param quotes    right side; its `valueCols` are carried as-of
    * @param timeCol   name of the event-time column (same name both sides)
    * @param keyCols   equality keys (empty = global series)
    * @param valueCols quote columns to propagate */
  def asofJoin(trades: DataFrame, quotes: DataFrame, timeCol: String,
               keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val marker = "_is_trade"
    val tradeCols = trades.columns.filterNot(c => c == timeCol || keyCols.contains(c))

    val q = quotes.select(
      (keyCols.map(col) :+ col(timeCol) :+ lit(0).as(marker)) ++
        valueCols.map(col) ++ tradeCols.map(c => lit(null).cast(trades.schema(c).dataType).as(c)): _*)
    val t = trades.select(
      (keyCols.map(col) :+ col(timeCol) :+ lit(1).as(marker)) ++
        valueCols.map(c => lit(null).cast(quotes.schema(c).dataType).as(c)) ++
        tradeCols.map(col): _*)

    val w = {
      val base = if (keyCols.isEmpty) Window.partitionBy()
                 else Window.partitionBy(keyCols.map(col): _*)
      base.orderBy(col(timeCol).asc, col(marker).asc)
        .rowsBetween(Window.unboundedPreceding, 0)
    }
    // one projection: each value column replaced in place
    val carried = q.unionByName(t).withColumns(ListMap(valueCols.map(c =>
      c -> last(col(c), ignoreNulls = true).over(w)): _*))
    carried.filter(col(marker) === lit(1)).drop(marker)
  }
}
