package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module of the query registry: its rows, each built from a
  * session and a table directory, and the DuckDB oracle SQL of those
  * rows that SQL can express. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
