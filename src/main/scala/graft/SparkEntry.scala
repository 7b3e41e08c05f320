package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the query registry from the per-module query objects under
  * `graft.queries`. Every entry has a deterministic ORDER BY and (where
  * SQL-expressible) a DuckDB oracle with matching column names/types.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2): the reference's daily-returns
    * pipeline over per-day lineitem revenue, on sf0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CoreQueries.dailyReturns(spark, "/root/testdata/sf0.001")

  /** The registry's modules. A row name belongs to one module:
    * building the registry fails on a name two modules define. */
  private val modules: Seq[QueryModule] = Seq(
    CoreQueries, ParityQueries, RelationalQueries, AnalyticQueries,
    PipelineQueries, StreamingQueries, ExtraQueries, Wave3Queries,
    Wave4Queries, FinanceQueries, EventAnalytics, Wave5Queries,
    Wave6Queries, Wave7Queries, Wave8Queries, Wave9Queries, Wave10Queries,
    Wave11Queries, Wave12Queries, Wave13Queries, Wave15Queries,
    Wave16Queries, Wave17Queries, Wave18Queries, Wave19Queries,
    Wave20Queries, Wave21Queries, Wave22Queries, Wave23Queries,
    Wave24Queries, Wave25Queries, Wave26Queries, Wave27Queries,
    Wave28Queries, Wave29Queries, Wave30Queries, Wave31Queries,
    Wave32Queries, Wave33Queries, Wave34Queries, Wave35Queries,
    Wave36Queries, Wave37Queries, Wave38Queries, Wave39Queries,
    Wave40Queries, Wave41Queries, Wave42Queries, Wave43Queries,
    Wave44Queries, Wave45Queries, Wave46Queries, Wave47Queries,
    Wave48Queries, Wave49Queries, Wave50Queries, Wave51Queries,
    Wave52Queries, Wave53Queries, Wave54Queries, Wave55Queries,
    Wave56Queries, Wave57Queries, Wave58Queries, Wave59Queries,
    Wave60Queries, Wave61Queries, Wave62Queries, Wave63Queries,
    Wave64Queries, Wave65Queries, Wave66Queries, Wave68Queries,
    Wave69Queries, Wave70Queries, Wave71Queries, Wave72Queries)

  private def merged[V](part: QueryModule => Map[String, V]): Map[String, V] =
    modules.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val rows = part(m)
      val twice = acc.keySet.intersect(rows.keySet)
      require(twice.isEmpty,
        s"rows defined by two modules: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ rows
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(_.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = merged(_.oracles)

  /** The row names in a comma-separated list. */
  def names(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `m` limited to the rows named in `SPARK_GRAFT_ONLY`, when it is
    * set: the subset Bench and Verify run for local iteration. */
  def only[V](m: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(m) { list =>
      val keep = names(list).toSet
      m.filter { case (n, _) => keep(n) }
    }
}
