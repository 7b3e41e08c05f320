package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-9 wave 55 — AQE runtime re-planning in the registry:
  *
  *  - `q_aqe_coalesce`: a grouped aggregate whose shuffle output is
  *    far smaller than the configured partition count — adaptive
  *    execution measures the actual map output at RUNTIME and
  *    coalesces the reducer side (`AQEShuffleRead coalesced` in the
  *    final plan), so reducer task count follows DATA SIZE, not a
  *    static setting. The receipt reads the FINAL adaptive plan
  *    (after execution) and the flag rides the oracle hash. At
  *    100 TB with `spark.sql.shuffle.partitions` tuned for the big
  *    stages, this is what keeps the thousands of small stages from
  *    paying thousands of empty tasks each.
  */
object Wave55Queries extends QueryModule {

  def qAqeCoalesce(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.load(s, d, "lineitem")
      .groupBy((col("l_orderkey") % 100L).as("g"))
      .agg(count(lit(1)).as("n"),
        Q.dsum(col("l_extendedprice")).as("price"))
    val rows = agg.collect() // finalizes the adaptive plan
    val coalesced =
      if (agg.queryExecution.executedPlan.toString
          .contains("AQEShuffleRead coalesced")) 1
      else 0
    val out = s.createDataFrame(
      s.sparkContext.parallelize(rows.toSeq, 1), agg.schema)
    out.agg(count(lit(1)).as("n_groups"),
        sum(col("n")).as("n_rows"),
        Q.dsum(col("price")).as("sum_price"))
      .withColumn("aqe_coalesced", lit(coalesced))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_aqe_coalesce" -> qAqeCoalesce)

  val oracles: Map[String, String] = Map(
    "q_aqe_coalesce" ->
      s"""WITH g AS (
         |  SELECT l_orderkey % 100 AS g, count(*) AS n,
         |    ${Q.DSUM("l_extendedprice")} AS price
         |  FROM lineitem GROUP BY 1)
         |SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows,
         |  ${Q.DSUM("price")} AS sum_price, 1 AS aqe_coalesced
         |FROM g""".stripMargin)
}
