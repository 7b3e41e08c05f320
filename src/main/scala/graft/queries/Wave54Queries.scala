package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables

/** Round-9 wave 54 — dynamic partition pruning in the registry:
  *
  *  - `q_dynamic_pruning`: the TPC-DS star shape — a fact table
  *    Hive-partitioned on the join key's dimension, a FILTERED dim
  *    side whose surviving keys are only known at RUNTIME. Catalyst
  *    plants a `dynamicpruning` subquery on the fact scan: the
  *    broadcast that feeds the join ALSO prunes the fact's partition
  *    listing, so the scan never opens the filtered-out partitions.
  *    The receipt pins the plan fact (the executed plan carries the
  *    dynamicpruning expression) alongside the hash-checked join
  *    result. At 100 TB this is the difference between scanning one
  *    month and scanning ten years when the month arrives from a
  *    dimension filter instead of a literal.
  */
object Wave54Queries extends QueryModule {

  def qDynamicPruning(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_dpp") { scratch =>
      val root = scratch + "/fact"
      // fact: orders partitioned by status (the join dimension)
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(root)
      val fact = s.read.parquet(root)
      // dim: the surviving statuses emerge from an AGGREGATE-derived
      // predicate — non-foldable, so the optimizer cannot rewrite it
      // into a static partition filter (it constant-propagates a
      // literal `st = 'O'` straight onto the fact scan, which is
      // better still, but it's not the runtime case this query pins)
      val dim = Tables.load(s, d, "orders")
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") % 2 === 1).select("st")
      val joined = fact.join(dim, col("o_orderstatus") === col("st"))
      val dpp =
        if (joined.queryExecution.executedPlan.toString
            .contains("dynamicpruning")) 1
        else 0
      val agg = joined.groupBy(col("st"))
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum(col("o_totalprice")).as("revenue"))
        .withColumn("dpp_planned", lit(dpp))
        .orderBy("st")
      // materialize before the scratch fact is deleted under the plan
      val rows = agg.collect()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
        agg.schema)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dynamic_pruning" -> qDynamicPruning)

  val oracles: Map[String, String] = Map(
    "q_dynamic_pruning" ->
      s"""WITH dim AS (
         |  SELECT o_orderstatus AS st FROM orders
         |  GROUP BY 1 HAVING count(*) % 2 = 1)
         |SELECT st, count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue, 1 AS dpp_planned
         |FROM orders JOIN dim ON o_orderstatus = st
         |GROUP BY st
         |ORDER BY st""".stripMargin)
}
