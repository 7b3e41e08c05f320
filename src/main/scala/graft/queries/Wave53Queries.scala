package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables

/** Round-9 wave 53 — the co-located (bucketed) join in the registry:
  *
  *  - `q_bucketed_join`: both sides written `bucketBy(8, key)` +
  *    `sortBy(key)`, joined with a sort-merge hint — the physical
  *    plan contains ZERO Exchange operators (the receipt counts them
  *    in the executed plan string): each bucket pair joins where it
  *    sits. This is THE 100 TB fact-to-fact join answer when neither
  *    side broadcasts — pay the shuffle once at write time, never
  *    again on any of the joins that follow — oracle-checked
  *    end-to-end, and `LayoutSpec` runs the row to pin the receipt.
  */
object Wave53Queries extends QueryModule {

  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_bj") { root =>
      val sfx = java.util.UUID.randomUUID().toString.take(8)
      val tOrd = s"g_bj_ord_$sfx"
      val tCus = s"g_bj_cus_$sfx"
      try {
        Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$root/ord").format("parquet").saveAsTable(tOrd)
        Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$root/cus").format("parquet").saveAsTable(tCus)
        val joined = s.table(tOrd).hint("merge")
          .join(s.table(tCus), col("o_custkey") === col("c_custkey"))
        // the scale receipt: bucketed SMJ needs NO exchange on either
        // side — count them in the executed plan itself
        val exchanges = "(?m)^.*Exchange".r
          .findAllIn(joined.queryExecution.executedPlan.toString).length
        val agg = joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            Q.dsum(col("o_totalprice")).as("revenue"))
          .withColumn("exchange_free_join",
            lit(Q.receipt(exchanges == 0, s"exchanges=$exchanges")))
          .orderBy("c_mktsegment")
        // materialize before dropping the tables underneath the plan
        val rows = agg.collect()
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toSeq, 1), agg.schema)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tOrd")
        s.sql(s"DROP TABLE IF EXISTS $tCus")
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bucketed_join" -> qBucketedJoin)

  val oracles: Map[String, String] = Map(
    "q_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue,
         |  'ok' AS exchange_free_join
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin)
}
