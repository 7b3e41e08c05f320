package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-8 wave 30 — completing the TPC-H decision-support suite on
  * the shipped schema. Q3/5/6/10/12/13/14/17/18/19 (and Q1 as
  * `q1_pricing`) are long green; this wave adds the remaining
  * join-shape families the generator's trimmed schema can express
  * (no `partsupp` table → Q2/9/11/16/20 are out of scope; no
  * `l_commitdate`/`l_receiptdate` → Q4/Q21 use the repo's established
  * lateness proxy `datediff(shipdate, orderdate)`, per `q_tpch_q12`):
  *
  *  - `q_tpch_q4`: EXISTS-decorrelated priority count (left-semi with
  *    a non-equi lateness conjunct).
  *  - `q_tpch_q7`: volume shipping between a nation pair — 6-table
  *    join, dims broadcast, fact shuffles once on the join key spine.
  *  - `q_tpch_q8`: national market share — conditional-sum ratio over
  *    a region-filtered multi-join, per year.
  *  - `q_tpch_q15`: top supplier by window max over an aggregated
  *    revenue view (the ties-included max-equality shape).
  *  - `q_tpch_q21`: suppliers who kept orders waiting — the
  *    EXISTS/NOT-EXISTS pair recast as one per-order aggregation
  *    (distinct suppliers vs distinct LATE suppliers), which is the
  *    distributed-friendly decorrelation: one groupBy(orderkey)
  *    instead of two correlated self-joins of the fact table.
  *  - `q_tpch_q22`: dormant high-balance customers — scalar avg
  *    subquery + anti join against orders.
  */
object Wave30Queries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  def qTpchQ4(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
    val l = t(s, d, "lineitem")
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        datediff(col("l_shipdate"), col("o_orderdate")) > 45, "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  def qTpchQ7(s: SparkSession, d: String): DataFrame = {
    val n1 = t(s, d, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val n2 = t(s, d, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .filter((col("supp_nation") === "NATION_3" &&
          col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" &&
          col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Q.dsum(Q.revenue).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  def qTpchQ8(s: SparkSession, d: String): DataFrame = {
    val n1 = t(s, d, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val n2 = t(s, d, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    t(s, d, "lineitem")
      .join(t(s, d, "part").filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((Q.dsum(when(col("supp_nation") === "NATION_5", Q.revenue)
          .otherwise(lit(0.0))) / Q.dsum(Q.revenue)).as("mkt_share"))
      .orderBy("o_year")
  }

  def qTpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(Q.dsum(Q.revenue).as("total_revenue"))
    rev.withColumn("mx", max(col("total_revenue")).over(
        Window.partitionBy()))
      .filter(col("total_revenue") === col("mx"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  def qTpchQ21(s: SparkSession, d: String): DataFrame = {
    val late = datediff(col("l_shipdate"), col("o_orderdate")) > 60
    val joined = t(s, d, "lineitem")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late", late)
    val perOrder = joined.groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("is_late"), col("l_suppkey"))).as("n_late"))
    joined.filter(col("is_late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
      .join(perOrder.filter(col("n_supp") > 1 && col("n_late") === 1),
        Seq("l_orderkey"))
      .join(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .filter(col("n_name") === "NATION_1")),
            col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  def qTpchQ22(s: SparkSession, d: String): DataFrame = {
    val keys = Seq(2, 5, 8, 11, 14, 17, 20).map(_.toString)
    val cust = t(s, d, "customer")
      .filter(col("c_nationkey").cast("string").isin(keys: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(Q.davg(col("c_acctbal")).as("a"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      // this generator gives every customer at least one order, so the
      // dormancy predicate is "no RECENT order" (≥ 1999) — the anti
      // join shape of the original, with a non-empty result
      .join(t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), Q.dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q4" -> qTpchQ4,
    "q_tpch_q7" -> qTpchQ7,
    "q_tpch_q8" -> qTpchQ8,
    "q_tpch_q15" -> qTpchQ15,
    "q_tpch_q21" -> qTpchQ21,
    "q_tpch_q22" -> qTpchQ22)

  val oracles: Map[String, String] = Map(
    "q_tpch_q4" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |    WHERE l_orderkey = o_orderkey
         |      AND datediff('day', o_orderdate, l_shipdate) > 45)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q7" ->
      s"""SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  ${Q.DSUM(Q.REVENUE)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE (n2.n_name = 'NATION_3' AND n1.n_name = 'NATION_7')
         |   OR (n2.n_name = 'NATION_7' AND n1.n_name = 'NATION_3')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${Q.DSUM(s"CASE WHEN n2.n_name = 'NATION_5' THEN ${Q.REVENUE}" +
            " ELSE 0.0 END")}
         |    / ${Q.DSUM(Q.REVENUE)} AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${Q.DSUM(Q.REVENUE)} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q21" ->
      s"""WITH j AS (
         |  SELECT l_orderkey, l_suppkey,
         |    datediff('day', o_orderdate, l_shipdate) > 60 AS is_late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'),
         |po AS (
         |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
         |    count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
         |  FROM j GROUP BY 1)
         |SELECT s_name, count(*) AS numwait
         |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE is_late) x
         |JOIN po ON po.l_orderkey = x.l_orderkey
         |  AND po.n_supp > 1 AND po.n_late = 1
         |JOIN supplier ON x.l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_tpch_q22" ->
      s"""WITH cust AS (
         |  SELECT * FROM customer
         |  WHERE CAST(c_nationkey AS VARCHAR)
         |    IN ('2','5','8','11','14','17','20')),
         |a AS (SELECT ${Q.DAVG("c_acctbal")} AS a FROM cust
         |  WHERE c_acctbal > 0.0)
         |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
         |  ${Q.DSUM("c_acctbal")} AS totacctbal
         |FROM cust, a
         |WHERE c_acctbal > a.a
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
