package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-8 wave 35 — order-statistic analytics, all exact-integer:
  *
  *  - `q_weighted_median`: quantity-weighted median extended price per
  *    return flag — the robust "typical traded price". Pre-aggregate
  *    to distinct (flag, cents) with integer weight sums, one
  *    cumulative window over DISTINCT values per flag (bounded by
  *    value cardinality, not rows), pick the first value whose doubled
  *    cumulative weight reaches the total. Integer comparisons only.
  *  - `q_gini`: Gini coefficient of customer spend per market segment
  *    (the inequality metric behind "whale" analysis). Rank-sum
  *    formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over spend sorted
  *    ascending — every accumulation is exact integer cents (ties are
  *    order-proof: equal x contribute the same Σi·x under any tie
  *    order), one double division at the end.
  *  - `q_skyline`: the 2-D Pareto frontier (earliest date, highest
  *    price) of one month's orders. Scale shape: pre-aggregate to the
  *    per-date max price, one running-max sweep over dates, then an
  *    equi-join back — never the quadratic dominance join the oracle
  *    uses (NOT EXISTS over the month) to prove it equal.
  */
object Wave35Queries extends QueryModule {

  def qWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_returnflag").as("f"),
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("v"),
        col("l_quantity").cast("long").as("w"))
    val byV = li.groupBy("f", "v").agg(sum("w").as("w"))
    val win = Window.partitionBy("f").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.groupBy("f").agg(sum("w").as("wtot"))
    byV.withColumn("cw", sum("w").over(win))
      .join(tot, "f")
      .filter(col("cw") * 2 >= col("wtot"))
      .groupBy(col("f").as("l_returnflag"))
      .agg(min("v").as("median_cents"), min("wtot").as("w_total"))
      .select(col("l_returnflag"),
        (col("median_cents").cast("double") / lit(100.0))
          .as("weighted_median"),
        col("w_total"))
      .orderBy("l_returnflag")
  }

  def qGini(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.load(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("x"))
      .join(Tables.load(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
        col("x"))
    val win = Window.partitionBy("seg").orderBy(col("x"), col("ck"))
    spend.withColumn("i", row_number().over(win))
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("i") * col("x")).as("six"))
      .select(col("c_mktsegment"), col("n"),
        ((lit(2.0) * col("six").cast("double") -
          (col("n") + 1).cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("sx").cast("double"))).as("gini"))
      .orderBy("c_mktsegment")
  }

  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val month = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-08-01"))
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("v"))
    val perDay = month.groupBy("day").agg(max("v").as("vmax"),
      count(lit(1)).as("n_day"))
    val sweep = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierDays = perDay
      .withColumn("earlier_max", max("vmax").over(sweep))
      .filter(col("earlier_max").isNull || col("vmax") > col("earlier_max"))
      .select(col("day"), col("vmax"))
    month.join(frontierDays, Seq("day"))
      .filter(col("v") === col("vmax"))
      .groupBy("day", "v").agg(count(lit(1)).as("n_orders"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("v").cast("double") / lit(100.0)).as("price"),
        col("n_orders"))
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_weighted_median" -> qWeightedMedian,
    "q_gini" -> qGini,
    "q_skyline" -> qSkyline)

  val oracles: Map[String, String] = Map(
    "q_weighted_median" ->
      s"""WITH li AS (
         |  SELECT l_returnflag AS f,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
         |    CAST(l_quantity AS BIGINT) AS w
         |  FROM lineitem),
         |byv AS (SELECT f, v, CAST(sum(w) AS BIGINT) AS w
         |  FROM li GROUP BY 1, 2),
         |cum AS (SELECT f, v, w,
         |    sum(w) OVER (PARTITION BY f ORDER BY v
         |      ROWS UNBOUNDED PRECEDING) AS cw
         |  FROM byv),
         |tot AS (SELECT f, CAST(sum(w) AS BIGINT) AS wtot
         |  FROM byv GROUP BY 1)
         |SELECT cum.f AS l_returnflag,
         |  CAST(min(v) AS DOUBLE) / 100.0 AS weighted_median,
         |  CAST(min(wtot) AS BIGINT) AS w_total
         |FROM cum JOIN tot ON tot.f = cum.f
         |WHERE cw * 2 >= wtot
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_gini" ->
      s"""WITH spend AS (
         |  SELECT c_mktsegment AS seg, c_custkey AS ck,
         |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |r AS (SELECT seg, x,
         |    row_number() OVER (PARTITION BY seg ORDER BY x, ck) AS i
         |  FROM spend)
         |SELECT seg AS c_mktsegment, count(*) AS n,
         |  (2.0 * CAST(sum(i * x) AS DOUBLE)
         |    - CAST(count(*) + 1 AS DOUBLE) * CAST(sum(x) AS DOUBLE))
         |    / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) AS gini
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skyline" ->
      s"""WITH m AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '1996-08-01 00:00:00'),
         |sky AS (
         |  SELECT day, v FROM m b
         |  WHERE NOT EXISTS (SELECT 1 FROM m a
         |    WHERE a.day <= b.day AND a.v >= b.v
         |      AND (a.day < b.day OR a.v > b.v)))
         |SELECT strftime(day, '%Y-%m-%d') AS day,
         |  CAST(v AS DOUBLE) / 100.0 AS price, count(*) AS n_orders
         |FROM sky GROUP BY day, v ORDER BY day""".stripMargin)
}
