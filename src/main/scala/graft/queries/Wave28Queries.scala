package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.{Dedup, Quantize}

/** Round-8 wave 28 — statistical testing / smoothing / private release:
  *
  *  - `q_ks_test`: exact two-sample Kolmogorov–Smirnov statistic
  *    between the R- and N-flag `l_extendedprice` distributions. The
  *    supremum |F1−F2| is computed as INTEGER arithmetic —
  *    max |c1·n2 − c2·n1| over cumulative counts at each distinct
  *    cent value — so the statistic is exact (no float CDF
  *    subtraction), and the one float hop (÷ n1·n2, ×√) is a per-row
  *    IEEE-identical op. Shape: one shuffle to distinct values, then
  *    a cumulative window over DISTINCT values only (bounded by value
  *    cardinality, not row count — the same pre-aggregate-then-scan
  *    discipline as the histogram operators).
  *  - `q_ewma`: exponentially weighted (α=1/4) 7-term moving average
  *    of daily event value per type. Weights 0.75^k and their sum
  *    3.466064453125 are exactly representable doubles, the kernel is
  *    a FIXED-ORDER 7-term fold over lag() columns, and each daily
  *    input is an exact-decimal sum — so the smoothed series is
  *    bit-identical across engines and layouts.
  *  - `q_dp_counts`: ε=1 Laplace-mechanism counts per order priority
  *    with DETERMINISTIC noise — uniform from the top 53 bits of the
  *    cross-engine md5-64 of the group key, inverse-CDF to Laplace,
  *    then the [[Quantize.q6]] grid (same ln-disagreement budget as
  *    the LM scores). Real deployments draw fresh randomness; the
  *    seeded variant is the TESTABLE core (noise distribution and
  *    mechanism are identical — only the seed source differs), which
  *    is exactly what a 100 TB pipeline wants for replayable audits.
  */
object Wave28Queries extends QueryModule {

  def qKsTest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_returnflag").isin("R", "N"))
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long").as("v"), col("l_returnflag").as("f"))
    val byV = li.groupBy("v")
      .agg(sum(when(col("f") === "R", 1L).otherwise(0L)).as("r"),
        sum(when(col("f") === "N", 1L).otherwise(0L)).as("n"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV.select(col("v"), sum("r").over(w).as("cr"),
      sum("n").over(w).as("cn"))
    val tot = byV.agg(sum("r").as("n1"), sum("n").as("n2")).head()
    val (n1, n2) = (tot.getLong(0), tot.getLong(1))
    val dNum = cum.agg(max(abs(col("cr") * lit(n2) - col("cn") * lit(n1))))
      .head().getLong(0)
    val dStat = dNum.toDouble / (n1.toDouble * n2.toDouble)
    val lambda = dStat * math.sqrt(
      n1.toDouble * n2.toDouble / (n1.toDouble + n2.toDouble))
    Seq((n1, n2, dNum, dStat, math.floor(lambda * 1e6 + 0.5) / 1e6))
      .toDF("n1", "n2", "d_num", "d_stat", "ks_lambda")
  }

  /** 0.75^k for k = 0..6 — every value a terminating binary fraction. */
  private val ewmaW: Seq[Double] =
    (0 to 6).map(k => math.pow(0.75, k))
  private val ewmaWSum = 3.466064453125 // Σ 0.75^k, exact

  def qEwma(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.load(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(Q.dsum(col("value")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lags = (0 to 6).map(k => lag(col("x"), k).over(w).as(s"x$k"))
    val withLags = daily.select(
      (col("day") +: col("event_type") +: lags): _*)
    // fixed-order fold: ((w0·x0 + w1·x1) + w2·x2) + … — the Add tree
    // is left-associated in both engines, so the double is identical
    val kernel = (1 to 6).foldLeft(col("x0") * lit(ewmaW.head)) {
      (acc, k) => acc + col(s"x$k") * lit(ewmaW(k))
    }
    withLags.filter(col("x6").isNotNull)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("x0").as("x"),
        (kernel / lit(ewmaWSum)).as("ewma"))
      .orderBy("day", "event_type")
  }

  def qDpCounts(s: SparkSession, d: String): DataFrame = {
    val eps = 1.0
    val scale = 1.0 / eps
    val grouped = Tables.load(s, d, "orders")
      .groupBy(col("o_orderpriority").as("p"))
      .agg(count(lit(1)).as("n_true"))
    val u = shiftrightunsigned(
      Dedup.md5Hash64(concat(lit("dp1#"), col("p"))), 11)
      .cast("double") / lit(9007199254740992.0)
    val centered = u - lit(0.5)
    val noise = lit(-scale) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    grouped.select(col("p").as("o_orderpriority"), col("n_true"),
        Quantize.q6(noise).as("noise_q6"),
        (col("n_true") + Quantize.q6(noise).cast("double") / lit(1e6))
          .as("n_noisy"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ks_test" -> qKsTest,
    "q_ewma" -> qEwma,
    "q_dp_counts" -> qDpCounts)

  val oracles: Map[String, String] = Map(
    "q_ks_test" ->
      s"""WITH pts AS (
         |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
         |    l_returnflag AS f
         |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
         |byv AS (
         |  SELECT v,
         |    CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r,
         |    CAST(sum(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n
         |  FROM pts GROUP BY v),
         |cum AS (
         |  SELECT v, sum(r) OVER w AS cr, sum(n) OVER w AS cn
         |  FROM byv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |tot AS (SELECT CAST(sum(r) AS BIGINT) AS n1,
         |    CAST(sum(n) AS BIGINT) AS n2 FROM byv),
         |dn AS (SELECT CAST(max(abs(cr * (SELECT n2 FROM tot)
         |    - cn * (SELECT n1 FROM tot))) AS BIGINT) AS d_num FROM cum)
         |SELECT n1, n2, d_num,
         |  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         |    AS d_stat,
         |  CAST(floor((CAST(d_num AS DOUBLE)
         |      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
         |    * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
         |    * 1e6 + 0.5) AS BIGINT) / 1e6 AS ks_lambda
         |FROM tot, dn""".stripMargin,
    "q_ewma" ->
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type,
         |    ${Q.DSUM("value")} AS x
         |  FROM events GROUP BY 1, 2),
         |lagged AS (
         |  SELECT day, event_type, x,
         |    lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
         |    lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4,
         |    lag(x, 5) OVER w AS x5, lag(x, 6) OVER w AS x6
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, x,
         |  (x * 1.0 + x1 * 0.75 + x2 * 0.5625 + x3 * 0.421875
         |    + x4 * 0.31640625 + x5 * 0.2373046875 + x6 * 0.177978515625)
         |    / 3.466064453125 AS ewma
         |FROM lagged WHERE x6 IS NOT NULL
         |ORDER BY day, event_type""".stripMargin,
    "q_dp_counts" ->
      s"""WITH g AS (
         |  SELECT o_orderpriority AS p, count(*) AS n_true
         |  FROM orders GROUP BY 1),
         |n AS (
         |  SELECT p, n_true,
         |    (-1.0) * sign((md5_number_upper('dp1#' || p) >> 11)
         |        / 9007199254740992.0 - 0.5)
         |      * ln(1.0 - 2.0 * abs((md5_number_upper('dp1#' || p) >> 11)
         |        / 9007199254740992.0 - 0.5)) AS noise
         |  FROM g)
         |SELECT p AS o_orderpriority, n_true,
         |  ${Quantize.Q6("noise")} AS noise_q6,
         |  n_true + CAST(${Quantize.Q6("noise")} AS DOUBLE) / 1e6 AS n_noisy
         |FROM n ORDER BY o_orderpriority""".stripMargin)
}
