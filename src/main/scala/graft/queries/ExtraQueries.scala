package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Second breadth wave: SQL-entry queries (GROUPING SETS, correlated
  * EXISTS — exercising `spark.sql` as a first-class surface alongside the
  * DataFrame API), ordered/exact percentiles, arg-min/max, array
  * aggregation, date arithmetic, regex extraction, statistical
  * aggregates. */
object ExtraQueries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private def viewed(s: SparkSession, d: String, names: String*): Unit =
    names.foreach(n => t(s, d, n).createOrReplaceTempView(n))

  /** GROUPING SETS through the SQL front end (same text runs in DuckDB
    * modulo the decimal-sum macro). */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    viewed(s, d, "orders")
    s.sql(s"""
      |SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n, ${Q.DSUM_SPARK("o_totalprice")} AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin)
  }

  /** Correlated EXISTS subquery via SQL (decorrelated by Catalyst into a
    * semi-join — same physical shape as q_semi_join). */
  def qExistsSql(s: SparkSession, d: String): DataFrame = {
    viewed(s, d, "customer", "orders")
    s.sql("""
      |SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin)
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`). The 100 TB variant is
    * `approx_percentile` (t-digest-style sketch) — included rows-only in
    * `q_approx_percentile`. */
  def qPercentile(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
           round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
           round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"),
           min(col("l_quantity")).as("min_qty"),
           max(col("l_quantity")).as("max_qty"))
      .orderBy("l_returnflag")

  /** Sketch-vs-exact audit, fully oracle-checked: the sketch values
    * themselves are engine-specific, so the OUTPUT is the exact
    * interpolated percentiles (DuckDB `quantile_cont` recomputes them)
    * plus per-quantile accuracy flags `|approx − exact| ≤ 2% · exact`.
    * The oracle emits literal 1s for the flags — a degraded or broken
    * sketch flips a flag and fails the hash, which is exactly the
    * verification a sketch admits.
    *
    * r16: ONE exact-percentile buffer and ONE sketch evaluated at the
    * percentage ARRAY, instead of three independent aggregate buffers
    * of each kind over the same column (`Percentile` sorts its
    * value-count map once and interpolates every requested p from it —
    * the scalar form is the 1-element array, so the interpolated
    * values are bit-identical; the flags compare the same sketch
    * family under the same 2% band). Per-group agg state drops from
    * 6 value maps/sketches to 2. */
  def qApproxPercentile(s: SparkSession, d: String): DataFrame = {
    val ps = "array(0.5, 0.9, 0.99)"
    def exact(i: Int) = col("ex").getItem(i)
    def ok(i: Int) =
      (abs(col("ap").getItem(i) - exact(i)) <= lit(0.02) * exact(i))
        .cast("int")
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr(s"percentile(l_extendedprice, $ps)").as("ex"),
           expr(s"approx_percentile(l_extendedprice, $ps)").as("ap"))
      .select(col("l_returnflag"),
        round(exact(0), 6).as("p50_exact"),
        round(exact(1), 6).as("p90_exact"),
        round(exact(2), 6).as("p99_exact"),
        ok(0).as("p50_ok"), ok(1).as("p90_ok"), ok(2).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  /** arg-min/arg-max. DuckDB's min_by only orders by scalars, so the
    * (price, key) composite is encoded as one exact BIGINT:
    * price×10⁴ (integral — 2-decimal money) shifted, plus the unique
    * order key as tiebreak. Identical integer arithmetic both engines. */
  private val ordKey =
    (round(col("o_totalprice") * lit(10000.0)).cast("long") * lit(10000000L)) +
      col("o_orderkey")

  def qMinMaxBy(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(min_by(col("o_orderkey"), ordKey).as("cheapest_order"),
           max_by(col("o_orderkey"), ordKey).as("priciest_order"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"))
      .orderBy("o_orderpriority")

  /** Array aggregation: distinct sorted collect. Output arrays are
    * serialized to CSV strings (`array_join`) — the array computation is
    * the operator under test; the string form keeps the result hashable
    * by any tabular comparator (arrays don't round-trip parquet→pandas). */
  def qArrayAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
           array_join(transform(sort_array(collect_set(col("l_linenumber"))),
             _.cast("string")), ",").as("linenumbers"))
      .orderBy("l_returnflag")

  /** Date arithmetic battery. */
  def qDateArith(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .filter(col("o_orderkey") < lit(200L))
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("days_since_epoch_start"),
        date_add(to_date(col("o_orderdate")), 30).as("plus30"),
        last_day(col("o_orderdate")).as("month_end"),
        trunc(col("o_orderdate"), "month").as("month_start"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"))
      .orderBy("o_orderkey")

  /** Regex extraction battery. */
  def qRegexpExtract(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .filter(col("c_custkey") < lit(100L))
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        regexp_extract(col("c_name"), "^([A-Za-z]+)", 1).as("name_word"),
        col("c_name").rlike("[0-9]{3}").as("has_3digits"))
      .orderBy("c_custkey")

  /** Statistical aggregates (corr / stddev / variance). */
  def qStats(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
           round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
           round(var_samp(col("l_tax")), 6).as("var_tax"),
           round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"))
      .orderBy("l_returnflag")

  /** Skew-safe salted aggregation (ops.Scale) — result identical to a
    * direct groupBy (decimal-exact partials), oracle is the plain SQL. */
  def qSaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.ops.Scale.saltedSum(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", salts = 8)
      .orderBy("l_returnflag")

  /** As-of join (ops.AsOf): each lineitem "trade" priced against the
    * most recent WEEKLY revenue quote of its returnflag series at or
    * before its ship date. Oracle uses DuckDB's native ASOF JOIN —
    * independent implementations, same operator semantics. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val quotes = li
      .groupBy(col("l_returnflag").as("asset"),
               trunc(to_date(col("l_shipdate")), "week").as("day"))
      .agg(Q.dsum(Q.revenue).as("wk_price"))
    val trades = li.filter(col("l_orderkey") < lit(400L))
      .select(col("l_returnflag").as("asset"), to_date(col("l_shipdate")).as("day"),
              col("l_orderkey"), col("l_linenumber"))
    graft.ops.AsOf.asofJoin(trades, quotes, "day",
        keyCols = Seq("asset"), valueCols = Seq("wk_price"))
      .select(col("asset"), col("day"), col("l_orderkey"), col("l_linenumber"),
              col("wk_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Typed Dataset surface (io.Typed): compile-checked fields, typed
    * filter + groupByKey, result identical to the untyped plan (filter
    * still pushes down — see TypedSpec plan assert). */
  def qTypedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.io.Typed.lineitem(s, d)
      .filter(_.l_quantity > 10.0)
      .groupByKey(_.l_returnflag)
      .agg(sum(col("l_quantity")).as[Double],
           count(lit(1)).as[Long])
      .toDF("l_returnflag", "sum_qty", "n")
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_typed_agg"         -> qTypedAgg,
    "q_asof_join"         -> qAsofJoin,
    "q_salted_agg"        -> qSaltedAgg,
    "q_grouping_sets"     -> qGroupingSets,
    "q_exists_sql"        -> qExistsSql,
    "q_percentile"        -> qPercentile,
    "q_approx_percentile" -> qApproxPercentile, // sketch audited vs exact, full oracle
    "q_minmax_by"         -> qMinMaxBy,
    "q_array_agg"         -> qArrayAgg,
    "q_date_arith"        -> qDateArith,
    "q_regexp_extract"    -> qRegexpExtract,
    "q_stats"             -> qStats)

  val oracles: Map[String, String] = Map(
    "q_typed_agg" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_asof_join" ->
      s"""WITH wq AS (
         |  SELECT l_returnflag AS asset,
         |         date_trunc('week', CAST(l_shipdate AS DATE)) AS wk,
         |         ${Q.DSUM(Q.REVENUE)} AS wk_price
         |  FROM lineitem GROUP BY 1, 2),
         |tr AS (
         |  SELECT l_returnflag AS asset, CAST(l_shipdate AS DATE) AS day,
         |         l_orderkey, l_linenumber
         |  FROM lineitem WHERE l_orderkey < 400)
         |SELECT tr.asset, tr.day, tr.l_orderkey, tr.l_linenumber, wq.wk_price
         |FROM tr ASOF JOIN wq ON tr.asset = wq.asset AND tr.day >= wq.wk
         |ORDER BY tr.l_orderkey, tr.l_linenumber""".stripMargin,
    "q_salted_agg" ->
      s"""SELECT l_returnflag, ${Q.DSUM("l_extendedprice")} AS total, count(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       count(*) AS n, ${Q.DSUM("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY status, priority""".stripMargin,
    "q_exists_sql" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact,
        |  CAST(1 AS INTEGER) AS p50_ok,
        |  CAST(1 AS INTEGER) AS p90_ok,
        |  CAST(1 AS INTEGER) AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_minmax_by" ->
      """SELECT o_orderpriority,
        |  min_by(o_orderkey, CAST(round(o_totalprice * 10000) AS BIGINT) * 10000000 + o_orderkey) AS cheapest_order,
        |  max_by(o_orderkey, CAST(round(o_totalprice * 10000) AS BIGINT) * 10000000 + o_orderkey) AS priciest_order,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_array_agg" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
        |  array_to_string(list_transform(list_sort(list_distinct(list(l_linenumber))),
        |    x -> CAST(x AS VARCHAR)), ',') AS linenumbers
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS od,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch_start,
        |  (CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)::DATE AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q_regexp_extract" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |  regexp_extract(c_name, '^([A-Za-z]+)', 1) AS name_word,
        |  regexp_matches(c_name, '[0-9]{3}') AS has_3digits
        |FROM customer WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin,
    "q_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(stddev_samp(l_discount), 6) AS sd_disc,
        |  round(var_samp(l_tax), 6) AS var_tax,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
