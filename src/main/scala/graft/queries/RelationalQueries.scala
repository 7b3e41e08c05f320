package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Relational breadth over the star schema (SURVEY.md §7.3 step 3):
  * grouped aggregation, join family (inner / left / semi / anti /
  * broadcast), distinct, rollup/cube, set ops, top-k, conditional
  * aggregation. Every query: deterministic total ORDER BY, decimal-exact
  * money sums (see [[Q]]), NULL-free order keys (sentinels for
  * rollup/cube), and a DuckDB oracle with matching names/types.
  *
  * Scale notes (100 TB stance): dimension joins (region/nation/supplier)
  * are explicit `broadcast()`; fact-fact joins (lineitem ⋈ orders) shuffle
  * on the join key and rely on AQE for skew/size replanning; aggregations
  * are partial (map-side) by construction since all are hash-aggregable
  * built-ins.
  */
object RelationalQueries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** TPC-H Q1-style pricing summary (ref analytic core generalized:
    * multi-measure grand agg of `controller/script.py:96-99` widened with
    * group keys). */
  def q1Pricing(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact
        Q.dsum(col("l_extendedprice")).as("sum_base_price"),
        Q.dsum(Q.revenue).as("sum_disc_price"),
        Q.dsum(Q.revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (Q.dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
        (Q.dsum(col("l_extendedprice")) / count(col("l_extendedprice"))).as("avg_price"),
        (Q.dsum(col("l_discount")) / count(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection — exists to prove scan-level pushdown/pruning
    * (the plan must show PushedFilters + a 4-column ReadSchema). */
  def qFilterProject(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1997-02-01") &&
              col("l_quantity") > lit(45.0))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Inner join + agg: order revenue per market segment; the dim side
    * (customer) is broadcast — no shuffle of the fact table. */
  def qSegmentRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           Q.dsum(col("o_totalprice")).as("total_revenue"))
      .orderBy("c_mktsegment")

  /** 5-table star join (TPC-H Q5 shape): revenue per region/nation.
    * lineitem ⋈ orders shuffles on the key; customer/nation/region are
    * broadcast dims. */
  def qRegionRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(Q.dsum(Q.revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")

  /** Left outer join: every customer, order count + spend (0 for none). */
  def qCustomerOrders(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(Q.dsum(col("o_totalprice")), lit(0.0)).as("spend"))
      .orderBy("c_custkey")

  /** Left-semi join (SQL EXISTS): customers holding an open order. */
  def qSemiJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_orderstatus") === lit("O")),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Left-anti join (SQL NOT EXISTS): customers with no orders at all. */
  def qAntiJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Top-k: 10 highest-spending customers (global sort + limit; Spark
    * plans TakeOrderedAndProject — no full sort at scale). */
  def qTopCustomers(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(Q.dsum(col("o_totalprice")).as("spend"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("spend").desc, col("o_custkey"))
      .limit(10)

  /** Distinct over a projection. */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** Exact + approximate distinct counts per segment. Approx is not
    * oracle-comparable (HLL impl differs per engine) so only the exact
    * one is in the output contract; a separate rows-only query exposes
    * approx_count_distinct. */
  def qCountDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  /** approx_count_distinct (HyperLogLog++) — the 100 TB path for
    * distinct counting — audited against the exact counts IN the query
    * so it carries a full oracle: output is the exact distincts (DuckDB
    * recomputes them) plus `|approx − exact| ≤ 10% · exact` flags that
    * the oracle emits as literal 1s (HLL++ default rsd is 5%; a broken
    * sketch flips a flag and fails the hash). */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    def ok(c: String) =
      (abs(approx_count_distinct(col(c)) - countDistinct(col(c)))
        <= lit(0.10) * countDistinct(col(c))).cast("int")
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
           countDistinct(col("l_suppkey")).as("exact_supps"),
           ok("l_partkey").as("parts_ok"),
           ok("l_suppkey").as("supps_ok"))
      .orderBy("l_returnflag")
  }

  /** ROLLUP with NULL-free sentinel labels (cross-engine NULL ordering
    * and hashing differ — coalesce to 'ALL'). */
  def qRollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** CUBE, same sentinel treatment. */
  def qCube(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("n"), col("total"))
      .orderBy("status", "priority")

  /** UNION ALL of two entity projections. */
  def qUnion(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
              col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
      .unionAll(t(s, d, "supplier")
        .select(col("s_suppkey").as("key"), col("s_name").as("name"),
                col("s_acctbal").as("acctbal"), lit("supplier").as("kind")))
      .orderBy("kind", "key")

  /** INTERSECT: customers active in both 1996 and 1997. */
  def qIntersect(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    def active(y: Int) = o.filter(year(col("o_orderdate")) === lit(y))
      .select(col("o_custkey").as("custkey"))
    active(1996).intersect(active(1997)).orderBy("custkey")
  }

  /** EXCEPT: customers active in 1996 but not 1997. */
  def qExcept(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    def active(y: Int) = o.filter(year(col("o_orderdate")) === lit(y))
      .select(col("o_custkey").as("custkey"))
    active(1996).except(active(1997)).orderBy("custkey")
  }

  /** Conditional aggregation (CASE WHEN inside agg). */
  def qCaseWhen(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("o_totalprice") > lit(200000.0), 1L).otherwise(0L)).as("n_big"),
           round(sum(when(col("o_totalprice") > lit(200000.0), 1.0).otherwise(0.0)) / count(lit(1)), 6).as("big_share"))
      .orderBy("o_orderpriority")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing"        -> q1Pricing,
    "q_filter_project"  -> qFilterProject,
    "q_segment_revenue" -> qSegmentRevenue,
    "q_region_revenue"  -> qRegionRevenue,
    "q_customer_orders" -> qCustomerOrders,
    "q_semi_join"       -> qSemiJoin,
    "q_anti_join"       -> qAntiJoin,
    "q_top_customers"   -> qTopCustomers,
    "q_distinct"        -> qDistinct,
    "q_count_distinct"  -> qCountDistinct,
    "q_approx_distinct" -> qApproxDistinct, // sketch audited vs exact, full oracle
    "q_rollup"          -> qRollup,
    "q_cube"            -> qCube,
    "q_union"           -> qUnion,
    "q_intersect"       -> qIntersect,
    "q_except"          -> qExcept,
    "q_case_when"       -> qCaseWhen)

  val oracles: Map[String, String] = Map(
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        |  CAST(1 AS INTEGER) AS parts_ok,
        |  CAST(1 AS INTEGER) AS supps_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  ${Q.DSUM("l_extendedprice")} AS sum_base_price,
         |  ${Q.DSUM(Q.REVENUE)} AS sum_disc_price,
         |  ${Q.DSUM(s"(${Q.REVENUE}) * (1 + l_tax)")} AS sum_charge,
         |  ${Q.DSUM("l_quantity")} / count(l_quantity) AS avg_qty,
         |  ${Q.DSUM("l_extendedprice")} / count(l_extendedprice) AS avg_price,
         |  ${Q.DSUM("l_discount")} / count(l_discount) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_segment_revenue" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS total_revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_region_revenue" ->
      s"""SELECT r_name, n_name, ${Q.DSUM(Q.REVENUE)} AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_customer_orders" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
         |  COALESCE(${Q.DSUM("o_totalprice")}, 0.0) AS spend
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_top_customers" ->
      s"""SELECT o_custkey, ${Q.DSUM("o_totalprice")} AS spend, count(*) AS n_orders
         |FROM orders GROUP BY o_custkey
         |ORDER BY spend DESC, o_custkey LIMIT 10""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_count_distinct" ->
      s"""SELECT c_mktsegment,
         |  count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       count(*) AS n, ${Q.DSUM("o_totalprice")} AS total
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin,
    "q_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal,
        |         'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier
        |) ORDER BY kind, key""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY custkey""".stripMargin,
    "q_case_when" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  round(sum(CASE WHEN o_totalprice > 200000 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS big_share
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
