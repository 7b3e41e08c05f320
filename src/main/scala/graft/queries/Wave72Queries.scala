package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.io.Tables
import graft.ops.Versioned

/** Round-15 wave 72 — TPC-DS composed over the LAKE, plus the three
  * DS shapes TPC-H lacks (r14 verdict #3):
  *
  * Lake composition (the r14 features working together): the TPC-DS
  * report family re-pointed at graft-lake RESIDENT tables whose
  * manifests carry `#rows`/`#bytes` and per-column HLL NDV sketches —
  * so the PLAN, not just the answer, comes from lake metadata:
  *
  *  - `q_tpcds_rollup_lake` / `q_tpcds_gsets_lake`: the Q36/Q27
  *    multi-grain reports over a 4-table lake star. Receipts pin that
  *    the dimension joins broadcast AT PLAN TIME from the manifests'
  *    size statistics (a DSv2 relation without them reports
  *    `defaultSizeInBytes` ≈ ∞ and sort-merges everything) and that
  *    the multi-level aggregate runs as ONE Expand pass over the
  *    star — the rollup-vs-unioned-groupBys economics at 100 TB.
  *  - `q_tpcds_share_lake` (Q36's share-within-parent): nation share
  *    of region revenue — the post-aggregation self-join whose plan
  *    only the manifest NDV can get right. With CBO on, the grouped
  *    frames are estimated at ~NDV(r_name)×NDV(n_name) rows from the
  *    manifest HLL sketches and the share join BROADCASTS at plan
  *    time; the same query with CBO off falls back to size-product
  *    estimates and sort-merges. Both receipts pin the r_name-keyed
  *    join's strategy (key-qualified — dim-join choices elsewhere in
  *    the plan are SF-dependent and not part of the claim).
  *
  * New DS shapes (parquet tables, full DuckDB oracles):
  *
  *  - `q_tpcds_q14_intersect`: INTERSECT — parts sold in BOTH the
  *    ASIA and EUROPE channels, rolled up by brand. Spark plans
  *    INTERSECT as distinct + left-semi hash join (set semantics,
  *    shuffles on the part key) — never a pairwise comparison.
  *  - `q_tpcds_q23_cte`: the multi-CTE funnel — frequent parts
  *    (above-average line count) × best customers (revenue above
  *    1.5× the customer average) → monthly revenue of best-customer
  *    purchases of frequent parts. Both thresholds are decorrelated
  *    scalar subqueries (the q_tpch_q22 single-row broadcast shape);
  *    the two semi-joins shuffle on their own keys.
  *  - `q_tpcds_q88_multiscan`: Q88's eight predicate-bucket counts.
  *    The reference TPC-DS text runs eight scans and cross-joins the
  *    counts; the Spark-first plan is ONE scan with eight conditional
  *    aggregates (map-side combine, zero joins) — the receipt pins
  *    exactly one lineitem scan in the executed plan.
  */
object Wave72Queries extends QueryModule {

  // ---------------------------------------------------------------
  // lake star fixture: four lake tables with stats+NDV registered,
  // built ONCE per (JVM, sf dir) — the Memo discipline; bench
  // clearCache() can't evict it and reuse can't observe staleness
  // (lake tables are immutable once built here)
  // ---------------------------------------------------------------
  private def lakeStarDir(s: SparkSession, d: String): String =
    LakeFixtures.memoDir(s"star|$d", "graft_dslake") { work =>
      Versioned.init(
        Tables.load(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(4),
        s"$work/orders", statsCols = Seq("o_custkey"))
      Versioned.init(
        Tables.load(s, d, "customer").select(
          col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal")).repartition(2),
        s"$work/customer", statsCols = Seq("c_custkey", "c_nationkey"))
      Versioned.init(Tables.load(s, d, "nation"),
        s"$work/nation",
        statsCols = Seq("n_nationkey", "n_regionkey", "n_name"))
      Versioned.init(Tables.load(s, d, "region"),
        s"$work/region", statsCols = Seq("r_regionkey", "r_name"))
    }

  private def lakeTable(s: SparkSession, dir: String, t: String) =
    s.read.format("graft-lake").option("path", s"$dir/$t").load()

  /** Orders-grain star over the lake fixture (revenue =
    * o_totalprice; lineitem stays parquet-side to keep the per-run
    * fixture O(orders), the q_data_skipping cost discipline). */
  private def lakeStar(s: SparkSession, d: String): DataFrame = {
    val dir = lakeStarDir(s, d)
    lakeTable(s, dir, "orders")
      .join(lakeTable(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(lakeTable(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(lakeTable(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
  }

  /** Plan receipts shared by the two multi-grain lake reports: the
    * manifest stats must have bought (a) broadcast dims — no
    * cartesian, at least one plan-time BroadcastHashJoin — and (b) a
    * single Expand pass for all grouping levels. */
  private def multiGrainReceipt(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    Q.receipt(
      plan.contains("BroadcastHashJoin") && plan.contains("Expand") &&
        !plan.contains("CartesianProduct"),
      s"lake star must broadcast dims + single Expand: ${plan.take(400)}")
  }

  // ---- Q36 ROLLUP over the lake star ----

  def qTpcdsRollupLake(s: SparkSession, d: String): DataFrame = {
    val base = lakeStar(s, d)
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        Q.dsum(col("o_totalprice")).as("revenue"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_orders"), col("revenue"))
    val r = multiGrainReceipt(base)
    base.withColumn("plan_receipt", lit(r))
      .orderBy("gid", "region", "nation")
  }

  // ---- Q27 GROUPING SETS over the lake star ----

  def qTpcdsGsetsLake(s: SparkSession, d: String): DataFrame = {
    val base = lakeStar(s, d)
      .groupingSets(
        Seq(Seq(col("r_name"), col("c_mktsegment")),
          Seq(col("r_name")), Seq.empty),
        col("r_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        Q.dsum(col("o_totalprice")).as("revenue"),
        Q.davg(col("c_acctbal")).as("avg_bal"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_orders"), col("revenue"), col("avg_bal"))
    val r = multiGrainReceipt(base)
    base.withColumn("plan_receipt", lit(r))
      .orderBy("gid", "region", "segment")
  }

  // ---- Q36 share-within-parent, NDV-driven plan ----

  def qTpcdsShareLake(s: SparkSession, d: String): DataFrame = {
    def shaped() = {
      val byNation = lakeStar(s, d)
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum(col("o_totalprice")).as("rev_nation"))
      val byRegion = byNation.groupBy(col("r_name"))
        .agg(sum(col("rev_nation")).as("rev_region"))
      byNation.join(byRegion, "r_name")
    }
    // the claim is about the r_name-keyed share join specifically —
    // dim-join strategies elsewhere are SF-dependent (customer
    // outgrows any fixed broadcast budget) and not part of it
    Session.withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "8192") {
      // r17 (guide §6 metadata): ONE CBO-planned instance feeds both
      // receipts AND the output below — every shaped() call re-loads
      // all four lake tables (a manifest-read job each), so the former
      // plan-receipt/row-estimate/output triple paid 12 extra manifest
      // jobs per run for byte-identical plans. The CBO-off twin must
      // stay a separate planning (the conf is read at plan time).
      val withCbo = shaped()
      val cboPlan = withCbo.queryExecution.executedPlan.toString
      val aggRows = withCbo.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.stats.rowCount
      }.flatten.headOption.getOrElse(BigInt(-1))
      val noCboPlan = Session.withConf(s, "spark.sql.cbo.enabled" -> "false")(
        shaped().queryExecution.executedPlan.toString)
      val rNdv = Q.receipt(
        cboPlan.contains("BroadcastHashJoin [r_name") &&
          aggRows >= BigInt(1) && aggRows <= BigInt(200),
        s"manifest NDV + CBO must broadcast the share join: " +
          s"aggRows=$aggRows plan=${cboPlan.take(400)}")
      val rNo = Q.receipt(
        noCboPlan.contains("SortMergeJoin [r_name"),
        s"without CBO the share join must sort-merge: " +
          s"${noCboPlan.take(400)}")
      val out = withCbo
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          col("n_orders"), col("rev_nation"),
          round(col("rev_nation") / col("rev_region"), 6).as("share"))
        .orderBy("region", "nation")
      import s.implicits._
      out.collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), rNdv, rNo))
        .toDF("region", "nation", "n_orders", "rev_nation", "share",
          "ndv_broadcast", "no_cbo_sortmerge")
    }
  }

  // ---- the parquet star (lineitem grain) for the new DS shapes ----

  private def star(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val o = Tables.load(s, d, "orders")
    val c = Tables.load(s, d, "customer")
    val n = Tables.load(s, d, "nation")
    val r = Tables.load(s, d, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  // ---- Q14: INTERSECT across channels ----

  def qTpcdsQ14Intersect(s: SparkSession, d: String): DataFrame = {
    val st = star(s, d)
    def channel(r: String) =
      st.filter(col("r_name") === lit(r)).select(col("l_partkey"))
    // INTERSECT is set-semantic: Spark plans distinct + left-semi
    // hash join — shuffles on the part key, never pairwise
    val both = channel("ASIA").intersect(channel("EUROPE"))
    both.join(Tables.load(s, d, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")
  }

  // ---- Q23: multi-CTE funnel ----

  def qTpcdsQ23Cte(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val o = Tables.load(s, d, "orders")
    // CTE 1: frequent parts — line count above the per-part average.
    // The threshold is a decorrelated scalar (1-row broadcast cross,
    // the q_tpch_q22 shape); avg of exact integer counts divides
    // identically in both engines.
    val partCounts = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"))
    val avgLines = partCounts.agg(
      (sum(col("n_lines")).cast("double") / count(lit(1)))
        .as("avg_lines"))
    val freqParts = partCounts.crossJoin(broadcast(avgLines))
      .filter(col("n_lines") > col("avg_lines"))
      .select(col("l_partkey"))
    // CTE 2: best customers — revenue above 1.5× the customer average
    val custRev = o.groupBy(col("o_custkey"))
      .agg(Q.dsum(col("o_totalprice")).as("rev"))
    val avgRev = custRev.agg(
      (Q.dsum(col("rev")) / count(lit(1))).as("avg_rev"))
    val bestCust = custRev.crossJoin(broadcast(avgRev))
      .filter(col("rev") > lit(1.5) * col("avg_rev"))
      .select(col("o_custkey"))
    // funnel: best customers buying frequent parts, by order month
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(freqParts, Seq("l_partkey"), "left_semi")
      .join(bestCust, Seq("o_custkey"), "left_semi")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"),
        Q.dsum(Q.revenue).as("revenue"))
      .orderBy("month")
  }

  // ---- Q88: eight predicate buckets, ONE scan ----

  def qTpcdsQ88Multiscan(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    def bucket(i: Int) =
      sum(when(col("l_quantity") >= lit(i * 6 + 1) &&
        col("l_quantity") <= lit(i * 6 + 6) &&
        col("l_discount") >= lit(0.02) && col("l_discount") <= lit(0.08),
        1L).otherwise(0L)).as(s"h${i + 1}")
    val out = li.agg(bucket(0), (1 until 8).map(bucket): _*)
    // the TPC-DS text cross-joins eight scans; the Spark-first plan
    // is one scan + conditional aggregates — receipt pins exactly one
    // lineitem scan in the executed plan
    val plan = out.queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(plan).length
    val r = Q.receipt(nScans == 1,
      s"Q88 must run as ONE scan, found $nScans: ${plan.take(300)}")
    out.withColumn("one_scan", lit(r))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpcds_rollup_lake"   -> qTpcdsRollupLake,
    "q_tpcds_gsets_lake"    -> qTpcdsGsetsLake,
    "q_tpcds_share_lake"    -> qTpcdsShareLake,
    "q_tpcds_q14_intersect" -> qTpcdsQ14Intersect,
    "q_tpcds_q23_cte"       -> qTpcdsQ23Cte,
    "q_tpcds_q88_multiscan" -> qTpcdsQ88Multiscan)

  private val STAR =
    """orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey""".stripMargin

  private val LSTAR =
    """lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_tpcds_rollup_lake" ->
      s"""SELECT CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
         |  coalesce(r_name, 'ALL') AS region,
         |  coalesce(n_name, 'ALL') AS nation,
         |  count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue,
         |  'ok' AS plan_receipt
         |FROM $STAR
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY gid, region, nation""".stripMargin,
    "q_tpcds_gsets_lake" ->
      s"""SELECT CAST(GROUPING(r_name, c_mktsegment) AS BIGINT) AS gid,
         |  coalesce(r_name, 'ALL') AS region,
         |  coalesce(c_mktsegment, 'ALL') AS segment,
         |  count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue,
         |  ${Q.DSUM("c_acctbal")} / count(c_acctbal) AS avg_bal,
         |  'ok' AS plan_receipt
         |FROM $STAR
         |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
         |ORDER BY gid, region, segment""".stripMargin,
    "q_tpcds_share_lake" ->
      s"""WITH by_nation AS (
         |  SELECT r_name AS region, n_name AS nation,
         |    count(*) AS n_orders,
         |    ${Q.DSUM("o_totalprice")} AS rev_nation
         |  FROM $STAR GROUP BY 1, 2),
         |by_region AS (
         |  SELECT region, sum(rev_nation) AS rev_region
         |  FROM by_nation GROUP BY 1)
         |SELECT bn.region, bn.nation, bn.n_orders, bn.rev_nation,
         |  round(bn.rev_nation / br.rev_region, 6) AS share,
         |  'ok' AS ndv_broadcast, 'ok' AS no_cbo_sortmerge
         |FROM by_nation bn JOIN by_region br ON bn.region = br.region
         |ORDER BY bn.region, bn.nation""".stripMargin,
    "q_tpcds_q14_intersect" ->
      s"""WITH both_ch AS (
         |  SELECT l_partkey FROM $LSTAR WHERE r_name = 'ASIA'
         |  INTERSECT
         |  SELECT l_partkey FROM $LSTAR WHERE r_name = 'EUROPE')
         |SELECT p_brand, count(*) AS n_parts
         |FROM both_ch JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_tpcds_q23_cte" ->
      s"""WITH part_counts AS (
         |  SELECT l_partkey, count(*) AS n_lines
         |  FROM lineitem GROUP BY 1),
         |freq_parts AS (
         |  SELECT l_partkey FROM part_counts
         |  WHERE n_lines > (SELECT CAST(sum(n_lines) AS DOUBLE)
         |                     / count(*) FROM part_counts)),
         |cust_rev AS (
         |  SELECT o_custkey, ${Q.DSUM("o_totalprice")} AS rev
         |  FROM orders GROUP BY 1),
         |best_cust AS (
         |  SELECT o_custkey FROM cust_rev
         |  WHERE rev > 1.5 * (SELECT ${Q.DSUM("rev")} / count(*)
         |                     FROM cust_rev))
         |SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |  count(*) AS n_items,
         |  ${Q.DSUM(Q.REVENUE)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_partkey IN (SELECT l_partkey FROM freq_parts)
         |  AND o_custkey IN (SELECT o_custkey FROM best_cust)
         |GROUP BY 1 ORDER BY month""".stripMargin,
    "q_tpcds_q88_multiscan" -> {
      val hs = (0 until 8).map(i =>
        s"""CAST(sum(CASE WHEN l_quantity >= ${i * 6 + 1}
           | AND l_quantity <= ${i * 6 + 6}
           | AND l_discount >= 0.02 AND l_discount <= 0.08
           | THEN 1 ELSE 0 END) AS BIGINT) AS h${i + 1}"""
          .stripMargin.replace("\n", ""))
      s"""SELECT ${hs.mkString(",\n  ")},
         |  'ok' AS one_scan
         |FROM lineitem""".stripMargin
    })
}
