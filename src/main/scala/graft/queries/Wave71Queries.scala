package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scratch, Session}
import graft.io.Tables
import graft.text.Similarity

/** Round-14 wave 71 — TPC-DS starter shapes + the IVF+PQ composite:
  *
  * TPC-H's 22 queries never exercise multi-level aggregation
  * (ROLLUP/CUBE/GROUPING SETS), cumulative window-over-union, or
  * top-k-within-rollup-level — the TPC-DS staples. These five bring
  * those shapes onto the existing star schema, each with a full
  * DuckDB oracle:
  *
  *  - `q_tpcds_rollup` (Q36 shape): revenue ROLLUP over the
  *    region→nation hierarchy of the customer star, grouping_id as
  *    the hierarchy level. One pass: Spark expands rollup levels
  *    inside a single hash aggregate (Expand + partial agg), so the
  *    star join runs ONCE for all three levels — at 100 TB that is
  *    the whole point of rollup vs three unioned groupBys.
  *  - `q_tpcds_gsets` (Q27 shape): GROUPING SETS
  *    ((region, mktsegment), (region), ()) — the non-hierarchical
  *    multi-grain report rollup cannot express.
  *  - `q_tpcds_cube` (Q67-family grain explosion): CUBE over
  *    (returnflag, linestatus) with count/revenue/avg-discount.
  *  - `q_tpcds_q51` (window-over-union): daily order revenue vs
  *    daily shipped-lineitem revenue, FULL OUTER joined per day,
  *    CUMULATIVE sums compared month by month. Scale shape: both
  *    sides aggregate to O(days) rows FIRST (shuffle on the date
  *    key), and only the tiny daily frame feeds the ordered window —
  *    never a global sort of fact rows. Cumulative sums accumulate
  *    in DECIMAL(30,8), so the running value is order-exact on both
  *    engines (a double running sum would drift in the last ulps).
  *  - `q_tpcds_topk_rollup` (Q67 shape): rank() within each rollup
  *    LEVEL (partition = grouping_id) over the level's revenue,
  *    top 3 rows per level.
  *
  *  - `q_ann_ivfpq`: the IVF+PQ composite ([[Similarity.ivfPqTopK]],
  *    IVFADC): coarse cells bound the corpus fraction a query
  *    touches, PQ residual codes bound the bytes per touched vector,
  *    exact re-rank restores order on the shortlist. Same recall-
  *    audit shape as `q_ann_pq`/`q_ann_ivf`; measured recall@5 =
  *    0.880 / 0.860 / 0.760 at sf0.001/0.01/0.1 against exact top-k
  *    (dial 8 cells / 5 probed / 16×32 codes / 64 shortlist — beats
  *    plain IVF's 0.52–0.64 because residual-PQ + exact re-rank
  *    recovers in-cell order), floor 0.6 under the band with margin.
  *    `IvfPqSpec` pins candidates ⊆ probed cells.
  */
object Wave71Queries extends QueryModule {

  private def star(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val o = Tables.load(s, d, "orders")
    val c = Tables.load(s, d, "customer")
    val n = Tables.load(s, d, "nation")
    val r = Tables.load(s, d, "region")
    // dims broadcast (nation/region are tiny at any SF; customer
    // rides the fact shuffle — at 100 TB it exceeds the broadcast
    // budget, so leave that join to AQE)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  private val revenue = expr("l_extendedprice * (1 - l_discount)")

  // ---- ROLLUP over the region→nation hierarchy (TPC-DS Q36) ----

  def qTpcdsRollup(s: SparkSession, d: String): DataFrame =
    star(s, d)
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        Q.dsum(revenue).as("revenue"),
        Q.davg(col("l_quantity")).as("avg_qty"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_items"), col("revenue"), col("avg_qty"))
      .orderBy("gid", "region", "nation")

  // ---- GROUPING SETS ((region, segment), (region), ()) (Q27) ----

  def qTpcdsGsets(s: SparkSession, d: String): DataFrame =
    star(s, d)
      .groupingSets(
        Seq(Seq(col("r_name"), col("c_mktsegment")),
          Seq(col("r_name")), Seq.empty),
        col("r_name"), col("c_mktsegment"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        Q.dsum(revenue).as("revenue"),
        Q.davg(col("c_acctbal")).as("avg_bal"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_items"), col("revenue"), col("avg_bal"))
      .orderBy("gid", "region", "segment")

  // ---- CUBE over (returnflag, linestatus) ----

  def qTpcdsCube(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_items"),
        Q.dsum(col("l_extendedprice")).as("sum_price"),
        Q.davg(col("l_discount")).as("avg_disc"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n_items"), col("sum_price"), col("avg_disc"))
      .orderBy("gid", "rflag", "lstatus")

  // ---- cumulative window over a full-joined union (Q51) ----

  def qTpcdsQ51(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(30, 8)
    // aggregate each side to O(days) rows BEFORE any ordered window
    val web = Tables.load(s, d, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice").cast(dec)).as("web_rev"))
    val store = Tables.load(s, d, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(revenue.cast(dec)).as("store_rev"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cumulative in DECIMAL — associative-exact, so the running value
    // is identical on both engines regardless of how each folds the
    // frame; cast to double only on output
    val daily = web.join(store, Seq("day"), "full_outer")
      .withColumn("cum_web",
        sum(coalesce(col("web_rev"), lit(0).cast(dec))).over(w))
      .withColumn("cum_store",
        sum(coalesce(col("store_rev"), lit(0).cast(dec))).over(w))
    daily.groupBy(substring(col("day"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("cum_web") > col("cum_store"), 1L)
          .otherwise(0L)).as("days_web_ahead"),
        max(col("cum_web")).cast("double").as("cum_web_eom"),
        max(col("cum_store")).cast("double").as("cum_store_eom"))
      .orderBy("month")
  }

  // ---- top-k within each rollup level (Q67) ----

  def qTpcdsTopkRollup(s: SparkSession, d: String): DataFrame = {
    val lv = star(s, d)
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("gid"),
        Q.dsum(revenue).as("revenue"))
      .select(col("gid"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue"))
    // partition = rollup LEVEL: the window runs over the already-
    // aggregated level rows (O(groups), not O(fact rows))
    val w = Window.partitionBy("gid")
      .orderBy(col("revenue").desc, col("region"), col("nation"))
    lv.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("gid"), col("rk"), col("region"), col("nation"),
        col("revenue"))
      .orderBy("gid", "rk")
  }

  // ---- IVF+PQ composite ANN ----

  /** Recall-audit row (the `q_ann_pq` shape): found set is
    * approximation-specific, the audit is oracle-checkable. Dial
    * SCALES with the corpus (the r14 fixed 8/5/64 dial decayed
    * 0.88 → 0.76 as SF grew): nLists = ⌈√n⌉, 60 % probed, shortlist
    * 4√n — measured recall@5 0.94 / 0.96 / 0.94 at sf0.001/0.01/0.1
    * (PLANS_r15.md), flat across corpus size because both the
    * cell count and the re-rank budget grow with √n. Floor 0.8 under
    * the band with margin. */
  def qAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = Q.spread(Tables.load(s, d, "embeddings"))
    val root = math.ceil(math.sqrt(e.count().toDouble)).toInt
    val q = e.filter(col("vec_id") < lit(10L))
    Similarity.recallAtK(
      Similarity.ivfPqTopK(e, q, k = 5, nLists = root,
        nProbe = math.max(1, math.ceil(root * 0.6).toInt),
        nSub = 16, nCodes = 32, shortlist = math.max(64, 4 * root)),
      Similarity.bruteForceTopK(e, q, k = 5), k = 5, floor = 0.8)
  }

  // ---- manifest NDV sketches driving a CBO broadcast decision ----

  /** Manifest HLL → planner distinct counts → a PLAN-TIME flip. Two
    * identical lake tables, one with `g` registered for stats (per-
    * file HLL sketches logged at commit, union'd into `columnStats`
    * by the DSv2 scan), one without. Under CBO the aggregate
    * `groupBy(g)` on the sketched table is estimated at ~NDV(g)=5
    * rows, so its join back to the fact side BROADCASTS at plan time;
    * the unsketched twin falls back to size-based aggregate estimates
    * and sort-merges. AQE could convert the latter only AFTER paying
    * the shuffle's map side — at 100 TB the static right plan is the
    * win, which is exactly what manifest NDV buys. Receipts pin both
    * plans and the CBO's estimated aggregate row count; data columns
    * prove the broadcast plan computes the right answer. */
  def qLakeNdvCbo(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_ndv") { work =>
      val (withS, noS) = (s"$work/a", s"$work/b")
      val data = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("p"),
        (col("o_orderkey") % 5).as("g"))
      graft.ops.Versioned.init(data.repartition(4), withS,
        statsCols = Seq("g"))
      graft.ops.Versioned.init(data.repartition(4), noS)
      Session.withConf(s, "spark.sql.cbo.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "8192") {
        def shaped(dir: String) = {
          val t = s.read.format("graft-lake").option("path", dir).load()
          val agg = t.groupBy("g").agg(count(lit(1)).as("n_g"))
          t.join(agg, "g")
        }
        // r17 (guide §6 metadata, the q_tpcds_share_lake fix): ONE
        // planned instance of the sketched table feeds both receipts
        // and the output below — each shaped() call re-loads the lake
        // table (a manifest-read job) for a byte-identical plan.
        val withShaped = shaped(withS)
        val withPlan = withShaped.queryExecution.executedPlan.toString
        val noPlan = shaped(noS).queryExecution.executedPlan.toString
        // the estimate the CBO actually used for the sketched aggregate
        val aggRows = withShaped.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            a.stats.rowCount
        }.flatten.headOption.getOrElse(BigInt(-1))
        val rNdv = Q.receipt(
          withPlan.contains("BroadcastHashJoin") &&
            aggRows >= BigInt(1) && aggRows <= BigInt(10),
          s"manifest NDV must broadcast the 5-group aggregate: " +
            s"aggRows=$aggRows plan=${withPlan.take(400)}")
        val rNo = Q.receipt(
          noPlan.contains("SortMergeJoin") &&
            !noPlan.contains("BroadcastHashJoin"),
          s"without NDV the same shape must sort-merge: " +
            s"plan=${noPlan.take(400)}")
        val out = withShaped.groupBy("g")
          .agg(count(lit(1)).as("n_orders"),
            Q.dsum(col("p")).as("revenue"),
            max(col("n_g")).as("n_g"))
          .orderBy("g")
        import s.implicits._
        out.collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getLong(3), rNdv, rNo))
          .toDF("g", "n_orders", "revenue", "n_g",
            "ndv_broadcast", "no_ndv_sortmerge")
      }
    }
  }

  // ---- zero-copy clone through SQL ----

  /** `CALL lake.clone` — the branch/experiment workflow's missing SQL
    * verb (CREATE TABLE ... CLONE): version 1 of the clone carries the
    * source's files BY REFERENCE (one metadata write at any table
    * size — receipt pins shared == total), and writes to the clone
    * stage under its own root (receipt pins the source unchanged). */
  def qSqlClone(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqlclone") { work =>
      val (a, b) = (s"$work/a", s"$work/b")
      val o = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      graft.ops.Versioned.init(
        o.filter(col("k") % 2 === 0).repartition(4), a)
      val r = s.sql(s"CALL lake.clone('$a', '$b')").head()
      val rZero = Q.receipt(
        r.getLong(0) == 1L && r.getLong(1) > 0L &&
          r.getLong(2) == r.getLong(1),
        s"shallow clone must share every file by reference: " +
          s"v=${r.getLong(0)} files=${r.getLong(1)} shared=${r.getLong(2)}")
      // diverge the clone; the source must not move
      graft.ops.Versioned.append(
        o.filter(col("k") % 2 === 1).repartition(2), b)
      def m(dir: String) = {
        val x = graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp")).head()
        (x.getLong(0), x.getDouble(1))
      }
      val (nSrc, spSrc) = m(a)
      val (nCl, spCl) = m(b)
      val rInd = Q.receipt(
        graft.ops.Versioned.currentVersion(s, a).contains(1L) &&
          nCl > nSrc,
        s"clone writes must not touch the source: srcV=" +
          s"${graft.ops.Versioned.currentVersion(s, a)} nCl=$nCl nSrc=$nSrc")
      import s.implicits._
      Seq((nSrc, spSrc, nCl, spCl, rZero, rInd))
        .toDF("n_src", "sum_src", "n_clone", "sum_clone",
          "zero_copy", "independent")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpcds_rollup"      -> qTpcdsRollup,
    "q_tpcds_gsets"       -> qTpcdsGsets,
    "q_tpcds_cube"        -> qTpcdsCube,
    "q_tpcds_q51"         -> qTpcdsQ51,
    "q_tpcds_topk_rollup" -> qTpcdsTopkRollup,
    "q_ann_ivfpq"         -> qAnnIvfPq,
    "q_lake_ndv_cbo"      -> qLakeNdvCbo,
    "q_sql_clone"         -> qSqlClone)

  private val STAR =
    """lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey""".stripMargin

  private val REV = "l_extendedprice * (1 - l_discount)"

  val oracles: Map[String, String] = Map(
    "q_tpcds_rollup" ->
      s"""SELECT CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
         |  coalesce(r_name, 'ALL') AS region,
         |  coalesce(n_name, 'ALL') AS nation,
         |  count(*) AS n_items,
         |  ${Q.DSUM(REV)} AS revenue,
         |  ${Q.DSUM("l_quantity")} / count(l_quantity) AS avg_qty
         |FROM $STAR
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY gid, region, nation""".stripMargin,
    "q_tpcds_gsets" ->
      s"""SELECT CAST(GROUPING(r_name, c_mktsegment) AS BIGINT) AS gid,
         |  coalesce(r_name, 'ALL') AS region,
         |  coalesce(c_mktsegment, 'ALL') AS segment,
         |  count(*) AS n_items,
         |  ${Q.DSUM(REV)} AS revenue,
         |  ${Q.DSUM("c_acctbal")} / count(c_acctbal) AS avg_bal
         |FROM $STAR
         |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
         |ORDER BY gid, region, segment""".stripMargin,
    "q_tpcds_cube" ->
      s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
         |    AS gid,
         |  coalesce(l_returnflag, 'ALL') AS rflag,
         |  coalesce(l_linestatus, 'ALL') AS lstatus,
         |  count(*) AS n_items,
         |  ${Q.DSUM("l_extendedprice")} AS sum_price,
         |  ${Q.DSUM("l_discount")} / count(l_discount) AS avg_disc
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, rflag, lstatus""".stripMargin,
    "q_tpcds_q51" ->
      s"""WITH web AS (
         |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         |         sum(CAST(o_totalprice AS DECIMAL(30,8))) AS web_rev
         |  FROM orders GROUP BY 1),
         |store AS (
         |  SELECT strftime(l_shipdate, '%Y-%m-%d') AS day,
         |         sum(CAST($REV AS DECIMAL(30,8))) AS store_rev
         |  FROM lineitem GROUP BY 1),
         |daily AS (
         |  SELECT coalesce(web.day, store.day) AS day,
         |    sum(coalesce(web_rev, 0))
         |      OVER (ORDER BY coalesce(web.day, store.day)
         |            ROWS UNBOUNDED PRECEDING) AS cum_web,
         |    sum(coalesce(store_rev, 0))
         |      OVER (ORDER BY coalesce(web.day, store.day)
         |            ROWS UNBOUNDED PRECEDING) AS cum_store
         |  FROM web FULL OUTER JOIN store ON web.day = store.day)
         |SELECT substring(day, 1, 7) AS month,
         |  count(*) AS n_days,
         |  CAST(sum(CASE WHEN cum_web > cum_store THEN 1 ELSE 0 END)
         |    AS BIGINT) AS days_web_ahead,
         |  CAST(CAST(max(cum_web) AS VARCHAR) AS DOUBLE) AS cum_web_eom,
         |  CAST(CAST(max(cum_store) AS VARCHAR) AS DOUBLE)
         |    AS cum_store_eom
         |FROM daily GROUP BY 1 ORDER BY month""".stripMargin,
    "q_tpcds_topk_rollup" ->
      s"""WITH lv AS (
         |  SELECT CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
         |    coalesce(r_name, 'ALL') AS region,
         |    coalesce(n_name, 'ALL') AS nation,
         |    ${Q.DSUM(REV)} AS revenue
         |  FROM $STAR
         |  GROUP BY ROLLUP(r_name, n_name)),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY gid
         |    ORDER BY revenue DESC, region, nation) AS rk
         |  FROM lv)
         |SELECT gid, CAST(rk AS INTEGER) AS rk, region, nation, revenue
         |FROM rk WHERE rk <= 3 ORDER BY gid, rk""".stripMargin,
    "q_ann_ivfpq" ->
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_lake_ndv_cbo" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p,
         |    o_orderkey % 5 AS g FROM orders)
         |SELECT g, count(*) AS n_orders, ${Q.DSUM("p")} AS revenue,
         |  count(*) AS n_g,
         |  'ok' AS ndv_broadcast, 'ok' AS no_ndv_sortmerge
         |FROM t GROUP BY g ORDER BY g""".stripMargin,
    "q_sql_clone" ->
      s"""WITH e AS (SELECT o_orderkey AS k, o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0)
         |SELECT (SELECT count(*) FROM e) AS n_src,
         |  (SELECT ${Q.DSUM("p")} FROM e) AS sum_src,
         |  (SELECT count(*) FROM orders) AS n_clone,
         |  (SELECT ${Q.DSUM("o_totalprice")} FROM orders) AS sum_clone,
         |  'ok' AS zero_copy, 'ok' AS independent""".stripMargin)
}
