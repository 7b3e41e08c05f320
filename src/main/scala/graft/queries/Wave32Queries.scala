package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-8 wave 32 — metadata-only table operations + aggregate reuse:
  *
  *  - `q_shallow_clone`: [[Versioned.clone]] publishes a 100 TB table
  *    as a new table for the cost of ONE manifest write — data files
  *    shared by reference. The receipts prove the three contract
  *    points: the clone initially references EXACTLY the source's
  *    files (n_shared_before = 16), a merge into the clone diverges it
  *    without touching the source (source content still the v1 lake,
  *    clone content the standard merged replay), and the clone's full
  *    rewrite ends the sharing (n_shared_after = 0).
  *  - `q_mv_rewrite`: aggregate-reuse — the monthly revenue rollup
  *    answered FROM the daily materialized view instead of the base
  *    table, proven bit-equal to the base-table answer. The MV keeps
  *    its partial sums in EXACT DECIMAL (never pre-rounded to double),
  *    which is precisely what makes MV rollup sound at any re-grouping
  *    — the same invariant that makes the engine's sums
  *    layout-independent. At 100 TB this is the difference between
  *    scanning 365 daily rows and re-scanning the fact table.
  */
object Wave32Queries extends QueryModule {

  def qShallowClone(s: SparkSession, d: String): DataFrame = {
    // the "production" source IS the shared immutable base — cloning
    // it is the exact scenario the fixture registry models; the clone
    // diverges under its own directory and the source is never written
    val src = LakeFixtures.ordersEvens16(s, d)
    Scratch.withDir("graft_clone") { root =>
      val dst = root + "/dst"
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
      val lake = base.filter(col("k") % 2 === 0)
      Versioned.clone(s, src, dst)
      val srcFiles = Versioned.files(s, src).toSet
      val sharedBefore = Versioned.files(s, dst).count(srcFiles.contains)
      val updates = lake.filter(col("k") % 3 === 0)
        .withColumn("p", col("p") + lit(10.0))
        .withColumn("is_delete", lit(false))
      val deletes = lake.filter(col("k") % 7 === 0 && col("k") % 3 =!= 0)
        .withColumn("is_delete", lit(true))
      val inserts = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
        .withColumn("is_delete", lit(false))
      val cloneV = Versioned.merge(
        updates.unionByName(deletes).unionByName(inserts),
        dst, Seq("k"), deleteCol = Some("is_delete"))
      val sharedAfter = Versioned.files(s, dst).count(srcFiles.contains)
      def receipt(df: DataFrame) = df.withColumn("fp",
          shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", col("k"),
            col("c"), col("st"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))), 4))
        .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("x")).head()
      val sr = receipt(Versioned.read(s, src))
      val cr = receipt(Versioned.read(s, dst))
      import s.implicits._
      Seq((sr.getLong(0), sr.getLong(1), cr.getLong(0), cr.getLong(1),
          sharedBefore, sharedAfter,
          Versioned.currentVersion(s, src).get.toInt, cloneV.toInt))
        .toDF("src_rows", "src_xor", "clone_rows", "clone_xor",
          "n_shared_before", "n_shared_after", "src_version",
          "clone_version")
    }
  }

  def qMvRewrite(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    // the materialized view: daily revenue, partial sums in EXACT
    // decimal (re-aggregable at any coarser grain)
    val mv = li.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Q.revenue.cast(DecimalType(30, 8))).as("rev"),
        count(lit(1)).as("n"))
    val fromMv = mv
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(sum(col("rev")).cast(DoubleType).as("revenue_mv"),
        sum(col("n")).as("n_rows"), count(lit(1)).as("n_days"))
    val fromBase = li
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(Q.dsum(Q.revenue).as("revenue_base"))
    fromMv.join(fromBase, Seq("month"))
      .select(col("month"), col("revenue_mv"), col("revenue_base"),
        col("n_rows"), col("n_days"),
        (col("revenue_mv") === col("revenue_base")).cast("int").as("ok"))
      .orderBy("month")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shallow_clone" -> qShallowClone,
    "q_mv_rewrite" -> qMvRewrite)

  val oracles: Map[String, String] = Map(
    "q_shallow_clone" ->
      s"""${Wave25Queries.v2Cte},
         |src AS (SELECT st,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM lake)
         |SELECT
         |  (SELECT count(*) FROM src) AS src_rows,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM src) AS src_xor,
         |  (SELECT count(*) FROM fp) AS clone_rows,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM fp) AS clone_xor,
         |  16 AS n_shared_before, 0 AS n_shared_after,
         |  1 AS src_version, 2 AS clone_version""".stripMargin,
    "q_mv_rewrite" ->
      s"""WITH mv AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |    sum(CAST(${Q.REVENUE} AS DECIMAL(30,8))) AS rev,
         |    count(*) AS n
         |  FROM lineitem GROUP BY 1),
         |from_mv AS (
         |  SELECT strftime(day, '%Y-%m') AS month,
         |    CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE) AS revenue_mv,
         |    CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_days
         |  FROM mv GROUP BY 1),
         |from_base AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
         |    ${Q.DSUM(Q.REVENUE)} AS revenue_base
         |  FROM lineitem GROUP BY 1)
         |SELECT month, revenue_mv, revenue_base, n_rows, n_days,
         |  CAST(revenue_mv = revenue_base AS INTEGER) AS ok
         |FROM from_mv JOIN from_base USING (month)
         |ORDER BY month""".stripMargin)
}
