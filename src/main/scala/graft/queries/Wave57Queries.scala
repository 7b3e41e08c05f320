package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.sources.LakeSource
import graft.text.Dedup

/** Round-9 wave 57 — the lake as a first-class Spark DATA SOURCE
  * (DataSource V2, `graft.sources.LakeSource`):
  *
  *  - `q_dsv2_scan`: `spark.read.format("graft-lake")` over the
  *    bucket-clustered base. The pushed range filter prunes the FILE
  *    LIST at scan planning through the manifest stats (the same
  *    engine-side interval overlap as [[Versioned.readRange]]), shows
  *    up in `.explain` as `PushedFilters`, and rows are still
  *    re-filtered by Spark — pruning is provably a superset. The
  *    receipt replays BOTH the matching rows and the prune
  *    arithmetic in SQL (one file per `c DIV 100` bucket).
  *
  *  - `q_dsv2_stream`: `spark.readStream.format("graft-lake")` — lake
  *    versions as streaming offsets. The first micro-batch delivers
  *    the v1 snapshot, the next exactly the files v2 ADDED (an
  *    insert-only partition-scoped merge carries everything else by
  *    reference), through a durable parquet sink with engine-managed
  *    checkpoints.
  *
  * 100 TB story: the connector makes the table protocol available to
  * anything that speaks Spark SQL — `spark.sql` users, streaming
  * consumers, other DSv2 engines — with snapshot isolation and
  * manifest-side skipping intact. [[Versioned.read]] plans through
  * the same scan.
  */
object Wave57Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qDsv2Scan(s: SparkSession, d: String): DataFrame = {
    val dir = LakeFixtures.ordersBuckets(s, d)
    val (lo, hi) = (20L, 90L)
    val q = s.read.format("graft-lake").option("path", dir).load()
      .filter(col("c") >= lo && col("c") <= hi)
    val r = q.withColumn("fp", fpCol(col("k"), col("c"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
      .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
        expr("bit_xor(fp)").as("xf")).head()
    val (planned, total) = LakeSource.lastPlanned.get()
    // must show a NON-EMPTY pushed list — `PushedFilters: []` would
    // mean the stats-column gate regressed and pruning was lost
    val plan = q.queryExecution.executedPlan.toString
    val pushedShown = plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []")
    import s.implicits._
    Seq((r.getLong(0), r.getDouble(1), r.getLong(2), planned, total,
        Q.receipt(pushedShown, "PushedFilters missing or empty in plan")))
      .toDF("n_rows", "sum_price", "xor_fp", "files_read", "files_total",
        "pushed_shown")
  }

  def qDsv2Stream(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_dstr") { work =>
      val (dir, out, cp) = (s"$work/t", s"$work/out", s"$work/cp")
      Versioned.clone(s, LakeFixtures.ordersEvensByStatus(s, d), dir)
      // v2: INSERT-ONLY commit (fresh partition X) — append contract
      Versioned.merge(Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), lit("X").as("st"),
          col("o_totalprice").as("p")),
        dir, Seq("k"))
      val q = s.readStream.format("graft-lake").option("path", dir)
        .load().writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      val r = s.read.parquet(out)
        .withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2), 2L))
        .toDF("n_rows", "sum_price", "xor_fp", "versions_consumed")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsv2_scan"   -> qDsv2Scan,
    "q_dsv2_stream" -> qDsv2Stream)

  val oracles: Map[String, String] = Map(
    "q_dsv2_scan" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_totalprice AS p, o_custkey // 100 AS bkt
         |  FROM orders),
         |hit AS (SELECT k, c, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b WHERE c BETWEEN 20 AND 90),
         |bk AS (SELECT bkt, min(c) AS mn, max(c) AS mx FROM b GROUP BY 1)
         |SELECT (SELECT count(*) FROM hit) AS n_rows,
         |  (SELECT ${Q.DSUM("p")} FROM hit) AS sum_price,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM hit) AS xor_fp,
         |  (SELECT CAST(count(*) AS INTEGER) FROM bk
         |     WHERE mn <= 90 AND mx >= 20) AS files_read,
         |  (SELECT CAST(count(*) AS INTEGER) FROM bk) AS files_total,
         |  'ok' AS pushed_shown""".stripMargin,
    "q_dsv2_stream" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0
         |  UNION ALL
         |  SELECT o_orderkey, 'X', o_totalprice
         |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  2 AS versions_consumed
         |FROM fp""".stripMargin)
}
