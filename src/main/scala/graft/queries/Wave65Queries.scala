package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-10 wave 65 — catalog maintenance through pure SQL
  * (`CALL lake.<proc>(…)`, Spark 4 `ProcedureCatalog`), the last
  * "needs the Scala API" gap from the r9 verdict:
  *
  *  - `q_sql_optimize`: the whole maintenance lifecycle as SQL on a
  *    16-file clone — `CALL lake.optimize(dir, 4)` then
  *    `CALL lake.optimize(dir, 2)` (receipts say 16 → ≤4 → ≤2 files),
  *    `CALL lake.vacuum(path => dir, keep_last => 1)` (frees EXACTLY
  *    the first compaction's files — the zero-copy clone's v1 files
  *    live under the shared base fixture, OUTSIDE this table root, and
  *    vacuum must never reach past the root to them), then
  *    `CALL lake.history(dir)` (only the tip retained) — and hashes
  *    the table content to prove maintenance never touched a logical
  *    row.
  *
  *  - `q_sql_changes`: CDC as a SQL table function —
  *    `SELECT … FROM lake_changes('/t', 1, 2)` (the
  *    [[graft.functions.GraftExtensions]] TVF) replays the SAME
  *    partition-confined merge as `q_cdc_pruned` and aggregates the
  *    I/D feed entirely in SQL; the feed's plan reads only the files
  *    the two manifests don't share.
  *
  * 100 TB story: OPTIMIZE/VACUUM are the operations a petabyte table
  * lives or dies by, and they were Scala-only; `CALL` puts them in the
  * warehouse user's hands, and `lake_changes` does the same for
  * incremental consumers — a downstream MV maintainer can now be pure
  * SQL end to end. The procedures return the engine's own receipts as
  * result sets, so an operator can audit file counts from SQL — no
  * metastore round-trip, no driver-side listing beyond the manifest
  * the maintenance job already reads.
  */
object Wave65Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlOptimize(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_sqlopt") { dir =>
      val opt1 = s.sql(s"CALL lake.optimize('$dir', 4)").head()
      val opt = s.sql(s"CALL lake.optimize('$dir', 2)").head()
      val vac = s.sql(
        s"CALL lake.vacuum(path => '$dir', keep_last => 1)").head()
      val hist = s.sql(s"CALL lake.history('$dir')").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(opt1.getLong(1) == 16L && opt1.getLong(2) <= 4L &&
              opt.getLong(1) == opt1.getLong(2) && opt.getLong(2) <= 2L,
            s"files ${opt1.getLong(1)} -> ${opt1.getLong(2)} -> ${
              opt.getLong(2)}"),
          // exactly compaction #1's files die; the clone's zero-copy v1
          // files live under the SHARED base root and must survive
          Q.receipt(vac.getInt(0).toLong == opt1.getLong(2),
            s"removed=${vac.getInt(0)} expected=${opt1.getLong(2)}"),
          Q.receipt(hist.map(_._1).toSeq == Seq(opt.getLong(0)) &&
              hist.head._2 == "COMPACT",
            s"history=${hist.mkString(",")}")))
        .toDF("n_rows", "sum_price", "xor_fp", "compacted",
          "vacuumed", "history_ok")
    }
  }

  def qSqlChanges(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.ordersByStatus(s, d), "graft_sqlcdc") { dir =>
      val f = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .filter(col("o_orderstatus") === "F")
      val batch =
        f.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
          .withColumn("is_delete", lit(false))
        .unionByName(f.filter(col("o_orderkey") % 13 === 0 &&
            col("o_orderkey") % 7 =!= 3)
          .withColumn("is_delete", lit(true)))
        .unionByName(f.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("is_delete", lit(false)))
      Versioned.merge(batch, dir, Seq("o_orderkey"),
        deleteCol = Some("is_delete"))
      val rows = s.sql(
        s"""SELECT op, count(*) AS n_rows,
           |  ${Q.DSUM_SPARK("o_totalprice")} AS sum_price,
           |  bit_xor(shiftrightunsigned(graft_md5_hash64(
           |    concat_ws('#', o_orderkey, o_orderstatus,
           |      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))), 4))
           |    AS xor_fp
           |FROM lake_changes('$dir', 1, 2)
           |GROUP BY op ORDER BY op""".stripMargin)
        .collect().toSeq
      import s.implicits._
      rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
        .toDF("op", "n_rows", "sum_price", "xor_fp")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_optimize" -> qSqlOptimize,
    "q_sql_changes"  -> qSqlChanges)

  val oracles: Map[String, String] = Map(
    "q_sql_optimize" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS compacted, 'ok' AS vacuumed, 'ok' AS history_ok
         |FROM fp""".stripMargin,
    "q_sql_changes" ->
      s"""WITH f AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders WHERE o_orderstatus = 'F'),
         |d AS (SELECT k, st, p FROM f
         |  WHERE k % 7 = 3 OR (k % 13 = 0 AND k % 7 <> 3)),
         |i AS (SELECT k, st, p + 100 AS p FROM f WHERE k % 7 = 3
         |  UNION ALL
         |  SELECT k + 100000000, st, p FROM f WHERE k % 101 = 0),
         |tagged AS (
         |  SELECT 'D' AS op, k, st, p FROM d
         |  UNION ALL SELECT 'I', k, st, p FROM i),
         |fp AS (SELECT op, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM tagged)
         |SELECT op, count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp
         |FROM fp GROUP BY op ORDER BY op""".stripMargin)
}
