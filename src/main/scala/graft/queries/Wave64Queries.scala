package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-10 wave 64 — SQL row-level DML and the real V2 write, end to
  * end through the catalog (the two statements r9 still required the
  * Scala API for):
  *
  *  - `q_sql_update`: `UPDATE lake.`<path>` SET … WHERE k % 7 = 3` —
  *    a predicate source filters can't even express — runs Spark's
  *    row-level UPDATE rewrite against the connector's delta write:
  *    matched rows become deletion-vector entries + appended updated
  *    copies, committed as `UPDATE_SQL` with ZERO files rewritten
  *    (receipt-pinned: v1's file set survives in the new manifest).
  *
  *  - `q_sql_merge`: a 3-clause `MERGE INTO` (matched-delete,
  *    matched-update, not-matched-insert) evaluated entirely by
  *    Spark's MERGE rewrite — cardinality check included — and
  *    committed as ONE `MERGE_SQL` merge-on-read delta.
  *
  *  - `q_dsv2_write`: `df.writeTo("lake.`<path>`").append()` takes
  *    the REAL V2 batch write: executor tasks stage parquet files
  *    under the table's convention (the `gbatch=ba…` prefix is the
  *    receipt that no driver-side V1 shim ran) and the driver folds
  *    their commit messages into one APPEND commit.
  *
  * 100 TB story: a warehouse user types UPDATE / MERGE / INSERT and
  * gets the engine's O(touched rows) merge-on-read economics with the
  * row traffic fanned across executors — the driver only ever sees
  * file paths. Scale note: the update/merge delta writers never hold
  * rows in memory (parquet pages only) and the deletion-vector
  * sidecars ride file-at-a-time into the commit union.
  */
object Wave64Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlUpdate(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersByStatus(s, d),
      "graft_sqlupd") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      s.sql(s"UPDATE lake.`$dir` SET o_totalprice = o_totalprice + 100.0 " +
        "WHERE o_orderkey % 7 = 3")
      val carried = v1Files.subsetOf(Versioned.files(s, dir).toSet)
      val dvRows = Versioned.deletionVector(s, dir).map(_.count())
        .getOrElse(0L)
      val ops = Versioned.history(s, dir).map(_.operation)
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(carried, s"missing=${
            v1Files.diff(Versioned.files(s, dir).toSet).take(3)
              .mkString(";")}"),
          Q.receipt(dvRows > 0L, s"dvRows=$dvRows"),
          Q.receipt(ops == Seq("CLONE", "UPDATE_SQL"),
            s"history=${ops.mkString(",")}")))
        .toDF("n_rows", "sum_price", "xor_fp", "no_rewrite",
          "dv_present", "op_ok")
    }
  }

  def qSqlMerge(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_sqlmrg") { dir =>
      val orders = LakeFixtures.ordersBase(s, d)
      // matched rows: even ∧ k%3=0; unmatched: odd ∧ k%5=0
      orders.filter((col("k") % 2 === 0 && col("k") % 3 === 0) ||
          (col("k") % 2 === 1 && col("k") % 5 === 0))
        .createOrReplaceTempView("graft_m64_src")
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      s.sql(
        s"""MERGE INTO lake.`$dir` t USING graft_m64_src s ON t.k = s.k
           |WHEN MATCHED AND s.k % 5 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.p = t.p + 1000.0
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val carried = v1Files.subsetOf(Versioned.files(s, dir).toSet)
      val ops = Versioned.history(s, dir).map(_.operation)
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(carried, s"missing=${
            v1Files.diff(Versioned.files(s, dir).toSet).take(3)
              .mkString(";")}"),
          Q.receipt(ops == Seq("CLONE", "MERGE_SQL"),
            s"history=${ops.mkString(",")}")))
        .toDF("n_rows", "sum_price", "xor_fp", "no_rewrite", "op_ok")
    }
  }

  def qDsv2Write(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_v2wr") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      LakeFixtures.ordersBase(s, d)
        .filter(col("k") % 2 === 1 && col("k") % 7 === 0)
        .writeTo(s"lake.`$dir`").append()
      val after = Versioned.files(s, dir).toSet
      val added = after.diff(v1Files)
      val ops = Versioned.history(s, dir).map(_.operation)
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(v1Files.subsetOf(after), s"missing=${
            v1Files.diff(after).take(3).mkString(";")}"),
          Q.receipt(added.nonEmpty && added.forall(_.contains("/gbatch=ba")),
            s"added=${added.take(3).mkString(";")}"),
          Q.receipt(ops == Seq("CLONE", "APPEND"),
            s"history=${ops.mkString(",")}")))
        .toDF("n_rows", "sum_price", "xor_fp", "no_rewrite",
          "executor_staged", "op_ok")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_update" -> qSqlUpdate,
    "q_sql_merge"  -> qSqlMerge,
    "q_dsv2_write" -> qDsv2Write)

  val oracles: Map[String, String] = Map(
    "q_sql_update" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 100.0
         |         ELSE o_totalprice END AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS no_rewrite, 'ok' AS dv_present, 'ok' AS op_ok
         |FROM fp""".stripMargin,
    "q_sql_merge" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st,
         |    CASE WHEN o_orderkey % 6 = 0 AND o_orderkey % 5 <> 0
         |         THEN o_totalprice + 1000.0
         |         ELSE o_totalprice END AS p
         |  FROM orders
         |  WHERE (o_orderkey % 2 = 0
         |         AND NOT (o_orderkey % 6 = 0 AND o_orderkey % 5 = 0))
         |     OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS no_rewrite, 'ok' AS op_ok
         |FROM fp""".stripMargin,
    "q_dsv2_write" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders
         |  WHERE o_orderkey % 2 = 0
         |     OR (o_orderkey % 2 = 1 AND o_orderkey % 7 = 0)),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS no_rewrite, 'ok' AS executor_staged, 'ok' AS op_ok
         |FROM fp""".stripMargin)
}
