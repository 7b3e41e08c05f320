package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 62 — SQL `DELETE FROM` as merge-on-read:
  *
  *  - `q_sql_delete`: `DELETE FROM lake.`<path>` WHERE st = 'F'`
  *    lands on the DSv2 `SupportsDelete` hook and runs
  *    [[Versioned.deleteVectored]] — the commit writes (file,
  *    position) deletion-vector entries for exactly the matching
  *    rows, NO file is rewritten (the receipt pins v2's file set ==
  *    v1's), and readers anti-join the vector map-side. Predicates
  *    SQL can't express as source filters are refused at analysis
  *    (`canDeleteWhere`), so a DELETE either runs with the engine's
  *    semantics or fails loudly — never a silent partial.
  *
  * 100 TB story: an erasure request costs O(deleted rows) metadata,
  * is available to plain SQL, and compaction amortizes the rewrite
  * later — the Delta/Iceberg v2 merge-on-read contract end to end.
  */
object Wave62Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlDelete(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersByStatus(s, d),
      "graft_sqldel") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      s.sql(s"DELETE FROM lake.`$dir` WHERE o_orderstatus = 'F'")
      val v2Files = Versioned.files(s, dir).toSet
      val noRewrite = v2Files == v1Files
      val dvPresent = Versioned.deletionVector(s, dir).nonEmpty
      val opOk =
        Versioned.history(s, dir).last.operation == "DELETE_VECTORED"
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(noRewrite,
            s"v2 wrote ${(v2Files -- v1Files).size} new files"),
          Q.receipt(dvPresent, "no deletion vector after SQL DELETE"),
          Q.receipt(opOk,
            s"last op=${Versioned.history(s, dir).last.operation}")))
        .toDF("n_rows", "sum_price", "xor_fp", "no_rewrite",
          "dv_present", "op_ok")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_delete" -> qSqlDelete)

  val oracles: Map[String, String] = Map(
    "q_sql_delete" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders WHERE o_orderstatus <> 'F'),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS no_rewrite, 'ok' AS dv_present, 'ok' AS op_ok
         |FROM fp""".stripMargin)
}
