package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-8 wave 38 — right-to-be-forgotten erasure on the versioned
  * lake:
  *
  *  - `q_gdpr_delete`: [[Versioned.delete]] — DELETE by predicate with
  *    FILE-LEVEL pruning, the Delta `DELETE` shape. The lake is
  *    initialized range-clustered on the customer key (16 files), so
  *    erasing one customer rewrites EXACTLY ONE file; the other 15
  *    carry into the new manifest by reference. The receipts prove all
  *    four contract points at once: the current snapshot is clean
  *    (zero matching rows, content fingerprint = the oracle's replay of
  *    `orders WHERE o_custkey <> 1`), the rewrite was pruned (1 file
  *    rewritten, files−1 carried), the erased row count matches the
  *    oracle's, and TIME TRAVEL still sees the pre-erasure snapshot
  *    (v1 holds exactly the deleted rows — erasure is a new version,
  *    not a mutation, so compliance deletion of history is [[Versioned
  *    .vacuum]]'s job, same as Delta's `VACUUM`-after-`DELETE`).
  *
  * 100 TB story: the find pass is a column-pruned scan of only the
  * predicate's columns; the rewrite pass reads only the hit files. With
  * ingest clustered on the erasure key (user id), one user's footprint
  * is a handful of files out of millions — I/O scales with the user,
  * not the table. Money stays on the exact integer-cent grid for the
  * fingerprint; sums use the [[Q.dsum]] exact-decimal discipline.
  */
object Wave38Queries extends QueryModule {

  /** Same 63-bit order-independent row fingerprint as the wave-25
    * lake receipts (md5 upper half >>> 4 over k#c#st#cents). */
  private def rowFp(df: DataFrame) =
    df.withColumn("fp", shiftrightunsigned(Dedup.md5Hash64(
      concat_ws("#", col("k"), col("c"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))), 4))

  def qGdprDelete(s: SparkSession, d: String): DataFrame = {
    // range-clustered on the erasure key (every row of one customer in
    // exactly one of 16 range files), obtained as a zero-copy clone of
    // the shared immutable base — the erasure rewrites against the
    // clone, staging its files under the clone's own directory
    LakeFixtures.withClone(s,
      LakeFixtures.ordersRange16(s, d), "graft_gdpr") { dir =>
      val nFilesV1 = Versioned.files(s, dir, Some(1L)).length
      val e = Versioned.delete(s, dir, col("c") === 1L)
      val v1Match = Versioned.read(s, dir, Some(1L))
        .filter(col("c") === 1L).count()
      val curMatch = Versioned.read(s, dir).filter(col("c") === 1L).count()
      val r = rowFp(Versioned.read(s, dir))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2), e.deletedRows,
          Q.receipt(e.rewritten == 1, s"rewritten=${e.rewritten}"),
          Q.receipt(e.carried == nFilesV1 - 1,
            s"carried=${e.carried} of ${nFilesV1 - 1}"),
          Q.receipt(v1Match == e.deletedRows,
            s"v1 matches=$v1Match deleted=${e.deletedRows}"),
          Q.receipt(curMatch == 0L, s"current matches=$curMatch"),
          e.version.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "deleted_rows",
          "one_file_rewritten", "carried_rest", "v1_intact", "cur_clean",
          "version")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gdpr_delete" -> qGdprDelete)

  val oracles: Map[String, String] = Map(
    "q_gdpr_delete" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b WHERE c <> 1)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM b WHERE c = 1) AS deleted_rows,
         |  'ok' AS one_file_rewritten, 'ok' AS carried_rest,
         |  'ok' AS v1_intact, 'ok' AS cur_clean, 2 AS version
         |FROM fp""".stripMargin)
}
