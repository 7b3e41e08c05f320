package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 40 — manifest-resident file statistics and
  * merge-on-read UPDATE:
  *
  *  - `q_lake_skipping`: [[Versioned.readRange]] — per-file min/max
  *    stats live IN the parquet manifest (metadata as data, the
  *    Iceberg shape; registered at [[Versioned.init]], computed per
  *    commit for exactly the staged batch, carried by reference for
  *    untouched files), and a range probe opens only the files whose
  *    stats interval overlaps. The lake is bucket-clustered on the
  *    customer key (one file per `c DIV 100` bucket), so BOTH sides
  *    of the receipt are SQL-replayable: the matching rows AND the
  *    prune arithmetic itself (files_total = distinct buckets,
  *    files_read = buckets whose true [min, max] overlaps the probe).
  *
  *  - `q_update_vectored`: [[Versioned.updateVectored]] — UPDATE as
  *    deletion-vector + appended updated copies: zero files
  *    rewritten, the whole prior manifest carried, write cost
  *    O(updated rows); the oracle replays the SET with a CASE. The
  *    receipts also pin time-travel isolation and that [[Versioned
  *    .compact]] folds the vector away with a stable fingerprint.
  *
  * 100 TB story: stats pruning turns a selective range probe from a
  * full-table scan into the predicate's true file footprint when the
  * layout clusters the column (compact's job); vectored UPDATE is the
  * small-mutation amortization — the hourly metadata-correction pass
  * over a petabyte table costs the corrected rows, not the table.
  */
object Wave40Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qLakeSkipping(s: SparkSession, d: String): DataFrame = {
    // READ-ONLY probe over the shared bucket-clustered base (one file
    // per `c DIV 100` bucket, stats on c) — no clone needed
    val dir = LakeFixtures.ordersBuckets(s, d)
    locally {
      val (lo, hi) = (20d, 90d)
      val pr = Versioned.readRange(s, dir, "c", lo, hi)
      val r = pr.df.filter(col("c").between(lo, hi))
        .withColumn("fp", fpCol(col("k"), col("c"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      // superset guarantee, checked against the unpruned read
      val full = Versioned.read(s, dir).filter(col("c").between(lo, hi))
        .count()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          pr.filesRead, pr.filesTotal,
          Q.receipt(r.getLong(0) == full,
            s"pruned=${r.getLong(0)} full=$full")))
        .toDF("n_rows", "sum_price", "xor_fp", "files_read", "files_total",
          "superset_ok")
    }
  }

  def qUpdateVectored(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.ordersRange16(s, d), "graft_upd") { dir =>
      val u = Versioned.updateVectored(s, dir, col("c") % 10 === 7,
        Map("st" -> lit("X"), "p" -> (col("p") + lit(100.0))))
      def receipt(df: DataFrame) = df
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("s"),
          expr("bit_xor(fp)").as("x")).head()
      val cur = receipt(Versioned.read(s, dir))
      val v1Touched = Versioned.read(s, dir, Some(1L))
        .filter(col("st") === "X").count()
      val dvPresent = Versioned.deletionVector(s, dir).nonEmpty
      Versioned.compact(s, dir, targetFiles = 8)
      val dvCleared = Versioned.deletionVector(s, dir).isEmpty
      val after = receipt(Versioned.read(s, dir))
      val fpStable = cur.getLong(0) == after.getLong(0) &&
        cur.getLong(2) == after.getLong(2)
      import s.implicits._
      Seq((cur.getLong(0), cur.getDouble(1), cur.getLong(2), u.updatedRows,
          Q.receipt(u.carried == 16, s"carried=${u.carried} of 16"),
          Q.receipt(v1Touched == 0L, s"v1 touched=$v1Touched"),
          Q.receipt(dvPresent, "no deletion vector before compact"),
          Q.receipt(dvCleared, "deletion vector survived compact"),
          Q.receipt(fpStable,
            s"n ${cur.getLong(0)}->${after.getLong(0)} xor " +
              s"${cur.getLong(2)}->${after.getLong(2)}"),
          u.version.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "updated_rows",
          "carried_all", "v1_intact", "dv_present", "dv_cleared",
          "fp_stable", "version")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lake_skipping"   -> qLakeSkipping,
    "q_update_vectored" -> qUpdateVectored)

  val oracles: Map[String, String] = Map(
    "q_lake_skipping" ->
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
         |  'ok' AS superset_ok""".stripMargin,
    "q_update_vectored" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    CASE WHEN o_custkey % 10 = 7 THEN 'X'
         |         ELSE o_orderstatus END AS st,
         |    CASE WHEN o_custkey % 10 = 7 THEN o_totalprice + 100
         |         ELSE o_totalprice END AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM orders WHERE o_custkey % 10 = 7)
         |    AS updated_rows,
         |  'ok' AS carried_all, 'ok' AS v1_intact, 'ok' AS dv_present,
         |  'ok' AS dv_cleared, 'ok' AS fp_stable, 2 AS version
         |FROM fp""".stripMargin)
}
