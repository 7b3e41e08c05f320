package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 41 — incremental consumption and layout-driven
  * skipping on the versioned lake:
  *
  *  - `q_cdc_pruned`: [[Versioned.changes]] — the row-level change
  *    feed between two versions computed by reading ONLY the files
  *    the two manifests don't share. The fixture is the
  *    status-partitioned merge (batch confined to status 'F'), so the
  *    feed's cost is partition F's files while 'O'/'P' carry —
  *    `files_opened < files_union` is part of the receipt, and the
  *    oracle replays the whole-row diff (update old/new, delete,
  *    insert) in SQL.
  *
  *  - `q_cluster_compact`: [[Versioned.compact]] with `clusterBy` —
  *    the OPTIMIZE-style rewrite that makes manifest stats bite:
  *    before clustering every round-robin file spans the full key
  *    range (a probe opens ALL files — receipt-pinned); after the
  *    range-clustered compact the same probe's footprint collapses
  *    (`files_read < files_total`). Content receipts stay exact.
  *
  * 100 TB story: CDC-by-manifest-diff is what makes downstream
  * incremental maintenance affordable — consumers of a daily merge
  * read the touched partitions, never the table; cluster-then-skip is
  * the standard two-step that turns a 100 TB range probe into the
  * predicate's true footprint.
  */
object Wave41Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qCdcPruned(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.ordersByStatus(s, d), "graft_cdc") { dir =>
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val f = orders.filter(col("o_orderstatus") === "F")
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
      val cf = Versioned.changes(s, dir, 1L, 2L)
      val out = cf.df
        .withColumn("fp", fpCol(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")))
        .groupBy("op")
        .agg(count(lit(1)).as("n_rows"),
          Q.dsum(col("o_totalprice")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp"))
        .withColumn("pruned",
          lit(Q.receipt(cf.filesOpened < cf.filesUnion,
            s"opened=${cf.filesOpened} union=${cf.filesUnion}")))
        .orderBy("op")
        .collect().toSeq
      import s.implicits._
      out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getString(4)))
        .toDF("op", "n_rows", "sum_price", "xor_fp", "pruned")
    }
  }

  def qClusterCompact(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_clus") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      Versioned.init(base.repartition(8), dir, statsCols = Seq("c"))
      val (lo, hi) = (100d, 180d)
      val before = Versioned.readRange(s, dir, "c", lo, hi)
      Versioned.compact(s, dir, targetFiles = 8, clusterBy = Seq("c"))
      val after = Versioned.readRange(s, dir, "c", lo, hi)
      val r = after.df.filter(col("c").between(lo, hi))
        .withColumn("fp", fpCol(col("k"), col("c"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(before.filesRead == before.filesTotal,
            s"pre-cluster read=${before.filesRead} of ${before.filesTotal}"),
          Q.receipt(after.filesRead < after.filesTotal,
            s"post-cluster read=${after.filesRead} of ${after.filesTotal}"),
          after.filesTotal))
        .toDF("n_rows", "sum_price", "xor_fp", "unclustered_reads_all",
          "clustered_prunes", "files_total")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_pruned"      -> qCdcPruned,
    "q_cluster_compact" -> qClusterCompact)

  val oracles: Map[String, String] = Map(
    "q_cdc_pruned" ->
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
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp, 'ok' AS pruned
         |FROM fp GROUP BY op ORDER BY op""".stripMargin,
    "q_cluster_compact" ->
      s"""WITH hit AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_totalprice AS p,
         |    md5_number_upper(CAST(o_orderkey AS VARCHAR) || '#' ||
         |      CAST(o_custkey AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
         |        AS VARCHAR)) >> 4 AS fp
         |  FROM orders WHERE o_custkey BETWEEN 100 AND 180)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS unclustered_reads_all, 'ok' AS clustered_prunes,
         |  8 AS files_total
         |FROM hit""".stripMargin)
}
