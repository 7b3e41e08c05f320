package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 52 — column mapping:
  *
  *  - `q_rename_column`: [[Versioned.renameColumn]] — RENAME COLUMN
  *    as a manifest-reference commit (Delta column mapping): v2's
  *    manifest is byte-identical to v1's (zero files touched), reads
  *    surface the new logical name by translating the invariant
  *    PHYSICAL name at the scan, a post-rename merge writes new
  *    files under the physical name and still round-trips, and time
  *    travel to v1 shows the old name. At 100 TB this is the
  *    difference between a schema cleanup being a metadata commit
  *    and being a full-table rewrite.
  */
object Wave52Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qRenameColumn(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_rn") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      Versioned.renameColumn(s, dir, "p", "amount")
      val metadataOnly =
        Versioned.files(s, dir, Some(2L)).toSet == v1Files
      val oldNameKept = Versioned.read(s, dir, Some(1L))
        .columns.contains("p")
      // a post-rename merge speaks the NEW name; files stage physical
      val batch = LakeFixtures.ordersBase(s, d)
        .filter(col("k") % 2 === 0 && col("k") % 10 === 2)
        .select(col("k"), col("c"), col("st"),
          (col("p") + lit(25.0)).as("amount"))
      Versioned.merge(batch, dir, Seq("k"))
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("amount") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("amount")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(metadataOnly, "rename commit touched data files"),
          Q.receipt(oldNameKept, "v1 time travel lost the old name"), 3))
        .toDF("n_rows", "sum_amount", "xor_fp", "metadata_only",
          "old_name_kept", "version")
    }
  }

  def qDropColumn(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_dc") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      Versioned.dropColumn(s, dir, "c")
      val metadataOnly =
        Versioned.files(s, dir, Some(2L)).toSet == v1Files
      val oldNameKept = Versioned.read(s, dir, Some(1L))
        .columns.contains("c")
      // re-add 'c' via evolution: fresh physical — carried rows MUST
      // read NULL, never the dropped column's dead bytes
      val batch = LakeFixtures.ordersBase(s, d)
        .filter(col("k") % 2 === 1 && col("k") % 5 === 0)
        .select(col("k"), col("st"), col("p"),
          lit(-1L).as("c"))
      Versioned.merge(batch, dir, Seq("k"), evolveSchema = true)
      val cur = Versioned.read(s, dir)
      val deadBytesDead = cur.filter(col("k") % 2 === 0 &&
        col("c").isNotNull).limit(1).count() == 0L
      val r = cur
        .withColumn("fp", fpCol(col("k"), col("st"),
          coalesce(col("c"), lit(-999L)),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(metadataOnly, "drop commit touched data files"),
          Q.receipt(oldNameKept, "v1 time travel lost the old column"),
          Q.receipt(deadBytesDead,
            "carried rows surfaced the dropped column's dead bytes")))
        .toDF("n_rows", "sum_price", "xor_fp", "metadata_only",
          "old_name_kept", "dead_bytes_dead")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rename_column" -> qRenameColumn,
    "q_drop_column"   -> qDropColumn)

  val oracles: Map[String, String] = Map(
    "q_drop_column" ->
      s"""WITH evens AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p, CAST(NULL AS BIGINT) AS c
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |ins AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p, CAST(-1 AS BIGINT) AS c
         |  FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0),
         |m AS (SELECT * FROM evens UNION ALL SELECT * FROM ins),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(COALESCE(c, -999) AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS metadata_only, 'ok' AS old_name_kept,
         |  'ok' AS dead_bytes_dead
         |FROM fp""".stripMargin,
    "q_rename_column" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    CASE WHEN o_orderkey % 10 = 2
         |         THEN o_totalprice + 25 ELSE o_totalprice END AS amount
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |fp AS (SELECT amount,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(amount * 100.0 + 0.5) AS BIGINT)
         |        AS VARCHAR)) >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("amount")} AS sum_amount,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS metadata_only, 'ok' AS old_name_kept, 3 AS version
         |FROM fp""".stripMargin)
}
