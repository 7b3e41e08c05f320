package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 61 — APPEND, the insert-only commit, end to end
  * through SQL:
  *
  *  - `q_sql_insert`: `INSERT INTO lake.`<path>` SELECT …` on the
  *    unpartitioned clone takes the connector's real V2 batch write
  *    (`LakeBatchWrite`, chosen by `Versioned.canStageDirect`):
  *    executor tasks stage the files and the driver commits them as
  *    an APPEND whose manifest is `old ∪ staged` — every prior file
  *    carried BY REFERENCE (the receipt pins v2's manifest ⊇ v1's),
  *    deletion vectors riding unchanged, constraints checked on the
  *    staged batch. Tables that need in-plan work (generated or
  *    identity columns, column mapping, a partition layout) route
  *    through [[Versioned.append]] instead, which resolves the
  *    table's recorded layout itself. Appends get the cheapest
  *    conflict model in the protocol: a lost commit race re-points the
  *    already-staged files at the winner, never restages (Delta's
  *    appends-never-conflict rule).
  *
  * 100 TB story: the hourly load is an O(batch) metadata union no
  * matter how large the table — and it is available to plain SQL
  * writers without giving them a path around the table's invariants.
  */
object Wave61Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlInsert(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_sqlins") { dir =>
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        .createOrReplaceTempView("graft_ins_src")
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      s.sql(
        s"""INSERT INTO lake.`$dir`
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM graft_ins_src""".stripMargin)
      val carried = v1Files.subsetOf(Versioned.files(s, dir).toSet)
      val appended =
        Versioned.history(s, dir).map(_.operation) == Seq("CLONE", "APPEND")
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(carried, "v1 files not all carried by the append"),
          Q.receipt(appended,
            s"history=${Versioned.history(s, dir).map(_.operation)}")))
        .toDF("n_rows", "sum_price", "xor_fp", "no_rewrite", "appended")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_insert" -> qSqlInsert)

  val oracles: Map[String, String] = Map(
    "q_sql_insert" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders
         |  WHERE o_orderkey % 2 = 0
         |     OR (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS no_rewrite, 'ok' AS appended
         |FROM fp""".stripMargin)
}
