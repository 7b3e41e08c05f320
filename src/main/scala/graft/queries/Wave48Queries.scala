package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.{Catalog, Versioned}
import graft.text.Dedup

/** Round-9 wave 48:
  *
  *  - `q_tpch_q1`: the TPC-H pricing-summary report itself (Q1) —
  *    the canonical scan-heavy aggregate: one pass over lineitem,
  *    eight simultaneous aggregates per (returnflag, linestatus),
  *    every money sum decimal-exact ([[Q.dsum]]) so the result is
  *    bit-stable under any aggregation order (AQE replans, cluster
  *    size). The plan is the 100 TB ideal by construction:
  *    scan → partial hash agg (map-side combine over 6 groups) →
  *    one 6-row exchange → final agg.
  *
  *  - `q_multi_table_tx`: [[Catalog.transact]] — an atomic
  *    move-rows-between-tables transaction (DELETE from A + MERGE
  *    into B) published with ONE catalog-pointer rename. The receipt
  *    reads BOTH catalog versions: the pre-tx snapshot and the
  *    post-tx snapshot each conserve the row total and the exact
  *    price sum — at no observable catalog version are the moved
  *    rows in both tables or neither.
  */
object Wave48Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qTpchQ1(s: SparkSession, d: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    // canonical Q1 cuts at 1998-09-02 over 1992-1998 shipdates; the
    // synthetic tables span 1995-2001, so the cutoff shifts to
    // 2000-09-02 to keep the date predicate selective (same shape)
    Tables.load(s, d, "lineitem")
      .filter(to_date(col("l_shipdate")) <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Q.dsum(col("l_quantity")).as("sum_qty"),
        Q.dsum(col("l_extendedprice")).as("sum_base_price"),
        Q.dsum(disc).as("sum_disc_price"),
        Q.dsum(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        Q.davg(col("l_quantity")).as("avg_qty"),
        Q.davg(col("l_extendedprice")).as("avg_price"),
        Q.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def qMultiTableTx(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_tx") { work =>
      val (dirA, dirB, root) = (s"$work/a", s"$work/b", s"$work/cat")
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), dirA)
      Versioned.clone(s, LakeFixtures.ordersOdds8(s, d), dirB)
      Catalog.init(s, root, Map("a" -> dirA, "b" -> dirB))
      // the transaction: move every k%10=6 row (an evens slice) A → B
      Catalog.transact(s, root, { ents =>
        val (pa, va) = ents("a")
        val moved = Versioned.read(s, pa, Some(va))
          .filter(col("k") % 10 === 6)
        Versioned.merge(moved, ents("b")._1, Seq("k"))
        Versioned.delete(s, pa, col("k") % 10 === 6)
      })
      def snap(catV: Long) = {
        val u = Catalog.read(s, root, "a", Some(catV))
          .unionByName(Catalog.read(s, root, "b", Some(catV)))
        val r = u.withColumn("fp", fpCol(col("k"), col("st"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
          .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
            expr("bit_xor(fp)").as("xf")).head()
        (r.getLong(0), r.getDouble(1), r.getLong(2))
      }
      val (n1, sp1, xf1) = snap(1L)
      val (n2, sp2, xf2) = snap(2L)
      val nA2 = Catalog.read(s, root, "a", Some(2L)).count()
      val nB2 = Catalog.read(s, root, "b", Some(2L)).count()
      import s.implicits._
      Seq((n2, sp2, xf2, nA2, nB2,
          Q.receipt(n1 == n2 && xf1 == xf2 && sp1 == sp2,
            s"pre-tx n=$n1 sum=$sp1 xor=$xf1 vs post-tx " +
              s"n=$n2 sum=$sp2 xor=$xf2"),
          2))
        .toDF("n_total", "sum_price", "xor_fp", "n_a", "n_b",
          "conserved", "cat_version")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q1"       -> qTpchQ1,
    "q_multi_table_tx" -> qMultiTableTx)

  val oracles: Map[String, String] = Map(
    "q_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Q.DSUM("l_quantity")} AS sum_qty,
         |  ${Q.DSUM("l_extendedprice")} AS sum_base_price,
         |  ${Q.DSUM("l_extendedprice * (1.0 - l_discount)")}
         |    AS sum_disc_price,
         |  ${Q.DSUM("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}
         |    AS sum_charge,
         |  ${Q.DAVG("l_quantity")} AS avg_qty,
         |  ${Q.DAVG("l_extendedprice")} AS avg_price,
         |  ${Q.DAVG("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_multi_table_tx" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_total, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM b
         |    WHERE k % 2 = 0 AND k % 10 <> 6) AS n_a,
         |  (SELECT count(*) FROM b
         |    WHERE k % 2 = 1 OR k % 10 = 6) AS n_b,
         |  'ok' AS conserved, 2 AS cat_version
         |FROM fp""".stripMargin)
}
