package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-8 wave 33 — production write-path governance on the lake:
  *
  *  - `q_wap`: write-audit-publish. Every candidate batch passes an
  *    AUDIT (null keys, negative money, duplicate keys within the
  *    batch) before it may MERGE; a failing batch leaves the published
  *    table byte-identical (version unchanged) and surfaces its
  *    violation counts. The fixture runs one poisoned batch (planted
  *    nulls/negatives/dupes) and one clean batch through the same
  *    gate: reject then publish, with receipts for both.
  *  - `q_partition_evolution`: layout evolution as a versioned
  *    rewrite — an UNPARTITIONED table is re-clustered into a
  *    partitioned layout by [[Versioned.compact]]'s partition-aware
  *    path (data-identical, old versions untouched), after which
  *    partition-scoped MERGE works against the new layout and carries
  *    untouched partitions by reference. At 100 TB this is how a table
  *    adopts partitioning after the fact: one bounded rewrite, no
  *    downtime, history preserved.
  */
object Wave33Queries extends QueryModule {

  private def fp(df: DataFrame): DataFrame =
    df.withColumn("fp", shiftrightunsigned(Dedup.md5Hash64(
      concat_ws("#", col("k"), col("c"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))), 4))

  /** Audit a candidate batch: returns (null_keys, neg_money, dup_keys)
    * — publish iff all three are zero. One aggregation pass; the dup
    * metric counts only non-null keys so each violation class reports
    * independently. */
  private def audit(batch: DataFrame): (Long, Long, Long) = {
    val r = batch.agg(
      sum(col("k").isNull.cast("long")).as("nulls"),
      sum((col("p") < 0.0).cast("long")).as("negs"),
      (sum(col("k").isNotNull.cast("long")) - countDistinct(col("k")))
        .as("dups")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def qWap(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_wap") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
      val lake = base.filter(col("k") % 2 === 0)
      Versioned.init(lake, dir)
      def contentReceipt() = {
        val r = fp(Versioned.read(s, dir))
          .agg(count(lit(1)), expr("bit_xor(fp)")).head()
        (r.getLong(0), r.getLong(1))
      }
      // poisoned batch: planted null keys (%4), negative money (%6),
      // and duplicated keys (%8 minus the %6 overlap, added twice) —
      // derived by key arithmetic so every SF plants nonzero counts
      // and the oracle replays the exact violation tallies
      val dupSrc = lake.filter(col("k") % 8 === 0 && col("k") % 6 =!= 0)
      val poison = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
        .unionByName(lake.filter(col("k") % 4 === 0)
          .withColumn("k", lit(null).cast("long")))
        .unionByName(lake.filter(col("k") % 6 === 0)
          .withColumn("p", lit(-1.0)))
        .unionByName(dupSrc).unionByName(dupSrc)
      val (n1, g1, d1) = audit(poison)
      val rejected = n1 > 0 || g1 > 0 || d1 > 0
      val vBefore = Versioned.currentVersion(s, dir).get
      val (rowsAfterReject, xorAfterReject) =
        if (rejected) contentReceipt()
        else { Versioned.merge(poison, dir, Seq("k")); contentReceipt() }
      val vAfterReject = Versioned.currentVersion(s, dir).get
      // clean batch through the same gate
      val clean = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
      val (n2, g2, d2) = audit(clean)
      val published = n2 == 0 && g2 == 0 && d2 == 0
      if (published) Versioned.merge(clean, dir, Seq("k"))
      val (rowsFinal, xorFinal) = contentReceipt()
      import s.implicits._
      Seq((n1, g1, d1,
          Q.receipt(rejected,
            s"audit passed a poisoned batch: nulls=$n1 negs=$g1 dups=$d1"),
          Q.receipt(vAfterReject == vBefore,
            s"version moved $vBefore->$vAfterReject on a rejected batch"),
          rowsAfterReject, xorAfterReject,
          n2 + g2 + d2,
          Q.receipt(published,
            s"clean batch rejected: nulls=$n2 negs=$g2 dups=$d2"),
          Versioned.currentVersion(s, dir).get.toInt, rowsFinal, xorFinal))
        .toDF("bad_null_keys", "bad_neg_money", "bad_dup_keys",
          "bad_rejected", "version_held", "rows_after_reject",
          "xor_after_reject", "clean_violations", "clean_published",
          "final_version", "rows_final", "xor_final")
    }
  }

  def qPartitionEvolution(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_pevo") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
      val lake = base.filter(col("k") % 2 === 0)
      Versioned.init(lake.repartition(8), dir) // v1: unpartitioned
      // evolve: one rewrite clusters the table BY STATUS (v2)
      Versioned.compact(s, dir, targetFiles = 2, partitionCol = Some("st"))
      // partition-scoped merge against the evolved layout: touch only 'F'
      val upd = lake.filter(col("st") === "F" && col("k") % 3 === 0)
        .withColumn("p", col("p") + lit(10.0))
      Versioned.merge(upd, dir, Seq("k"))
      val v2Files = Versioned.files(s, dir, Some(2L)).toSet
      val v3Files = Versioned.files(s, dir, Some(3L)).toSet
      val carried = v3Files.count(f => v2Files.contains(f) &&
        !f.contains("/st=F/"))
      val untouchedCarried = Versioned.files(s, dir, Some(2L))
        .filter(f => !f.contains("/st=F/")).forall(v3Files.contains)
      val out = fp(Versioned.read(s, dir))
        .groupBy("st").agg(count(lit(1)).as("n_rows"),
          Q.dsum(col("p")).as("sum_price"), expr("bit_xor(fp)").as("xor_fp"))
        .withColumn("evolved_version", lit(2))
        .withColumn("final_version", lit(3))
        .withColumn("carried_gt0",
          lit(Q.receipt(carried > 0, s"carried=$carried")))
        .withColumn("untouched_by_ref",
          lit(Q.receipt(untouchedCarried,
            "untouched-partition files not carried by reference")))
        .orderBy("st")
        .collect().toSeq
      import s.implicits._
      out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getInt(4), r.getInt(5), r.getString(6),
          r.getString(7)))
        .toDF("st", "n_rows", "sum_price", "xor_fp", "evolved_version",
          "final_version", "carried_gt0", "untouched_by_ref")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_wap" -> qWap,
    "q_partition_evolution" -> qPartitionEvolution)

  val oracles: Map[String, String] = Map(
    // after reject + publish, the table is lake ∪ clean inserts (odd
    // %5 keys are all new — pure inserts), and the audit counts are
    // replayable from the same key arithmetic
    "q_wap" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p FROM orders),
         |lake AS (SELECT * FROM b WHERE k % 2 = 0),
         |clean AS (SELECT * FROM b WHERE k % 2 = 1 AND k % 5 = 0),
         |final AS (SELECT * FROM lake UNION ALL SELECT * FROM clean),
         |r AS (SELECT st, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp FROM final),
         |l AS (SELECT st, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp FROM lake)
         |SELECT
         |  (SELECT count(*) FROM lake WHERE k % 4 = 0) AS bad_null_keys,
         |  (SELECT count(*) FROM lake WHERE k % 6 = 0) AS bad_neg_money,
         |  (SELECT count(*) FROM lake WHERE k % 8 = 0 AND k % 6 <> 0)
         |    AS bad_dup_keys,
         |  'ok' AS bad_rejected, 'ok' AS version_held,
         |  (SELECT count(*) FROM l) AS rows_after_reject,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM l) AS xor_after_reject,
         |  CAST(0 AS BIGINT) AS clean_violations,
         |  'ok' AS clean_published, 2 AS final_version,
         |  (SELECT count(*) FROM r) AS rows_final,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM r) AS xor_final""".stripMargin,
    "q_partition_evolution" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p FROM orders),
         |lake AS (SELECT * FROM b WHERE k % 2 = 0),
         |v3 AS (
         |  SELECT k, c, st, p + 10.0 AS p FROM lake
         |  WHERE st = 'F' AND k % 3 = 0
         |  UNION ALL
         |  SELECT k, c, st, p FROM lake
         |  WHERE NOT (st = 'F' AND k % 3 = 0)),
         |r AS (SELECT st, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp FROM v3)
         |SELECT st, count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  2 AS evolved_version, 3 AS final_version,
         |  'ok' AS carried_gt0, 'ok' AS untouched_by_ref
         |FROM r GROUP BY st ORDER BY st""".stripMargin)
}
