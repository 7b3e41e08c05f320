package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 47 — the lake's governance statements:
  *
  *  - `q_restore`: [[Versioned.restore]] — Delta `RESTORE TABLE … TO
  *    VERSION AS OF` as a forward-only commit: a bad merge and a bad
  *    delete are undone by REFERENCING the good version's manifest
  *    (zero data movement; the bad versions stay time-travelable),
  *    and the receipt pins the restored read bit-equal to the
  *    original snapshot.
  *
  *  - `q_lake_history`: [[Versioned.history]] — DESCRIBE HISTORY.
  *    Every commit records its operation label (the commit winner
  *    writes `v<N>.op` beside the manifest), so the audit trail
  *    CLONE → MERGE → DELETE_VECTORED → COMPACT → RESTORE(v2) is a
  *    metadata read; per-version row counts come from time travel.
  *
  *  - `q_check_constraint`: [[Versioned.addConstraint]] — table-level
  *    CHECK invariants enforced ON WRITE: a violating batch is
  *    rejected BEFORE staging (the table version never moves), a
  *    constraint the existing data violates cannot be added, and a
  *    clean batch under the same constraint commits normally.
  *
  * 100 TB story: restore is a manifest-reference commit (the manifest
  * flows manifest→manifest as a DataFrame — a million-file restore
  * never lands on the driver); history is O(versions) metadata;
  * constraint checks cost one filter + limit(1) pass over the BATCH
  * (never the table) at write time, and snapshot validation on ADD is
  * the same one-pass scan Delta pays.
  */
object Wave47Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  private def priceFp(s: SparkSession, df: DataFrame) = {
    val r = df
      .withColumn("fp", fpCol(col("k"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
      .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
        expr("bit_xor(fp)").as("xf")).head()
    (r.getLong(0), r.getDouble(1), r.getLong(2))
  }

  def qRestore(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_restore") { dir =>
      // v2: reprice a slice (vectored update — cheap, content-changing)
      Versioned.updateVectored(s, dir, col("k") % 4 === 0,
        Map("p" -> (col("p") + lit(100.0))))
      // v3: erase another slice
      Versioned.deleteVectored(s, dir, col("k") % 6 === 0)
      // v4: RESTORE to the pristine clone
      val v = Versioned.restore(s, dir, 1L)
      val cur = Versioned.read(s, dir).select("k", "st", "p")
      val (n, sp, xf) = priceFp(s, cur)
      val (n1, _, xf1) = priceFp(s,
        Versioned.read(s, dir, Some(1L)).select("k", "st", "p"))
      // the undone versions remain time-travelable after the restore
      val v3n = Versioned.read(s, dir, Some(3L)).count()
      import s.implicits._
      Seq((n, sp, xf, v,
          Q.receipt(n == n1 && xf == xf1,
            s"restored n=$n xor=$xf vs v1 n=$n1 xor=$xf1"),
          Q.receipt(v3n < n, s"v3 rows=$v3n restored rows=$n")))
        .toDF("n_rows", "sum_price", "xor_fp", "version",
          "equals_v1", "bad_history_kept")
    }
  }

  def qLakeHistory(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_hist") { dir =>
      val base = LakeFixtures.ordersBase(s, d)
      // v2 MERGE: insert the odd multiples of 5 (disjoint from evens)
      Versioned.merge(base.filter(col("k") % 2 === 1 && col("k") % 5 === 0),
        dir, Seq("k"))
      // v3 DELETE_VECTORED: erase multiples of 7
      Versioned.deleteVectored(s, dir, col("k") % 7 === 0)
      // v4 COMPACT, v5 RESTORE(v2)
      Versioned.compact(s, dir, targetFiles = 4)
      Versioned.restore(s, dir, 2L)
      val hist = Versioned.history(s, dir)
      import s.implicits._
      hist.map(ci => (ci.version, ci.operation,
          Versioned.read(s, dir, Some(ci.version)).count()))
        .toDF("version", "operation", "n_rows")
        .orderBy("version")
    }
  }

  def qCheckConstraint(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_chk") { dir =>
      val base = LakeFixtures.ordersBase(s, d)
      Versioned.addConstraint(s, dir, "p_nonneg", "p >= 0")
      // a batch with a poisoned row: rejected before staging
      val vBefore = Versioned.currentVersion(s, dir).get
      val poisoned = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
        .withColumn("p", when(col("k") % 25 === 0, -col("p"))
          .otherwise(col("p")))
      val badRejected = Q.receipt(
        try { Versioned.merge(poisoned, dir, Seq("k")); false }
        catch { case _: Versioned.ConstraintViolation => true },
        "poisoned batch committed past the CHECK constraint")
      val vAfter = Versioned.currentVersion(s, dir).get
      val unchanged = Q.receipt(vAfter == vBefore,
        s"version moved $vBefore->$vAfter on a rejected batch")
      // a constraint the existing data violates cannot be added
      val addRejected = Q.receipt(
        try {
          Versioned.addConstraint(s, dir, "impossible", "p > 1000000")
          false
        } catch { case _: IllegalArgumentException => true },
        "snapshot-violating constraint was accepted")
      // the clean slice of the same batch commits under the constraint
      Versioned.merge(poisoned.filter(col("p") >= 0), dir, Seq("k"))
      val (n, sp, xf) = priceFp(s,
        Versioned.read(s, dir).select("k", "st", "p"))
      import s.implicits._
      Seq((n, sp, xf, badRejected, unchanged, addRejected))
        .toDF("n_rows", "sum_price", "xor_fp", "bad_rejected",
          "version_unchanged", "add_rejected")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_restore"          -> qRestore,
    "q_lake_history"     -> qLakeHistory,
    "q_check_constraint" -> qCheckConstraint)

  // shared oracle fragment: the evens projection of orders
  private val evens =
    """SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS st,
      |    o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_restore" ->
      s"""WITH b AS ($evens),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  4 AS version, 'ok' AS equals_v1, 'ok' AS bad_history_kept
         |FROM fp""".stripMargin,
    "q_lake_history" ->
      s"""WITH b AS ($evens),
         |ins AS (SELECT o_orderkey AS k FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0),
         |v2 AS (SELECT k FROM b UNION ALL SELECT k FROM ins),
         |v3 AS (SELECT k FROM v2 WHERE k % 7 <> 0)
         |SELECT * FROM (VALUES
         |  (1, 'CLONE',           (SELECT count(*) FROM b)),
         |  (2, 'MERGE',           (SELECT count(*) FROM v2)),
         |  (3, 'DELETE_VECTORED', (SELECT count(*) FROM v3)),
         |  (4, 'COMPACT',         (SELECT count(*) FROM v3)),
         |  (5, 'RESTORE(v2)',     (SELECT count(*) FROM v2)))
         |  AS t(version, operation, n_rows)
         |ORDER BY version""".stripMargin,
    "q_check_constraint" ->
      s"""WITH b AS ($evens),
         |ins AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
         |    AND o_orderkey % 25 <> 0),
         |m AS (SELECT k, st, p FROM b
         |  UNION ALL SELECT k, st, p FROM ins),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS bad_rejected, 'ok' AS version_unchanged,
         |  'ok' AS add_rejected
         |FROM fp""".stripMargin)
}
