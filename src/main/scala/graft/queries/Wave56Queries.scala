package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 56 — optimistic concurrency with Delta-style logical
  * conflict detection ([[Versioned.merge]]'s rebase fast path).
  *
  *  - `q_occ_rebase`: three writers, all computed against the SAME v1
  *    snapshot. Writer A (partition F) commits v2 normally. Writer B
  *    (partition O) loses the commit race but its footprint is
  *    disjoint from everything that landed since its snapshot, so its
  *    ALREADY-STAGED files are re-committed against A's manifest —
  *    a metadata-only rebase, recorded as `MERGE+REBASE`, whose
  *    manifest provably reuses the staging batch written for the
  *    LOST version (the `gbatch=2-` prefix inside the v3 manifest).
  *    Writer C (partition F again) genuinely overlaps A, so the
  *    conflict check refuses the rebase and C pays the full re-merge.
  *
  * 100 TB story: a thousand pipelines each merging its own partition
  * must not serialize behind each other's full re-merges — the loser
  * of a commit race re-validates DISJOINTNESS (a few manifest-scale
  * scans: manifest delta, deletion-vector delta, schema and table-
  * metadata equality) and re-points its staged files at the new tip
  * with zero data I/O. Only writers that truly overlap pay a re-merge,
  * which is exactly Delta/Iceberg's optimistic-concurrency contract.
  */
object Wave56Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qOccRebase(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.ordersEvensByStatus(s, d), "graft_occ") { dir =>
      val v1 = Versioned.read(s, dir, Some(1L)).select("k", "st", "p")
      def src(st: String, mod10: Int, bump: Double) =
        v1.filter(col("st") === st && col("k") % 10 === mod10)
          .withColumn("p", col("p") + lit(bump))
      // writer A: wins v2 in partition F
      Versioned.merge(src("F", 0, 5.0), dir, Seq("k"))
      // writer B: stale snapshot (v1), disjoint partition O → its lost
      // commit race resolves by REBASE: staged files re-pointed at v3
      Versioned.merge(src("O", 6, 7.0), dir, Seq("k"), baseVersion = Some(1L))
      // writer C: stale snapshot, SAME partition as A → conflict is
      // detected and the full re-merge runs (no rebase)
      Versioned.merge(src("F", 4, 11.0), dir, Seq("k"), baseVersion = Some(1L))
      val ops = Versioned.history(s, dir).map(_.operation)
      val opsOk = ops == Seq("CLONE", "MERGE", "MERGE+REBASE", "MERGE")
      // the rebased commit reuses the staging batch written for the
      // version it LOST (dir prefix `gbatch=2-`): no restage happened
      val reused = Versioned.files(s, dir, Some(3L))
        .exists(f => f.contains("/gbatch=2-") && f.contains("/st=O/"))
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(opsOk, s"history=${ops.mkString(",")}"),
          Q.receipt(reused, s"v3Files=${Versioned.files(s, dir, Some(3L))
            .filter(_.contains("/st=O/")).take(3).mkString(";")}"),
          4L))
        .toDF("n_rows", "sum_price", "xor_fp", "ops_ok",
          "rebase_reused_staging", "version")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_occ_rebase" -> qOccRebase)

  private val evens =
    """SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_occ_rebase" ->
      s"""WITH b AS ($evens),
         |m AS (SELECT k, st,
         |    CASE WHEN st = 'F' AND k % 10 = 0 THEN p + 5.0
         |         WHEN st = 'O' AND k % 10 = 6 THEN p + 7.0
         |         WHEN st = 'F' AND k % 10 = 4 THEN p + 11.0
         |         ELSE p END AS p
         |  FROM b),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS ops_ok, 'ok' AS rebase_reused_staging, 4 AS version
         |FROM fp""".stripMargin)
}
