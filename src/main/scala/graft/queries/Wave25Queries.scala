package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-8 wave 25 — lake MAINTENANCE, the other half of a
  * merge-maintained table's lifecycle:
  *
  *  - `q_compaction`: [[Versioned.compact]] rewrites the current
  *    snapshot into a scan-optimal file count and commits it as a new
  *    version. Every MERGE stages a fresh batch directory, so file
  *    count grows with commit count while file size shrinks toward the
  *    per-task sliver — at 100 TB the scan's task-scheduling + parquet
  *    footer overhead comes to dominate unless someone pays one bounded
  *    rewrite. The receipts prove the rewrite is DATA-IDENTICAL
  *    (per-status counts, exact decimal sums, order-independent row
  *    fingerprint XOR between the pre- and post-compaction versions)
  *    and that the layout goal was hit (exactly `targetFiles` files —
  *    deterministic, because round-robin repartition leaves no task
  *    empty when rows ≥ tasks).
  *  - `q_vacuum`: [[Versioned.vacuum]] reference-counts data files
  *    against the surviving manifests and deletes the rest. Receipts:
  *    the current snapshot re-read AFTER the delete still matches the
  *    oracle's replay (reference counting spared every live file), the
  *    dropped versions' manifests are gone, exactly one manifest
  *    remains, and the delete actually removed files (the 16-file v1
  *    layout alone guarantees dead files).
  *
  * Both fixtures replay the same lake in SQL: orders evens → one MERGE
  * (update / delete / insert by key arithmetic) → compact — so the
  * oracle knows the exact expected content of the compacted version.
  * Money stays DOUBLE end-to-end (per-row ops are IEEE-identical);
  * fingerprints use exact integer CENTS (`floor(p·100 + 0.5)` — the
  * data sits on the cent grid, so both engines land the same integer)
  * and sums use the [[Q.dsum]] exact-decimal discipline.
  */
object Wave25Queries extends QueryModule {

  /** 63-bit order-independent row fingerprint over the business
    * columns (md5 upper half >>> 4, XOR-aggregated) — cents, not a
    * double rendering, so the string is engine-independent. */
  private def rowFp(df: DataFrame): DataFrame =
    df.withColumn("fp", shiftrightunsigned(Dedup.md5Hash64(
      concat_ws("#", col("k"), col("c"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))), 4))

  /** Build the lake: v1 = even order keys in 16 round-robin files,
    * v2 = MERGE (update %3, delete %7∧¬%3, insert odd %5), then
    * compact(4) → v3. Returns (v2, v3). */
  private def buildLake(s: SparkSession, d: String, dir: String): (Long, Long) = {
    val base = Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
    val lake = base.filter(col("k") % 2 === 0)
    // v1 = zero-copy clone of the shared immutable evens-16 base
    // ([[LakeFixtures]]): the merge/compact rounds stage THEIR files
    // under this table's own directory, so vacuum's data sweep (which
    // walks only this directory) reclaims exactly the superseded
    // staged files and can never touch the shared base
    Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), dir)
    val updates = lake.filter(col("k") % 3 === 0)
      .withColumn("p", col("p") + lit(10.0))
      .withColumn("is_delete", lit(false))
    val deletes = lake.filter(col("k") % 7 === 0 && col("k") % 3 =!= 0)
      .withColumn("is_delete", lit(true))
    val inserts = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
      .withColumn("is_delete", lit(false))
    val v2 = Versioned.merge(
      updates.unionByName(deletes).unionByName(inserts),
      dir, Seq("k"), deleteCol = Some("is_delete"))
    val v3 = Versioned.compact(s, dir, targetFiles = 4)
    (v2, v3)
  }

  private def receipts(df: DataFrame): DataFrame =
    rowFp(df).groupBy("st")
      .agg(count(lit(1)).as("n_rows"),
        Q.dsum(col("p")).as("sum_price"),
        expr("bit_xor(fp)").as("xor_fp"))

  /** Compaction: v3 (post-compact) receipts vs v2 (pre-compact), plus
    * the deterministic post-compaction file count. */
  def qCompaction(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_compact") { dir =>
      val (v2, v3) = buildLake(s, d, dir)
      val nFiles = Versioned.files(s, dir, Some(v3)).length
      val after = receipts(Versioned.read(s, dir, Some(v3)))
      val before = receipts(Versioned.read(s, dir, Some(v2)))
        .withColumnRenamed("n_rows", "n2").withColumnRenamed("sum_price", "s2")
        .withColumnRenamed("xor_fp", "x2")
      val out = after.join(before, Seq("st"), "full_outer")
        .select(col("st").as("o_orderstatus"), col("n_rows"),
          col("sum_price"), col("xor_fp"), col("n2"), col("s2"), col("x2"))
        .orderBy("o_orderstatus")
        .collect().toSeq
      import s.implicits._
      out.map { r =>
        val (n, sp, xf) = (r.getLong(1), r.getDouble(2), r.getLong(3))
        (r.getString(0), n, sp, xf,
          Q.receipt(!r.isNullAt(4) && n == r.getLong(4) &&
              sp == r.getDouble(5) && xf == r.getLong(6),
            s"post-compact n=$n sum=$sp xor=$xf vs pre ${r.get(4)}/" +
              s"${r.get(5)}/${r.get(6)}"),
          nFiles, v3.toInt)
      }.toDF("o_orderstatus", "n_rows", "sum_price", "xor_fp", "ok",
          "n_files_after", "version")
    }
  }

  /** Vacuum: after compact, drop all but the current manifest and
    * reference-count-delete dead files; re-read the survivor. */
  def qVacuum(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_vacuum") { dir =>
      val (_, v3) = buildLake(s, d, dir)
      val deleted = Versioned.vacuum(s, dir, keepLast = 1)
      val nManifests = Versioned.versions(s, dir).size
      val v1Gone =
        try { Versioned.files(s, dir, Some(1L)); false }
        catch { case _: java.io.FileNotFoundException => true }
      val r = rowFp(Versioned.read(s, dir))
        .agg(count(lit(1)).as("n_rows"),
          Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2), nManifests,
          v3.toInt,
          Q.receipt(v1Gone, "v1 manifest still readable after vacuum"),
          Q.receipt(deleted > 0, s"deleted=$deleted")))
        .toDF("n_rows", "sum_price", "xor_fp", "n_manifests",
          "current_version", "v1_gone", "deleted_gt0")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_compaction" -> qCompaction,
    "q_vacuum" -> qVacuum)

  /** SQL replay of the lake's v2 content (= v3 content, since compact
    * is data-identical): evens, then update/delete/insert by the same
    * key arithmetic. Shared with wave 32's clone receipts. */
  private[queries] val v2Cte =
    """WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
      |    o_orderstatus AS st, o_totalprice AS p
      |  FROM orders),
      |lake AS (SELECT * FROM b WHERE k % 2 = 0),
      |batch AS (
      |  SELECT k, c, st, p + 10.0 AS p, FALSE AS is_delete
      |  FROM lake WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT k, c, st, p, TRUE FROM lake WHERE k % 7 = 0 AND k % 3 <> 0
      |  UNION ALL
      |  SELECT k, c, st, p, FALSE FROM b WHERE k % 2 = 1 AND k % 5 = 0),
      |v2 AS (
      |  SELECT k, c, st, p FROM batch WHERE NOT is_delete
      |  UNION ALL
      |  SELECT k, c, st, p FROM lake
      |  WHERE k NOT IN (SELECT k FROM batch)),
      |fp AS (SELECT st, p,
      |    md5_number_upper(CAST(k AS VARCHAR) || '#' || CAST(c AS VARCHAR) ||
      |      '#' || st || '#' ||
      |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
      |      >> 4 AS fp
      |  FROM v2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_compaction" ->
      s"""$v2Cte
         |SELECT st AS o_orderstatus, count(*) AS n_rows,
         |  ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS ok, 4 AS n_files_after, 3 AS version
         |FROM fp GROUP BY st ORDER BY st""".stripMargin,
    "q_vacuum" ->
      s"""$v2Cte
         |SELECT count(*) AS n_rows,
         |  ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  1 AS n_manifests, 3 AS current_version,
         |  'ok' AS v1_gone, 'ok' AS deleted_gt0
         |FROM fp""".stripMargin)
}
