package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.{ExternalLog, Tables}
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 39 — the lake's open-format + merge-on-read upgrades:
  *
  *  - `q_delete_vectors`: [[Versioned.deleteVectored]] — DELETE as a
  *    merge-on-read deletion vector (Delta/Iceberg v2 shape). The
  *    commit rewrites ZERO data files (the new manifest is the
  *    IDENTICAL file list; the vector stores (file, row position) of
  *    the erased rows), readers anti-join the broadcast-sized vector,
  *    and the next [[Versioned.compact]] materializes and drops it.
  *    Receipts prove: clean current snapshot (fingerprint = oracle's
  *    replay of `orders WHERE o_custkey <> 1`), zero rewrite +
  *    identical file list, intact time travel, vector present before
  *    compaction and gone after, fingerprint stable across
  *    materialization.
  *
  *  - `q_lake_schema_evolution`: additive schema evolution on
  *    [[Versioned.merge]] (`evolveSchema = true`) — a source batch
  *    carrying a NEW column merges; carried files surface NULL for it
  *    through the version's LOGGED SCHEMA (no footer-merge pass, no
  *    history rewrite), and time travel still reads the old shape.
  *    The oracle replays the NULL fill with a CASE over the batch
  *    predicate.
  *
  *  - `q_external_roundtrip`: [[ExternalLog.export]] — WRITE interop:
  *    the Versioned history published as the add/remove `_log`
  *    JSON-lines layout at the same root, zero data copied. The
  *    receipts pin identity three ways: native read, exported-log
  *    read, and the oracle's replay all agree on count + exact money
  *    sum + row-fingerprint XOR, for the current version AND for
  *    version 1 through the log's version 0.
  *
  * 100 TB story: a vectored erasure costs O(deleted rows) write and
  * one broadcast anti-join per read until compaction — the right
  * amortization for frequent small right-to-be-forgotten requests;
  * schema evolution through the logged schema costs nothing at scan
  * time; export costs O(total files) metadata lines and no data I/O.
  */
object Wave39Queries extends QueryModule {

  /** Same 63-bit order-independent row fingerprint family as the
    * wave-25/38 lake receipts (md5 upper half >>> 4). */
  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  private def ordersBase(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("p"))

  def qDeleteVectors(s: SparkSession, d: String): DataFrame = {
    // zero-copy clone of the shared range-clustered base (see
    // [[LakeFixtures]]): the vector commit and the materializing
    // compact stage everything under the clone's own directory
    LakeFixtures.withClone(s,
      LakeFixtures.ordersRange16(s, d), "graft_dv") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L))
      val e = Versioned.deleteVectored(s, dir, col("c") === 1L)
      val filesIdentical =
        Versioned.files(s, dir, Some(2L)) == v1Files
      val v1Match = Versioned.read(s, dir, Some(1L))
        .filter(col("c") === 1L).count()
      def receipt(df: DataFrame) = df
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("s"),
          expr("bit_xor(fp)").as("x")).head()
      val afterDel = receipt(Versioned.read(s, dir))
      val dvPresent = Versioned.deletionVector(s, dir).nonEmpty
      Versioned.compact(s, dir, targetFiles = 8)
      val dvCleared = Versioned.deletionVector(s, dir).isEmpty
      val afterCompact = receipt(Versioned.read(s, dir))
      val fpStable = afterDel.getLong(0) == afterCompact.getLong(0) &&
        afterDel.getLong(2) == afterCompact.getLong(2)
      import s.implicits._
      Seq((afterDel.getLong(0), afterDel.getDouble(1), afterDel.getLong(2),
          e.deletedRows,
          Q.receipt(e.rewritten == 0, s"rewritten=${e.rewritten}"),
          Q.receipt(e.carried == v1Files.length,
            s"carried=${e.carried} of ${v1Files.length}"),
          Q.receipt(filesIdentical, "v2 file list differs from v1"),
          Q.receipt(v1Match == e.deletedRows,
            s"v1 matches=$v1Match deleted=${e.deletedRows}"),
          Q.receipt(dvPresent, "no deletion vector before compact"),
          Q.receipt(dvCleared, "deletion vector survived compact"),
          Q.receipt(fpStable,
            s"n ${afterDel.getLong(0)}->${afterCompact.getLong(0)} xor " +
              s"${afterDel.getLong(2)}->${afterCompact.getLong(2)}"),
          e.version.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "deleted_rows",
          "zero_rewritten", "carried_all", "files_identical", "v1_intact",
          "dv_present", "dv_cleared", "fp_stable", "version")
    }
  }

  def qLakeSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    // the evolving merge is a full rewrite (the base is unpartitioned),
    // so its physical layout is irrelevant — share the range-16 clone
    LakeFixtures.withClone(s,
      LakeFixtures.ordersRange16(s, d), "graft_evo2") { dir =>
      val batch = Tables.load(s, d, "orders")
        .filter(col("o_custkey") % 10 === 3)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("p"),
          col("o_orderpriority").as("prio"))
      Versioned.merge(batch, dir, Seq("k"), evolveSchema = true)
      val cur = Versioned.read(s, dir)
      val oldCols = Versioned.read(s, dir, Some(1L)).columns.length
      val r = cur
        .withColumn("fp", fpCol(col("k"), col("st"),
          coalesce(col("prio"), lit("-")),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), count(col("prio")).as("n_with_prio"),
          countDistinct(col("prio")).as("n_prio_vals"),
          Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), cur.columns.length, oldCols, 2))
        .toDF("n_rows", "n_with_prio", "n_prio_vals", "sum_price",
          "xor_fp", "evolved_cols", "old_cols", "version")
    }
  }

  def qExternalRoundtrip(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_rt") { dir =>
      val base = ordersBase(s, d)
      Versioned.init(base.repartition(4), dir)
      // a real change: flag every fifth order, then publish the log
      Versioned.merge(
        base.filter(col("k") % 5 === 0).withColumn("st", lit("X")),
        dir, Seq("k"))
      val latestLog = ExternalLog.export(s, dir)
      def receipt(df: DataFrame) = df
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("s"),
          expr("bit_xor(fp)").as("x")).head()
      val native = receipt(Versioned.read(s, dir))
      val ext = receipt(ExternalLog.read(s, dir))
      val nativeV1 = receipt(Versioned.read(s, dir, Some(1L)))
      val extV0 = receipt(ExternalLog.read(s, dir, Some(0L)))
      def same(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =
        a.getLong(0) == b.getLong(0) && a.getDouble(1) == b.getDouble(1) &&
          a.getLong(2) == b.getLong(2)
      import s.implicits._
      Seq((native.getLong(0), native.getDouble(1), native.getLong(2),
          Q.receipt(same(native, ext), s"native=$native ext=$ext"),
          Q.receipt(same(nativeV1, extV0),
            s"nativeV1=$nativeV1 extV0=$extV0"),
          Q.receipt(latestLog == 1L, s"latestLog=$latestLog"),
          ExternalLog.versions(s, dir).length))
        .toDF("n_rows", "sum_price", "xor_fp", "current_matches",
          "history_matches", "log_is_tail", "n_log_versions")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_delete_vectors"        -> qDeleteVectors,
    "q_lake_schema_evolution" -> qLakeSchemaEvolution,
    "q_external_roundtrip"    -> qExternalRoundtrip)

  private val fpB =
    """md5_number_upper(CAST(k AS VARCHAR) || '#' ||
      |      CAST(c AS VARCHAR) || '#' || st || '#' ||
      |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
      |      >> 4""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_delete_vectors" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders),
         |fp AS (SELECT p, $fpB AS fp
         |  FROM b WHERE c <> 1)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM b WHERE c = 1) AS deleted_rows,
         |  'ok' AS zero_rewritten, 'ok' AS carried_all,
         |  'ok' AS files_identical, 'ok' AS v1_intact, 'ok' AS dv_present,
         |  'ok' AS dv_cleared, 'ok' AS fp_stable, 2 AS version
         |FROM fp""".stripMargin,
    "q_lake_schema_evolution" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p,
         |    CASE WHEN o_custkey % 10 = 3 THEN o_orderpriority END AS prio
         |  FROM orders),
         |fp AS (SELECT p, prio,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      COALESCE(prio, '-') || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows,
         |  count(prio) AS n_with_prio,
         |  CAST(count(DISTINCT prio) AS BIGINT) AS n_prio_vals,
         |  ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  5 AS evolved_cols, 4 AS old_cols, 2 AS version
         |FROM fp""".stripMargin,
    "q_external_roundtrip" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    CASE WHEN o_orderkey % 5 = 0 THEN 'X'
         |         ELSE o_orderstatus END AS st,
         |    o_totalprice AS p
         |  FROM orders),
         |fp AS (SELECT p, $fpB AS fp FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS current_matches, 'ok' AS history_matches,
         |  'ok' AS log_is_tail, 2 AS n_log_versions
         |FROM fp""".stripMargin)
}
