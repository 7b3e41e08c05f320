package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-13 wave 69 — the last SQL entry points get driver-verified:
  *
  *  - `q_sql_optimize_cluster`: the layout-rewrite PROCEDURES
  *    (`CALL lake.optimize_cluster` / `lake.optimize_zorder`) — the
  *    calls a warehouse user actually makes — with receipts pinning
  *    the files-pruned counts of a leading-dimension probe after the
  *    linear cluster and BOTH dimensions after the z-order, plus a
  *    content hash proving neither rewrite touched a logical row.
  *
  *  - `q_sql_branch_at`: `<src>@<branch>` ADDRESSING — the branch is
  *    read AND written through the source path in pure SQL
  *    (`SELECT … FROM lake.`<src>@b1``, `INSERT INTO
  *    lake.`<src>@b1``), with receipts pinning that the source never
  *    moved and that `$history` composes with the ref.
  *
  * 100 TB story: both are metadata-surface features over already-
  * verified engine paths — the procedures rewrite in one bounded
  * distributed pass and the receipts come from manifests; the branch
  * ref is ONE name→directory record in the source's manifest dir, so
  * `@`-addressing costs a file read regardless of table size.
  */
object Wave69Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlOptimizeCluster(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqloc") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      Versioned.init(base.repartition(8), dir, statsCols = Seq("k", "c"))
      // the k-probe interval is RECEIPT-ONLY (the oracle pins the
      // literal 'ok'; probe CONTENT comes from the c-probe below, whose
      // bounds therefore stay literal) — derive it from the table's
      // actual k-span so it is selective at EVERY scale factor. r16
      // found the old fixed [1, 1000] probe covered 2/3 of sf0.001's
      // k-span [0, 1499]: with 8 z-ordered files each k-interval is
      // ~half the range, so NO file could prune and the receipt
      // false-failed on fixture geometry (the q_zorder_lake sf1
      // lesson, at the other end of the scale). A span/8 box sits
      // inside one z-half at any SF.
      val ext = base.agg(min(col("k")), max(col("k"))).head()
      val (kLo, kHi) = (ext.getLong(0).toDouble,
        ext.getLong(0) + (ext.getLong(1) - ext.getLong(0)) / 8.0)
      val rc = s.sql(s"CALL lake.optimize_cluster('$dir', 8, 'k')")
        .head()
      // leading dimension prunes after the linear cluster
      val kc = Versioned.readRange(s, dir, "k", kLo, kHi)
      val rz = s.sql(s"CALL lake.optimize_zorder('$dir', 8, 'k, c')")
        .head()
      // BOTH dimensions prune after the z-order
      val zk = Versioned.readRange(s, dir, "k", kLo, kHi)
      val zc = Versioned.readRange(s, dir, "c", 100d, 180d)
      val probe = zc.df.filter(col("c").between(100L, 180L))
        .withColumn("fp", fpCol(col("k"), col("c"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      val all = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((probe.getLong(0), probe.getDouble(1), probe.getLong(2),
          all.getLong(0), all.getLong(1),
          Q.receipt(rc.getLong(0) == 2L && rc.getLong(1) <= 8L &&
              rz.getLong(0) == 3L && rz.getLong(1) <= 8L,
            s"cluster=(v${rc.getLong(0)},${rc.getLong(1)}f) " +
              s"zorder=(v${rz.getLong(0)},${rz.getLong(1)}f)"),
          Q.receipt(kc.filesRead < kc.filesTotal,
            s"cluster leading-dim read=${kc.filesRead} of " +
              s"${kc.filesTotal}"),
          Q.receipt(zk.filesRead < zk.filesTotal &&
              zc.filesRead < zc.filesTotal,
            s"zorder read k=${zk.filesRead}/${zk.filesTotal} " +
              s"c=${zc.filesRead}/${zc.filesTotal}")))
        .toDF("n_probe", "sum_probe", "xor_probe", "n_all", "xor_all",
          "calls_ok", "cluster_prunes", "zorder_prunes_both")
    }
  }

  def qSqlBranchAt(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqlat") { work =>
      val (main, br) = (s"$work/t", s"$work/b1")
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), main)
      s.sql(s"CALL lake.branch('$main', '$br')").collect()
      val n0 = s.sql(s"SELECT count(*) FROM lake.`$main`")
        .head().getLong(0)
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        .createOrReplaceTempView("graft_sqlat_src")
      // write THROUGH the source path: the @-ref addresses the branch
      s.sql(
        s"""INSERT INTO lake.`$main@b1`
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM graft_sqlat_src""".stripMargin)
      val mainHeld = Versioned.currentVersion(s, main).contains(1L)
      val histN = s.sql(
        s"SELECT count(*) FROM lake.`$main@b1$$history`")
        .head().getLong(0)
      val nMain = s.sql(s"SELECT count(*) FROM lake.`$main`")
        .head().getLong(0)
      val r = s.sql(s"SELECT k, c, st, p FROM lake.`$main@b1`")
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(mainHeld && nMain == n0,
            s"source moved while the branch worked: v=" +
              s"${Versioned.currentVersion(s, main)} n $n0->$nMain"),
          Q.receipt(histN == 2L, s"branch history rows=$histN"),
          Q.receipt(r.getLong(0) > nMain,
            s"branch=${r.getLong(0)} source=$nMain — the insert " +
              "must land on the branch only")))
        .toDF("n_rows", "sum_price", "xor_fp", "source_unmoved",
          "ref_history_ok", "write_isolated")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_optimize_cluster" -> qSqlOptimizeCluster,
    "q_sql_branch_at"        -> qSqlBranchAt)

  val oracles: Map[String, String] = Map(
    "q_sql_optimize_cluster" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_totalprice AS p FROM orders),
         |pr AS (SELECT k, c, p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM t),
         |probe AS (SELECT * FROM pr WHERE c BETWEEN 100 AND 180)
         |SELECT (SELECT count(*) FROM probe) AS n_probe,
         |  (SELECT ${Q.DSUM("p")} FROM probe) AS sum_probe,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM probe) AS xor_probe,
         |  (SELECT count(*) FROM pr) AS n_all,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM pr) AS xor_all,
         |  'ok' AS calls_ok, 'ok' AS cluster_prunes,
         |  'ok' AS zorder_prunes_both""".stripMargin,
    "q_sql_branch_at" ->
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
         |  'ok' AS source_unmoved, 'ok' AS ref_history_ok,
         |  'ok' AS write_isolated
         |FROM fp""".stripMargin)
}
