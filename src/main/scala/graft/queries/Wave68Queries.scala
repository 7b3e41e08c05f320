package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned

/** Round-12 wave 68 — manifest statistics drive Spark's JOIN PLANNING:
  *
  *  - `q_lake_cbo`: the lake connector reports filter-aware
  *    `Statistics` (row count from the manifest's per-file `#rows`
  *    stats × the pruned read schema's width) through DSv2
  *    `SupportsReportStatistics`. Without it, every DSv2 relation
  *    weighs in at `spark.sql.defaultSizeInBytes` (effectively
  *    infinite) and a 100-row lake dimension still SORT-MERGES
  *    against a fact table — the single most expensive silent
  *    planning failure a 100 TB join can make. The receipt pins the
  *    physical outcome: the fact ⋈ lake-dim join selects
  *    BroadcastHashJoin with the LAKE side as the build side, and
  *    the join's aggregate is replayed exactly by the oracle.
  *
  * 100 TB story: statistics are METADATA-ONLY (one manifest read —
  * no file opened, no per-file FileSystem call), version-pinned with
  * the scan, and follow file pruning: a probe that keeps 3 of a
  * million files reports 3 files' rows, so the planner sees the
  * footprint the scan will actually pay, not the table's.
  */
object Wave68Queries extends QueryModule {

  def qLakeCbo(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_cbo") { scratch =>
      val dir = scratch + "/t"
      // no statsCols on purpose: every commit logs per-file `#rows`
      // unconditionally (parquet footers), so planner statistics are
      // universal — not an opt-in of range-stats registration
      Versioned.init(Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .repartition(4), dir)
      val dim = s.read.format("graft-lake").option("path", dir).load()
      val joined = Tables.load(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .join(dim, col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      val bhj = plan.contains("BroadcastHashJoin")
      // the stats the planner actually saw for the lake relation:
      // reported (not the defaultSizeInBytes fallback) and under the
      // broadcast threshold — i.e. the manifest estimate, not luck,
      // made the join broadcast
      val lakeSize = joined.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.sizeInBytes
      }.getOrElse(BigInt(-1))
      val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
      val out = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum(col("o_totalprice")).as("revenue"))
        .withColumn("stats_broadcast",
          lit(Q.receipt(bhj && lakeSize > 0 && lakeSize <= threshold,
            s"bhj=$bhj lakeSize=$lakeSize threshold=$threshold")))
        .orderBy("c_mktsegment")
      // materialize before the block's cleanup deletes the lake
      import s.implicits._
      out.collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3)))
        .toDF("c_mktsegment", "n_orders", "revenue", "stats_broadcast")
    }
  }

  /** Branch workflow ([[Versioned.branch]]/[[Versioned.publish]]):
    * cut a writable branch (zero-copy clone + recorded base), commit
    * an experiment on it (reprice + erase), prove the source never
    * saw the work, publish — ONE OCC squash reference commit, zero
    * data movement — and prove a STALE sibling branch is refused
    * with zero effect. */
  def qBranchPublish(s: SparkSession, d: String): DataFrame = {
    val fpCol = (cols: Seq[org.apache.spark.sql.Column]) =>
      shiftrightunsigned(graft.text.Dedup.md5Hash64(
        concat_ws("#", cols: _*)), 4)
    def receipt(df: DataFrame) = {
      val r = df.withColumn("fp", fpCol(Seq(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      (r.getLong(0), r.getDouble(1), r.getLong(2))
    }
    Scratch.withDir("graft_br") { work =>
      val (main, br, stale) = (s"$work/t", s"$work/b1", s"$work/b2")
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), main)
      val (n0, sp0, xf0) = receipt(Versioned.read(s, main))
      Versioned.branch(s, main, br)
      Versioned.branch(s, main, stale) // sibling cut at the same base
      // two commits on the branch: reprice %3, erase %7 (not %3)
      Versioned.merge(Versioned.read(s, br).filter(col("k") % 3 === 0)
          .withColumn("p", col("p") + lit(10.0)), br, Seq("k"))
      Versioned.deleteVectored(s, br,
        col("k") % 7 === 0 && col("k") % 3 =!= 0)
      // invisibility: the source is untouched while the branch works
      val (n1, sp1, xf1) = receipt(Versioned.read(s, main))
      val invisible = n1 == n0 && sp1 == sp0 && xf1 == xf0 &&
        Versioned.currentVersion(s, main).contains(1L)
      val headFiles = Versioned.files(s, br).toSet
      val v = Versioned.publish(s, br)
      // metadata-only: the published version references the branch
      // head's files in place — the file set is identical
      val metadataOnly =
        Versioned.files(s, main, Some(v)).toSet == headFiles
      val opOk = Versioned.history(s, main).last.operation
        .startsWith("PUBLISH(")
      // OCC: the sibling's base is stale now — refused, zero effect
      val staleRefused =
        try { Versioned.publish(s, stale); false }
        catch { case _: IllegalArgumentException => true }
      val unmoved = Versioned.currentVersion(s, main).contains(v)
      val (n2, sp2, xf2) = receipt(Versioned.read(s, main))
      // durability: the source reads THROUGH the zero-copy-published
      // branch directory — dropping the branch refuses loudly and the
      // source keeps reading
      val dropGuarded =
        (try { Versioned.dropTable(s, br); false }
        catch { case _: IllegalStateException => true }) && {
          val (ng, spg, xfg) = receipt(Versioned.read(s, main))
          ng == n2 && spg == sp2 && xfg == xf2
        }
      // localize: a publish that COPIES its staged files under the
      // source root makes the branch directory disposable — drop it
      // for real and the source still reads
      val b3 = s"$work/b3"
      Versioned.branch(s, main, b3)
      Versioned.merge(Versioned.read(s, b3).filter(col("k") % 11 === 0)
        .withColumn("p", col("p") + lit(5.0)), b3, Seq("k"))
      val v3 = Versioned.publish(s, b3, localize = true)
      // main is itself a zero-copy clone, so v3 may reference the
      // shared fixture and the FIRST branch's roots — the localize
      // contract is that nothing references the DISPOSED branch
      val allLocal = !Versioned.files(s, main, Some(v3))
        .exists(_.contains(b3))
      val disposed = Versioned.dropTable(s, b3)
      val (n3, sp3, xf3) = receipt(Versioned.read(s, main))
      import s.implicits._
      Seq((n3, sp3, xf3,
          Q.receipt(invisible,
            s"main moved under the branch: n $n0->$n1 xor $xf0->$xf1"),
          Q.receipt(metadataOnly, "published file set != branch head"),
          Q.receipt(opOk,
            s"op=${Versioned.history(s, main).last.operation}"),
          Q.receipt(staleRefused && unmoved,
            s"staleRefused=$staleRefused version=" +
              s"${Versioned.currentVersion(s, main)}"),
          Q.receipt(dropGuarded,
            s"published-branch dropTable must refuse and keep the " +
              s"source readable"),
          Q.receipt(allLocal && disposed,
            s"allLocal=$allLocal disposed=$disposed"),
          v3.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "branch_invisible",
          "publish_metadata_only", "op_ok", "stale_refused",
          "drop_guarded", "localized_disposable", "version")
    }
  }

  /** The branch workflow through PURE SQL: `CALL lake.branch`, an
    * `INSERT INTO` on the branch through the catalog, `CALL
    * lake.publish`, `SELECT` from the source — no Scala API in the
    * user path. Receipts pin cut/publish versions, invisibility
    * while the branch works, and the PUBLISH history label. */
  def qSqlBranch(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqlbr") { work =>
      val (main, br) = (s"$work/t", s"$work/b1")
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), main)
      val cut = s.sql(s"CALL lake.branch('$main', '$br')").head()
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        .createOrReplaceTempView("graft_sqlbr_src")
      s.sql(
        s"""INSERT INTO lake.`$br`
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM graft_sqlbr_src""".stripMargin)
      val mainHeld = Versioned.currentVersion(s, main).contains(1L)
      val pub = s.sql(s"CALL lake.publish('$br')").head().getLong(0)
      val opOk = Versioned.history(s, main).last.operation
        .startsWith("PUBLISH(")
      val r = s.sql(s"SELECT k, c, st, p FROM lake.`$main`")
        .withColumn("fp", shiftrightunsigned(graft.text.Dedup.md5Hash64(
          concat_ws("#", col("k"), col("c"), col("st"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))), 4))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(cut.getLong(0) == 1L && cut.getLong(1) == 1L,
            s"cut=(${cut.getLong(0)},${cut.getLong(1)})"),
          Q.receipt(mainHeld, "source moved while the branch worked"),
          Q.receipt(opOk,
            s"op=${Versioned.history(s, main).last.operation}"),
          pub.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "cut_ok",
          "branch_invisible", "op_ok", "published_as")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lake_cbo"        -> qLakeCbo,
    "q_branch_publish"  -> qBranchPublish,
    "q_sql_branch"      -> qSqlBranch)

  val oracles: Map[String, String] = Map(
    "q_sql_branch" ->
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
         |  'ok' AS cut_ok, 'ok' AS branch_invisible, 'ok' AS op_ok,
         |  2 AS published_as
         |FROM fp""".stripMargin,
    "q_branch_publish" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |v AS (SELECT k, st,
         |    CASE WHEN k % 3 = 0 THEN p + 10.0 ELSE p END AS p
         |  FROM b WHERE NOT (k % 7 = 0 AND k % 3 <> 0)),
         |w AS (SELECT k, st,
         |    CASE WHEN k % 11 = 0 THEN p + 5.0 ELSE p END AS p
         |  FROM v),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM w)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS branch_invisible, 'ok' AS publish_metadata_only,
         |  'ok' AS op_ok, 'ok' AS stale_refused, 'ok' AS drop_guarded,
         |  'ok' AS localized_disposable, 3 AS version
         |FROM fp""".stripMargin,
    "q_lake_cbo" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue,
         |  'ok' AS stats_broadcast
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin)
}
