package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, Session}
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-13 wave 70 — SEGMENTED MANIFESTS, driver-verified:
  *
  *  - `q_manifest_segments`: append and metadata-only commits on the
  *    versioned lake now write a top-level manifest of
  *    O(segments + delta) rows — committed segment files carry
  *    forward BY REFERENCE (the Iceberg manifest-list shape; inline
  *    rows seal into an immutable segment past a threshold, Delta's
  *    checkpoint amortization) — instead of re-listing every file of
  *    the table. Receipts pin the three contractual shapes: an append
  *    SEALS (top level smaller than the file list), a later append
  *    REUSES the sealed segment verbatim while the file count grows,
  *    and a deletion-vector DELETE copies the top level forward
  *    unchanged. The data columns prove the segmented table still
  *    reads exactly right.
  *
  * 100 TB story: this is THE commit-cost fix for a million-file
  * table — before, every append/DV-delete/ALTER re-wrote an
  * O(table-files) manifest; now those commits write O(delta) rows and
  * the carried refs are immutable files that readers splice in place
  * (and prune through: per-file stats ride IN segment rows). Full
  * rewrites (merge, compact) still produce flat manifests — a natural
  * segment collapse — and vacuum GCs segments no retained version
  * references.
  */
object Wave70Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qManifestSegments(s: SparkSession, d: String): DataFrame = {
    Session.withConf(s, "graft.lake.manifestInlineRows" -> "8") {
      Scratch.withDir("graft_mseg") { scratch =>
        val dir = scratch + "/t"
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
            col("o_totalprice").as("p"))
        Versioned.init(o.filter(col("k") % 3 === 0).repartition(6), dir)
        Versioned.append(o.filter(col("k") % 3 === 1).repartition(4), dir)
        val (top1, seg1) = Versioned.manifestShape(s, dir)
        val files1 = Versioned.files(s, dir).size
        Versioned.append(o.filter(col("k") % 3 === 2).repartition(4), dir)
        val (top2, seg2) = Versioned.manifestShape(s, dir)
        val files2 = Versioned.files(s, dir).size
        val er = Versioned.deleteVectored(s, dir, col("k") % 7 === 0)
        val (top3, seg3) = Versioned.manifestShape(s, dir)
        val r = Versioned.read(s, dir)
          .withColumn("fp", fpCol(col("k"), col("c"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
          .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
            expr("bit_xor(fp)").as("xf")).head()
        import s.implicits._
        Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
            Q.receipt(seg1 >= 1L && top1 < files1,
              s"append must seal past the threshold: top=$top1 " +
                s"segs=$seg1 files=$files1"),
            Q.receipt(seg2 == seg1 &&
                top2 == top1 + (files2 - files1) && files2 > files1,
              s"the sealed segment must carry forward verbatim: " +
                s"($top1,$seg1,$files1) -> ($top2,$seg2,$files2)"),
            Q.receipt(top3 == top2 && seg3 == seg2 && er.deletedRows > 0L,
              s"DV delete must copy the top level forward: " +
                s"($top2,$seg2) -> ($top3,$seg3) del=${er.deletedRows}")))
          .toDF("n_rows", "sum_price", "xor_fp", "append_seals",
            "segments_reused", "dv_metadata_only")
      }
    }
  }

  /** ALTER COLUMN … TYPE as a metadata-only commit (Delta type
    * widening): int→bigint on a lake table, receipts pinning that the
    * alter carried every file by reference, that the head reads the
    * wide type while time travel before the alter reads the narrow
    * one, and that a post-alter append lands a value beyond the
    * narrow range — which the data columns then prove reads exactly
    * right (max_k > Int.MaxValue is only representable because the
    * widen is real). */
  def qTypeWidening(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_twq") { scratch =>
      val dir = scratch + "/t"
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_totalprice").as("p"))
      Versioned.init(o.repartition(4), dir)
      val files1 = Versioned.files(s, dir).toSet
      Versioned.alterColumnType(s, dir,
        "k", org.apache.spark.sql.types.LongType)
      val carried = Versioned.files(s, dir).toSet == files1
      val opLabel = Versioned.history(s, dir).last.operation
      import s.implicits._
      Versioned.append(Seq((Int.MaxValue.toLong + 10L, 0.25))
        .toDF("k", "p"), dir)
      val headT = Versioned.read(s, dir).schema("k").dataType.simpleString
      val v1T = Versioned.read(s, dir, Some(1L))
        .schema("k").dataType.simpleString
      val r = Versioned.read(s, dir)
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          max(col("k")).as("mk"), Q.dsum(col("p")).as("sp")).head()
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          Q.receipt(carried &&
              opLabel == "ALTER_COLUMN_TYPE(k int->bigint)",
            s"widen must be metadata-only: carried=$carried " +
              s"op=$opLabel"),
          Q.receipt(headT == "bigint" && v1T == "int",
            s"schema-per-version: head=$headT v1=$v1T")))
        .toDF("n_rows", "sum_k", "max_k", "sum_price",
          "alter_metadata_only", "schema_versions_ok")
    }
  }

  /** `CALL lake.rewrite_manifests` (metadata-only per-partition
    * re-seal) and `CALL lake.optimize_partitions` (OPTIMIZE … WHERE:
    * rewrite only the named partitions, carry the rest as unopened
    * refs) — the manifest-maintenance procedures, driver-verified.
    * Receipts pin that the manifest rewrite touched ZERO data files
    * and left one single-partition segment per partition, and that
    * the scoped optimize rewrote exactly the named partition
    * (untouched partitions' files identical by path, the named one
    * down to one file) with matching receipt counts. */
  def qOptimizeWhere(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_oww") { scratch =>
      val dir = scratch + "/t"
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("g", pmod(col("k"), lit(3)).cast("int"))
      Versioned.init(o.repartition(4), dir, Some("g"))
      val files0 = Versioned.files(s, dir).toSet
      val rm = s.sql(s"CALL lake.rewrite_manifests('$dir')").head()
      val rmMetaOnly = Versioned.files(s, dir).toSet == files0
      val g01 = Versioned.files(s, dir)
        .filter(f => f.contains("/g=0/") || f.contains("/g=1/")).toSet
      val g2n = Versioned.files(s, dir).count(_.contains("/g=2/"))
      val ow = s.sql(
        s"CALL lake.optimize_partitions('$dir', 1, 'g', '2')").head()
      val after = Versioned.files(s, dir)
      val scoped = after.filter(f =>
        f.contains("/g=0/") || f.contains("/g=1/")).toSet == g01 &&
        after.count(_.contains("/g=2/")) == 1
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("g"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(rmMetaOnly && rm.getLong(1) == 3L &&
              rm.getLong(2) == 3L,
            s"rewrite_manifests must be metadata-only, one segment " +
              s"per partition: files_same=$rmMetaOnly " +
              s"shape=(${rm.getLong(1)},${rm.getLong(2)})"),
          Q.receipt(scoped && ow.getInt(1) == g2n &&
              ow.getInt(2) == g01.size,
            s"optimize_partitions must touch ONLY g=2: scoped=$scoped " +
              s"coalesced=${ow.getInt(1)}/$g2n " +
              s"carried=${ow.getInt(2)}/${g01.size}")))
        .toDF("n_rows", "sum_price", "xor_fp", "rewrite_meta_only",
          "optimize_scoped")
    }
  }

  /** Incremental clustering (`CALL lake.optimize_incremental`, the
    * ZCube / liquid-clustering shape): after a full clustered seed,
    * a new batch lays out into its OWN clustered group while the
    * clustered bulk carries by reference. Receipts pin that the
    * incremental pass rewrote exactly the appended files (the
    * clustered files' paths survive verbatim) and that a selective
    * probe still prunes across BOTH clustered groups; data columns
    * prove the union reads exactly right. */
  def qClusterIncr(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_cinc") { scratch =>
      val dir = scratch + "/t"
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      Versioned.init(o.filter(col("k") % 2 === 0).repartition(6), dir,
        statsCols = Seq("k"))
      val seed = Versioned.compactIncremental(s, dir, 4,
        clusterBy = Seq("k"))
      val clustered = Versioned.files(s, dir)
      Versioned.append(o.filter(col("k") % 2 === 1).repartition(3), dir)
      val incr = Versioned.compactIncremental(s, dir, 3,
        clusterBy = Seq("k"))
      val after = Versioned.files(s, dir)
      val bulkCarried = clustered.forall(after.contains)
      val pr = Versioned.readRange(s, dir, "k", 1d, 500d)
      val probe = pr.df.filter(col("k").between(1L, 500L))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp")).head()
      val all = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((probe.getLong(0), probe.getDouble(1), all.getLong(0),
          all.getLong(1),
          Q.receipt(seed.carried == 0 && incr.coalesced == 3 &&
              incr.carried == clustered.size && bulkCarried,
            s"incremental must rewrite ONLY the appended files: " +
              s"seed_carried=${seed.carried} incr=" +
              s"${incr.coalesced}/${incr.carried} of " +
              s"${clustered.size} bulk_carried=$bulkCarried"),
          Q.receipt(pr.filesRead < pr.filesTotal,
            s"stats must prune across both clustered groups: " +
              s"${pr.filesRead}/${pr.filesTotal}")))
        .toDF("n_probe", "sum_probe", "n_all", "xor_all",
          "incr_scoped", "prunes_both_groups")
    }
  }

  /** `CALL lake.tag` + `VERSION AS OF '<tag>'` — named,
    * vacuum-protected snapshot refs read back through pure SQL.
    * Receipts pin that the tag survives a vacuum that drops every
    * other historical version (the Iceberg ref-retention contract)
    * and still reads the EXACT pinned content afterwards. */
  def qSqlTagTravel(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_tagq") { scratch =>
      val dir = scratch + "/t"
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      Versioned.init(o.filter(col("k") % 2 === 0).repartition(4), dir)
      val tv = s.sql(s"CALL lake.tag('$dir', 'cut1')").head().getLong(0)
      Versioned.append(o.filter(col("k") % 2 === 1).repartition(2), dir)
      Versioned.append(o.filter(col("k") % 2 === 1).limit(0), dir)
      def tagAgg() = s.sql(
        s"""SELECT count(*) AS n, ${Q.DSUM_SPARK("p")} AS sp
           |FROM lake.`$dir` VERSION AS OF 'cut1'""".stripMargin).head()
      val before = tagAgg()
      // vacuum keeps only the tip — EXCEPT the tagged version
      Versioned.vacuum(s, dir, keepLast = 1)
      val after = tagAgg()
      val survived = before == after &&
        !Versioned.manifestExists(s, dir, 2L) // untagged middle gone
      val head = s.sql(
        s"""SELECT count(*) AS n, ${Q.DSUM_SPARK("p")} AS sp
           |FROM lake.`$dir`""".stripMargin).head()
      import s.implicits._
      Seq((before.getLong(0), before.getDouble(1),
          head.getLong(0), head.getDouble(1),
          Q.receipt(tv == 1L && survived,
            s"tag must pin v1 through the vacuum: tagged=v$tv " +
              s"before=$before after=$after v2_dropped=" +
              s"${!Versioned.manifestExists(s, dir, 2L)}")))
        .toDF("n_tag", "sum_tag", "n_head", "sum_head",
          "tag_survives_vacuum")
    }
  }

  /** Streaming ADMISSION CONTROL driver-verified: a paced backfill
    * (`maxFilesPerTrigger`) over a three-commit lake table delivers
    * the exact full content across EXACTLY one data-bearing
    * micro-batch per admitted version group — the receipt pins the
    * pacing (3 commits under a 3-file budget → 3 batches, never 1)
    * and the data columns prove nothing was dropped or duplicated.
    * At 100 TB this is what makes a fresh consumer of a huge table
    * startable at all: the initial snapshot streams in bounded
    * slices instead of one cluster-choking batch. */
  def qStreamPaced(s: SparkSession, d: String): DataFrame = {
    // the 3-commit table is READ-ONLY for the paced consumer —
    // JVM-memoized; only the checkpoint + memory sink are per-run
    val dir = LakeFixtures.memoDir(s"paced3|$d", "graft_paced") { dir0 =>
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      Versioned.init(o.filter(col("k") % 3 === 0).repartition(3), dir0)
      Versioned.append(o.filter(col("k") % 3 === 1).repartition(2), dir0)
      Versioned.append(o.filter(col("k") % 3 === 2).repartition(2), dir0)
    }
    val sink = s"graft_paced_${java.util.UUID.randomUUID()
      .toString.take(8)}"
    try Scratch.withDir("graft_paced_run") { work =>
      val cp = s"$work/cp"
      val q = s.readStream.format("graft-lake").option("path", dir)
        .option("maxFilesPerTrigger", 3).load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val r = s.table(sink)
        .withColumn("fp", fpCol(col("k"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(batches == 3,
            s"3 commits under a 3-file budget must pace into 3 " +
              s"micro-batches, got $batches: " +
              q.recentProgress.map(_.numInputRows).mkString(","))))
        .toDF("n_rows", "sum_price", "xor_fp", "paced_batches")
    } finally s.catalog.dropTempView(sink)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_manifest_segments" -> qManifestSegments,
    "q_type_widening"     -> qTypeWidening,
    "q_optimize_where"    -> qOptimizeWhere,
    "q_cluster_incr"      -> qClusterIncr,
    "q_sql_tag_travel"    -> qSqlTagTravel,
    "q_stream_paced"      -> qStreamPaced)

  val oracles: Map[String, String] = Map(
    "q_manifest_segments" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 7 <> 0),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM t)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS append_seals, 'ok' AS segments_reused,
         |  'ok' AS dv_metadata_only
         |FROM fp""".stripMargin,
    "q_type_widening" ->
      s"""WITH t AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
         |    o_totalprice AS p FROM orders
         |  UNION ALL SELECT 2147483657, 0.25)
         |SELECT count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_k,
         |  CAST(max(k) AS BIGINT) AS max_k,
         |  ${Q.DSUM("p")} AS sum_price,
         |  'ok' AS alter_metadata_only, 'ok' AS schema_versions_ok
         |FROM t""".stripMargin,
    "q_optimize_where" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p,
         |    CAST(o_orderkey % 3 AS INTEGER) AS g FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(g AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM t)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS rewrite_meta_only, 'ok' AS optimize_scoped
         |FROM fp""".stripMargin,
    "q_cluster_incr" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p
         |  FROM orders),
         |probe AS (SELECT * FROM t WHERE k BETWEEN 1 AND 500),
         |fp AS (SELECT
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM t)
         |SELECT (SELECT count(*) FROM probe) AS n_probe,
         |  (SELECT ${Q.DSUM("p")} FROM probe) AS sum_probe,
         |  (SELECT count(*) FROM t) AS n_all,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM fp) AS xor_all,
         |  'ok' AS incr_scoped, 'ok' AS prunes_both_groups""".stripMargin,
    "q_sql_tag_travel" ->
      s"""WITH v1 AS (SELECT o_totalprice AS p FROM orders
         |  WHERE o_orderkey % 2 = 0)
         |SELECT (SELECT count(*) FROM v1) AS n_tag,
         |  (SELECT ${Q.DSUM("p")} FROM v1) AS sum_tag,
         |  (SELECT count(*) FROM orders) AS n_head,
         |  (SELECT ${Q.DSUM("o_totalprice")} FROM orders) AS sum_head,
         |  'ok' AS tag_survives_vacuum""".stripMargin,
    "q_stream_paced" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM t)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS paced_batches
         |FROM fp""".stripMargin)
}
