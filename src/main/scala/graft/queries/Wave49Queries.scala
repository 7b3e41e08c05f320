package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 49 — retention and consumption mechanics:
  *
  *  - `q_drop_partition`: [[Versioned.dropPartitions]] — ALTER TABLE
  *    DROP PARTITION as a METADATA-ONLY commit. The receipt pins the
  *    economics: every surviving file is carried by reference (v2's
  *    manifest ⊆ v1's), nothing was read or rewritten, and the
  *    content equals the predicate delete a reader would have paid
  *    file rewrites for.
  *
  *  - `q_tagged_snapshot`: [[Versioned.tag]] + vacuum protection —
  *    an audit tag names a version; later commits and a `vacuum`
  *    that would otherwise expire it leave the tagged snapshot
  *    readable (Iceberg ref semantics). The receipt reads THROUGH
  *    the tag after the vacuum.
  *
  *  - `q_lake_follow`: [[Versioned.followChanges]] — checkpointed
  *    incremental consumption of the commit log across a simulated
  *    consumer crash: the first run processes one version and
  *    checkpoints; the restart picks up at the next version, no
  *    gaps, no re-delivery; the net of all consumed deltas
  *    reconciles EXACTLY (cents-integer arithmetic) with the final
  *    snapshot.
  *
  * 100 TB story: retention = manifest filtering (dropping a day is
  * two metadata writes); audit snapshots survive vacuum without
  * freezing the whole table's retention; downstream consumers read
  * each commit's delta footprint exactly once.
  */
object Wave49Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qDropPartition(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersByStatus(s, d),
      "graft_dp") { dir =>
      val v1Files = Versioned.files(s, dir, Some(1L)).toSet
      val r0 = Versioned.dropPartitions(s, dir, "o_orderstatus", Seq("F"))
      val v2Files = Versioned.files(s, dir, Some(r0.version)).toSet
      val metadataOnly = v2Files.subsetOf(v1Files)
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(r0.droppedFiles > 0,
            s"droppedFiles=${r0.droppedFiles}"),
          Q.receipt(metadataOnly,
            s"v2 wrote ${(v2Files -- v1Files).size} new files"),
          r0.version))
        .toDF("n_rows", "sum_price", "xor_fp", "dropped_some",
          "metadata_only", "version")
    }
  }

  def qTaggedSnapshot(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersEvens16(s, d),
      "graft_tag") { dir =>
      Versioned.tag(s, dir, "audit") // pins v1
      // two more commits, then a retention pass that would expire v1
      Versioned.updateVectored(s, dir, col("k") % 4 === 0,
        Map("p" -> (col("p") + lit(100.0))))
      Versioned.compact(s, dir, targetFiles = 4)
      Versioned.vacuum(s, dir, keepLast = 1)
      val stillTagged = Versioned.tags(s, dir).get("audit").contains(1L)
      val t = Versioned.readTag(s, dir, "audit").select("k", "st", "p")
      val r = t.withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      val curN = Versioned.read(s, dir).count()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(stillTagged,
            s"tags=${Versioned.tags(s, dir)}"),
          Q.receipt(curN == r.getLong(0),
            s"current n=$curN tagged n=${r.getLong(0)}")))
        .toDF("n_rows", "sum_price", "xor_fp", "tag_survived_vacuum",
          "count_preserved")
    }
  }

  def qLakeFollow(s: SparkSession, d: String): DataFrame = {
    // the three commits the consumer must see exactly once each are
    // byte-identical every run (partition-scoped insert merge whose
    // v2 feed opens one partition's files; a vectored delete and a
    // vectored update whose feeds are DV deltas, not full-rewrite
    // diffs), so they live in the shared read-only history fixture —
    // only the consumer CHECKPOINT is per-run state
    val dir = LakeFixtures.ordersEvensStatusHistory(s, d)
    // the lake is the SHARED fixture — only the checkpoint is ours
    Scratch.withDir("graft_flcp") { scratch =>
      val cp = scratch + "/offsets"
      var netRows = 0L
      var netCents = 0L
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      def apply(v: Long, feed: Versioned.ChangeFeed): Unit = {
        val r = feed.df.agg(
          Q.dsum(when(col("op") === "I", lit(1.0)).otherwise(lit(-1.0)))
            .as("dn"),
          sum((floor(col("p") * lit(100.0) + lit(0.5)).cast("long")) *
            when(col("op") === "I", lit(1L)).otherwise(lit(-1L)))
            .as("dc")).head()
        netRows += r.getDouble(0).toLong
        netCents += r.getLong(1)
        seen += v
      }
      // run 1 consumes ONE version, then "crashes"
      val n1 = Versioned.followChanges(s, dir, cp, maxVersions = 1)(apply)
      // restart: the checkpoint resumes at the next version
      val n2 = Versioned.followChanges(s, dir, cp)(apply)
      val exactlyOnce = seen.toSeq == Seq(2L, 3L, 4L)
      val baseAgg = Versioned.read(s, dir, Some(1L))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))
            .as("c")).head()
      val curAgg = Versioned.read(s, dir)
        .agg(count(lit(1)).as("n"),
          sum(floor(col("p") * lit(100.0) + lit(0.5)).cast("long"))
            .as("c")).head()
      val reconciled =
        baseAgg.getLong(0) + netRows == curAgg.getLong(0) &&
        baseAgg.getLong(1) + netCents == curAgg.getLong(1)
      import s.implicits._
      Seq((curAgg.getLong(0), curAgg.getLong(1), n1, n2,
          Q.receipt(exactlyOnce, s"consumed versions=${seen.mkString(",")}"),
          Q.receipt(reconciled,
            s"base n=${baseAgg.getLong(0)}+$netRows cents=" +
              s"${baseAgg.getLong(1)}+$netCents vs current " +
              s"n=${curAgg.getLong(0)} cents=${curAgg.getLong(1)}")))
        .toDF("n_rows", "sum_cents", "run1_versions", "run2_versions",
          "exactly_once", "reconciled")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_drop_partition"  -> qDropPartition,
    "q_tagged_snapshot" -> qTaggedSnapshot,
    "q_lake_follow"     -> qLakeFollow)

  private val evens =
    """SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS st,
      |    o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_drop_partition" ->
      s"""WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderstatus <> 'F'),
         |fp AS (SELECT o_totalprice AS p,
         |    md5_number_upper(CAST(o_orderkey AS VARCHAR) || '#' ||
         |      o_orderstatus || '#' ||
         |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
         |        AS VARCHAR)) >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS dropped_some, 'ok' AS metadata_only, 2 AS version
         |FROM fp""".stripMargin,
    "q_tagged_snapshot" ->
      s"""WITH b AS ($evens),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS tag_survived_vacuum, 'ok' AS count_preserved
         |FROM fp""".stripMargin,
    "q_lake_follow" ->
      s"""WITH b AS ($evens),
         |v2 AS (SELECT k, p FROM b
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
         |    AND o_orderstatus = 'O'),
         |v3 AS (SELECT k, p FROM v2 WHERE k % 7 <> 0),
         |v4 AS (SELECT k,
         |    CASE WHEN k % 9 = 0 THEN p + 10.0 ELSE p END AS p
         |  FROM v3)
         |SELECT count(*) AS n_rows,
         |  CAST(sum(CAST(floor(p * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS sum_cents,
         |  1 AS run1_versions, 2 AS run2_versions,
         |  'ok' AS exactly_once, 'ok' AS reconciled
         |FROM v4""".stripMargin)
}
