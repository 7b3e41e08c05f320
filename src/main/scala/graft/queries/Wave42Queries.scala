package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 42 — lake maintenance economics:
  *
  *  - `q_compact_small`: [[Versioned.compactSmall]] — OPTIMIZE that
  *    pays for the SLIVERS, not the table: three single-customer
  *    vectored updates each append a tiny batch file; selective
  *    compaction coalesces exactly those three and carries every
  *    well-sized range file BY REFERENCE (receipt-pinned: the v1
  *    file set is a subset of the new manifest), with the bulk
  *    files' deletion-vector entries surviving untouched. The
  *    size threshold derives from the observed bulk minimum, so the
  *    receipt arithmetic is scale-factor-independent.
  *
  *  - `q_incr_mv`: incremental materialized-view maintenance driven
  *    by [[Versioned.changes]] — the per-status (count, cents-sum)
  *    MV is delta-applied from the file-pruned CDC feed
  *    (new = old + I − D, exact integer cents), and the receipts pin
  *    BOTH that the result equals a full recompute of v2 AND that
  *    the feed opened fewer files than the manifests union (the
  *    incremental consumer never paid for untouched partitions).
  *
  * 100 TB story: these two are the daily-operations loop of a real
  * lake — merge lands, downstream MVs advance from the delta's
  * footprint, and maintenance compacts the slivers the merges left,
  * never rewriting the accumulated bulk.
  */
object Wave42Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qCompactSmall(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.ordersRange16(s, d), "graft_csm") { dir =>
      (1L to 3L).foreach { c =>
        Versioned.updateVectored(s, dir, col("c") === c,
          Map("p" -> (col("p") + lit(100.0))))
      }
      val fsys = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val v1Files = Versioned.files(s, dir, Some(1L))
      val minBulk = v1Files.map(f => fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(f)).getLen).min
      // sliver COUNT is a physical detail (a batch may stage more than
      // one part file); the invariant is that EVERY sliver coalesces
      val slivers = Versioned.files(s, dir).length - v1Files.length
      val c = Versioned.compactSmall(s, dir, minBytes = minBulk,
        targetFiles = 1)
      val bulkCarried = v1Files.toSet
        .subsetOf(Versioned.files(s, dir).toSet)
      val dvRows = Versioned.deletionVector(s, dir).map(_.count())
        .getOrElse(0L)
      val updatedTotal = Versioned.read(s, dir)
        .filter(col("c").between(1L, 3L)).count()
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(c.coalesced == slivers,
            s"coalesced=${c.coalesced} slivers=$slivers"),
          Q.receipt(c.carried == 16, s"carried=${c.carried} want=16"),
          Q.receipt(bulkCarried, s"missing=${
            v1Files.toSet.diff(Versioned.files(s, dir).toSet).take(3)
              .mkString(";")}"),
          Q.receipt(dvRows == updatedTotal,
            s"dvRows=$dvRows updatedTotal=$updatedTotal"),
          c.version.toInt))
        .toDF("n_rows", "sum_price", "xor_fp", "coalesced_all_slivers",
          "carried_all", "bulk_by_reference", "dv_intact", "version")
    }
  }

  def qIncrMv(s: SparkSession, d: String): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) =
      floor(c * lit(100.0) + lit(0.5)).cast("long")
    def mvOf(df: DataFrame) = df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sc"))
    // r17 (guide §6 I/O amortization; r16 VERDICT #2): the clone + MERGE
    // lifecycle is byte-identical every run — clone is a metadata
    // commit over the immutable ordersByStatus base and the batch is a
    // pure function of the orders table — so the TWO-COMMIT history is
    // staged once per JVM ([[LakeFixtures.memoDir]], the
    // ordersEvensStatusHistory pattern) and the query consumes it
    // READ-ONLY: v1 the base clone, v2 the merge. Every run still
    // computes the MV delta-apply AND the full-recompute receipt from
    // the parquet inputs.
    val dir = LakeFixtures.memoDir(s"mv|$d", "graft_mv") { tmp =>
      val t = tmp + "/t"
      Versioned.clone(s, LakeFixtures.ordersByStatus(s, d), t)
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val f = orders.filter(col("o_orderstatus") === "F")
      val batch =
        f.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
          .withColumn("is_delete", lit(false))
        .unionByName(f.filter(col("o_orderkey") % 13 === 0 &&
            col("o_orderkey") % 7 =!= 3)
          .withColumn("is_delete", lit(true)))
        .unionByName(f.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("is_delete", lit(false)))
      Versioned.merge(batch, t, Seq("o_orderkey"),
        deleteCol = Some("is_delete"))
    } + "/t"
    val mv0 = mvOf(Versioned.read(s, dir, Some(1L)))
    val cf = Versioned.changes(s, dir, 1L, 2L)
    // delta-apply: new = old + inserts − deletes, in exact cents
    val delta = cf.df.groupBy("o_orderstatus")
      .agg(sum(when(col("op") === "I", 1L).otherwise(-1L)).as("dn"),
        sum(when(col("op") === "I", cents(col("o_totalprice")))
          .otherwise(-cents(col("o_totalprice")))).as("dsc"))
    val mv1 = mv0.join(delta, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n"),
        (coalesce(col("sc"), lit(0L)) + coalesce(col("dsc"), lit(0L)))
          .as("sc"))
      .filter(col("n") > 0)
    val full = mvOf(Versioned.read(s, dir))
    val mismatches = mv1.join(full.withColumnRenamed("n", "fn")
        .withColumnRenamed("sc", "fsc"), Seq("o_orderstatus"), "full_outer")
      .filter(col("n") =!= col("fn") || col("sc") =!= col("fsc") ||
        col("n").isNull || col("fn").isNull)
      .limit(4).collect().toSeq
    import s.implicits._
    val out = mv1.orderBy("o_orderstatus").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Q.receipt(mismatches.isEmpty,
          s"incremental-vs-full mismatch rows=${mismatches.mkString(";")}"),
        Q.receipt(cf.filesOpened < cf.filesUnion,
          s"filesOpened=${cf.filesOpened} filesUnion=${cf.filesUnion}")))
    out.toDF("o_orderstatus", "n", "sum_cents", "matches_full", "pruned")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_compact_small" -> qCompactSmall,
    "q_incr_mv"       -> qIncrMv)

  val oracles: Map[String, String] = Map(
    "q_compact_small" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st,
         |    CASE WHEN o_custkey BETWEEN 1 AND 3
         |         THEN o_totalprice + 100 ELSE o_totalprice END AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS coalesced_all_slivers, 'ok' AS carried_all,
         |  'ok' AS bulk_by_reference, 'ok' AS dv_intact, 5 AS version
         |FROM fp""".stripMargin,
    "q_incr_mv" ->
      s"""WITH v2 AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 3
         |         THEN o_totalprice + 100 ELSE o_totalprice END AS p
         |  FROM orders
         |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 13 = 0
         |             AND o_orderkey % 7 <> 3)
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
         |  FROM orders
         |  WHERE o_orderstatus = 'F' AND o_orderkey % 101 = 0)
         |SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(floor(p * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
         |  'ok' AS matches_full, 'ok' AS pruned
         |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
