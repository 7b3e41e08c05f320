package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 46 — the two remaining OPTIMIZE-era lake statements:
  *
  *  - `q_merge_into`: [[Versioned.mergeInto]] — full multi-clause SQL
  *    MERGE (WHEN MATCHED AND … DELETE / WHEN MATCHED AND … UPDATE SET
  *    with expressions over BOTH sides / WHEN NOT MATCHED INSERT), not
  *    the whole-row upsert. The update clause is additive
  *    (`p = t.p + s.p`), exercising cross-side expression resolution;
  *    receipts carry the per-clause row counts the statement reports.
  *    The oracle replays the clause algebra in SQL over the base table.
  *
  *  - `q_zorder_lake`: [[Versioned.compact]] with `zOrderBy` — Morton
  *    interleaved two-dimension clustering. The receipt contrasts the
  *    layouts where it matters: after a LINEAR `clusterBy(k, c)` a
  *    probe on the trailing dimension `c` still reads every file
  *    (each file spans c's full range), after the Z-ORDER rewrite the
  *    SAME manifest stats prune BOTH a k-probe and a c-probe, and the
  *    c-probe strictly beats its linear-layout footprint. Content
  *    receipts stay exact (fingerprint over the probe's rows).
  *
  * 100 TB story: MERGE INTO is the nightly-reconciliation statement
  * (CDC upserts with business-rule clauses) — here it costs one
  * key-join clause pass plus [[Versioned.merge]]'s partition-scoped
  * rewrite, never a table rewrite. Z-order is how a single physical
  * layout serves TWO independent probe dimensions at once; the
  * alternative at 100 TB is either a second copy of the table or full
  * scans for the second dimension.
  */
object Wave46Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qMergeInto(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_mi") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("p"))
      Versioned.init(base.repartition(4), dir)
      // one source, three clause populations (key-disjoint by
      // construction — SQL MERGE's cardinality rule):
      //   U: k%7=3        → additive reprice  p := t.p + 50
      //   D: k%13=0 ∧ ¬U  → erase
      //   I: k%101=0 → brand-new key k+1e8, inserted as-is
      val batch =
        base.filter(col("k") % 7 === 3)
          .withColumn("p", lit(50.0)).withColumn("flag", lit("U"))
        .unionByName(base.filter(col("k") % 13 === 0 && col("k") % 7 =!= 3)
          .withColumn("flag", lit("D")))
        .unionByName(base.filter(col("k") % 101 === 0)
          .withColumn("k", col("k") + lit(100000000L))
          .withColumn("flag", lit("I")))
      val stats = Versioned.mergeInto(batch, dir, Seq("k"),
        updateSet = Map("p" -> (col("t.p") + col("s.p"))),
        updateCond = Some(col("s.flag") === "U"),
        deleteCond = Some(col("s.flag") === "D"),
        insertCond = Some(col("s.flag") === "I"))
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          stats.updated, stats.deleted, stats.inserted))
        .toDF("n_rows", "sum_price", "xor_fp", "updated", "deleted",
          "inserted")
    }
  }

  def qZorderLake(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_zl") { dir =>
      // the trailing dimension is a HASH SPREAD of the customer key,
      // not the raw key: scaled corpora (tools/ScaleUp) shift both
      // o_orderkey and o_custkey by replica, so the raw pair is
      // replica-correlated — a c-probe then maps to one k-band and
      // the LINEAR layout prunes it too, vacuously failing the
      // z-beats-linear receipt (r15 sf1 sweep). The Knuth-hash spread
      // decorrelates the dimensions at every scale, which is the
      // two-independent-probe-dimensions scenario z-order exists for.
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          ((col("o_custkey") * lit(2654435761L)) % lit(100000L)).as("c"),
          col("o_totalprice").as("p"))
      Versioned.init(base.repartition(8), dir, statsCols = Seq("k", "c"))
      val (kLo, kHi) = (100d, 600d)
      val (cLo, cHi) = (40000d, 42000d)
      // linear layout first: leading-dimension probes prune, trailing
      // ones read everything
      Versioned.compact(s, dir, targetFiles = 8, clusterBy = Seq("k", "c"))
      val linC = Versioned.readRange(s, dir, "c", cLo, cHi)
      // Z-order rewrite: the SAME stats now prune BOTH dimensions
      Versioned.compact(s, dir, targetFiles = 8, zOrderBy = Seq("k", "c"))
      val zK = Versioned.readRange(s, dir, "k", kLo, kHi)
      val zC = Versioned.readRange(s, dir, "c", cLo, cHi)
      def agg(pr: Versioned.Pruned, cc: String, lo: Double, hi: Double) =
        pr.df.filter(col(cc).between(lo, hi))
          .withColumn("fp", fpCol(col("k"), col("c"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
          .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
            expr("bit_xor(fp)").as("xf")).head()
      val rk = agg(zK, "k", kLo, kHi)
      val rc = agg(zC, "c", cLo, cHi)
      import s.implicits._
      val zBeats = Q.receipt(zC.filesRead < linC.filesRead,
        s"z c-probe read=${zC.filesRead} linear=${linC.filesRead}")
      Seq(
        ("k", rk.getLong(0), rk.getDouble(1), rk.getLong(2),
          Q.receipt(zK.filesRead < zK.filesTotal,
            s"z k-probe read=${zK.filesRead} of ${zK.filesTotal}"),
          zBeats),
        ("c", rc.getLong(0), rc.getDouble(1), rc.getLong(2),
          Q.receipt(zC.filesRead < zC.filesTotal,
            s"z c-probe read=${zC.filesRead} of ${zC.filesTotal}"),
          zBeats))
        .toDF("probe", "n_rows", "sum_price", "xor_fp", "z_prunes",
          "z_beats_linear")
        .orderBy("probe")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_merge_into"  -> qMergeInto,
    "q_zorder_lake" -> qZorderLake)

  val oracles: Map[String, String] = Map(
    "q_merge_into" ->
      s"""WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders),
         |merged AS (
         |  SELECT k, st,
         |    CASE WHEN k % 7 = 3 THEN p + 50.0 ELSE p END AS p
         |  FROM t WHERE NOT (k % 13 = 0 AND k % 7 <> 3)
         |  UNION ALL
         |  SELECT k + 100000000, st, p FROM t WHERE k % 101 = 0),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM merged)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM t WHERE k % 7 = 3) AS updated,
         |  (SELECT count(*) FROM t WHERE k % 13 = 0 AND k % 7 <> 3)
         |    AS deleted,
         |  (SELECT count(*) FROM t WHERE k % 101 = 0) AS inserted
         |FROM fp""".stripMargin,
    "q_zorder_lake" ->
      s"""WITH b AS (SELECT o_orderkey AS k,
         |    (o_custkey * 2654435761) % 100000 AS c,
         |    o_totalprice AS p,
         |    md5_number_upper(CAST(o_orderkey AS VARCHAR) || '#' ||
         |      CAST((o_custkey * 2654435761) % 100000 AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
         |        AS VARCHAR)) >> 4 AS fp
         |  FROM orders)
         |SELECT 'c' AS probe, count(*) AS n_rows,
         |  ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS z_prunes, 'ok' AS z_beats_linear
         |FROM b WHERE c BETWEEN 40000 AND 42000
         |UNION ALL
         |SELECT 'k', count(*), ${Q.DSUM("p")},
         |  CAST(bit_xor(fp) AS BIGINT), 'ok', 'ok'
         |FROM b WHERE k BETWEEN 100 AND 600
         |ORDER BY probe""".stripMargin)
}
