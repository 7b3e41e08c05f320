package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 51 — expectations (DLT `expect_or_drop` + quarantine):
  *
  *  - `q_expectations`: [[Versioned.mergeExpect]] — a batch with
  *    poisoned rows lands ANYWAY: the clean remainder commits to the
  *    main table, the violations are upserted into a quarantine lake
  *    with the failing constraint's name, and the receipt reconciles
  *    the three-way split exactly (clean + quarantined = batch). The
  *    contrast with `q_check_constraint` is deliberate: same
  *    constraint, veto vs divert — the two failure policies a
  *    production load needs.
  */
object Wave51Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qExpectations(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_exp") { work =>
      val (dir, qdir) = (s"$work/t", s"$work/q")
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), dir)
      val base = LakeFixtures.ordersBase(s, d)
      Versioned.addConstraint(s, dir, "p_nonneg", "p >= 0")
      val batch = base.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
        .withColumn("p", when(col("k") % 25 === 0, -col("p"))
          .otherwise(col("p")))
      val stats = Versioned.mergeExpect(batch, dir, Seq("k"),
        quarantine = Some(qdir))
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      val q = Versioned.read(s, qdir)
      val qRow = q.agg(count(lit(1)).as("n"),
        count(when(col("violated") === "p_nonneg", 1)).as("named")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          stats.merged, stats.diverted, qRow.getLong(0),
          Q.receipt(qRow.getLong(0) == qRow.getLong(1),
            s"quarantined=${qRow.getLong(0)} named=${qRow.getLong(1)}")))
        .toDF("n_rows", "sum_price", "xor_fp", "merged", "diverted",
          "q_rows", "q_named")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_expectations" -> qExpectations)

  val oracles: Map[String, String] = Map(
    "q_expectations" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |ins AS (SELECT o_orderkey AS k, o_orderstatus AS st,
         |    o_totalprice AS p
         |  FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
         |    AND o_orderkey % 25 <> 0),
         |badn AS (SELECT count(*) AS n FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
         |    AND o_orderkey % 25 = 0),
         |m AS (SELECT k, st, p FROM b
         |  UNION ALL SELECT k, st, p FROM ins),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  (SELECT count(*) FROM ins) AS merged,
         |  (SELECT n FROM badn) AS diverted,
         |  (SELECT n FROM badn) AS q_rows, 'ok' AS q_named
         |FROM fp""".stripMargin)
}
