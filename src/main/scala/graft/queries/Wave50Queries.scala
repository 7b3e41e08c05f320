package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 50 — generated columns:
  *
  *  - `q_generated_columns`: [[Versioned.addGeneratedColumn]] — the
  *    partition key is `GENERATED ALWAYS AS (c div 100)`. The merge
  *    batch OMITS the column entirely: the engine computes it
  *    in-plan, routes the batch to its true partitions (the receipt
  *    pins untouched-partition files carried by reference — the
  *    generated key kept the merge partition-scoped), and a second
  *    batch that SUPPLIES a wrong value is rejected before any
  *    version moves. This is Delta's generated-column contract, and
  *    at 100 TB it is what makes partition economics safe to rely
  *    on: no writer among hundreds can mis-derive the layout key.
  */
object Wave50Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qGeneratedColumns(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s, LakeFixtures.ordersGenPart(s, d),
      "graft_gc") { dir =>
      val base = LakeFixtures.ordersBase(s, d)
        .select(col("k"), col("c"), col("p"))
      val v1Files = Versioned.files(s, dir, Some(1L))
      // the batch OMITS bkt; customers 20..29 = generated bucket 0
      val batch = base.filter(col("c").between(20L, 29L))
        .withColumn("p", col("p") + lit(50.0))
      Versioned.merge(batch, dir, Seq("k"))
      val v2Files = Versioned.files(s, dir, Some(2L)).toSet
      val untouched = v1Files.filterNot(_.contains("/bkt=0/"))
      val carried = untouched.nonEmpty && untouched.forall(v2Files.contains)
      // a supplied-but-wrong generated value is vetoed pre-staging
      val vBefore = Versioned.currentVersion(s, dir).get
      val badRejected = Q.receipt(
        try {
          Versioned.merge(batch.withColumn("bkt", lit(999L)),
            dir, Seq("k"))
          false
        } catch { case _: Versioned.ConstraintViolation => true },
        "wrong supplied generated value was accepted")
      val vAfter = Versioned.currentVersion(s, dir).get
      val unchanged = Q.receipt(vAfter == vBefore,
        s"version moved $vBefore->$vAfter on a rejected batch")
      val r = Versioned.read(s, dir)
        .withColumn("fp", fpCol(col("k"), col("c"), col("bkt"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(carried,
            s"untouched=${untouched.length} not all carried into v2"),
          badRejected, unchanged))
        .toDF("n_rows", "sum_price", "xor_fp", "untouched_carried",
          "bad_rejected", "version_unchanged")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_generated_columns" -> qGeneratedColumns)

  val oracles: Map[String, String] = Map(
    "q_generated_columns" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    CASE WHEN o_custkey BETWEEN 20 AND 29
         |         THEN o_totalprice + 50 ELSE o_totalprice END AS p,
         |    o_custkey // 100 AS bkt
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || CAST(bkt AS VARCHAR) ||
         |      '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS untouched_carried, 'ok' AS bad_rejected,
         |  'ok' AS version_unchanged
         |FROM fp""".stripMargin)
}
