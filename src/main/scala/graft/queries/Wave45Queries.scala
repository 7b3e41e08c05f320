package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 45 — hidden partitioning:
  *
  *  - `q_hidden_partitioning`: [[Versioned.init]] with the `c div
  *    100` expression, then plain [[Versioned.merge]] and
  *    [[Versioned.readHidden]] — the partition layout is a TABLE
  *    PROPERTY, not a per-call argument: the merge derives each source
  *    row's bucket in-plan and scopes the rewrite to the touched
  *    buckets (the receipt pins untouched-bucket files carried by
  *    reference and the touched bucket fully rewritten), and reads
  *    never surface the derived column. This is the Iceberg correction to
  *    Hive-style partitioning: writers can't mis-partition and
  *    readers can't depend on the layout, so the layout can EVOLVE
  *    without breaking either.
  *
  * 100 TB story: hidden transforms are what make partition-scoped
  * economics SAFE at organizational scale — a hundred writers all
  * derive the same layout from one registered expression.
  */
object Wave45Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qHiddenPartitioning(s: SparkSession, d: String): DataFrame = {
    // zero-copy clone of the shared hidden-layout base (clone carries
    // the transform property with it)
    LakeFixtures.withClone(s,
      LakeFixtures.ordersHidden(s, d), "graft_hp") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      val v1Files = Versioned.files(s, dir, Some(1L))
      // the batch touches only customers 20..29 = hidden bucket 0;
      // the caller never names the layout
      val batch = base.filter(col("c").between(20L, 29L))
        .withColumn("p", col("p") + lit(50.0))
      Versioned.merge(batch, dir, Seq("k"))
      val v2Files = Versioned.files(s, dir, Some(2L)).toSet
      val untouched = v1Files.filterNot(_.contains("/__gpart=0/"))
      val carried = untouched.nonEmpty && untouched.forall(v2Files.contains)
      val rewritten = v1Files.filter(_.contains("/__gpart=0/"))
        .forall(!v2Files.contains(_))
      val cur = Versioned.readHidden(s, dir)
      val colsHidden = cur.columns.toSeq == Seq("k", "c", "p")
      val r = cur
        .withColumn("fp", fpCol(col("k"), col("c"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
          expr("bit_xor(fp)").as("xor_fp")).head()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(carried,
            s"untouched=${untouched.length} not all carried into v2"),
          Q.receipt(rewritten, "touched-bucket v1 files survived into v2"),
          Q.receipt(colsHidden, s"columns=${cur.columns.mkString(",")}"),
          2))
        .toDF("n_rows", "sum_price", "xor_fp", "untouched_carried",
          "touched_rewritten", "layout_hidden", "version")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hidden_partitioning" -> qHiddenPartitioning)

  val oracles: Map[String, String] = Map(
    "q_hidden_partitioning" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    CASE WHEN o_custkey BETWEEN 20 AND 29
         |         THEN o_totalprice + 50 ELSE o_totalprice END AS p
         |  FROM orders),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS untouched_carried, 'ok' AS touched_rewritten,
         |  'ok' AS layout_hidden, 2 AS version
         |FROM fp""".stripMargin)
}
