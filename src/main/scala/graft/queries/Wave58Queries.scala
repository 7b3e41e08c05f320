package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 58 — the lake through PURE SQL
  * ([[graft.sources.LakeCatalog]], a TableCatalog plugin):
  *
  *  - `q_sql_time_travel`: `spark.sql("SELECT … FROM
  *    lake.`<path>`")` resolves the table through the catalog (the
  *    Delta `delta.`/path`` convention), and Spark's NATIVE
  *    `VERSION AS OF` syntax lands on the catalog's version-overload
  *    — the same pinned-manifest read as [[Versioned.read]]'s version
  *    argument. The receipt reads the CURRENT version and v1 in one
  *    statement each and pins that the historical answer is
  *    untouched by the later merge.
  *
  * 100 TB story: analysts and BI tools speak SQL, not a Scala API —
  * the catalog plugin gives them the full table protocol (snapshot
  * isolation, time travel, logged schemas) with zero engine-specific
  * client code, while keeping the catalog READ-ONLY so writes cannot
  * bypass constraints, generated columns, or the OCC commit path.
  */
object Wave58Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qSqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    // r17 (guide §6 I/O amortization; r16 VERDICT #5): the clone + MERGE
    // history is byte-identical every run (metadata-commit clone of the
    // immutable ordersEvens16 base, deterministic k%3 merge), so it is
    // staged once per JVM ([[LakeFixtures.memoDir]], the
    // ordersEvensStatusHistory pattern) and both SQL statements consume
    // it READ-ONLY through the catalog — every run still resolves the
    // catalog, pins both manifests, and recomputes both receipts from
    // the parquet inputs.
    val dir = LakeFixtures.memoDir(s"sqltt|$d", "graft_sqltt") { tmp =>
      val t = tmp + "/t"
      Versioned.clone(s, LakeFixtures.ordersEvens16(s, d), t)
      // v2: SQL-visible mutation through the ENGINE's commit path
      Versioned.merge(Versioned.read(s, t, Some(1L))
          .filter(col("k") % 3 === 0)
          .withColumn("p", col("p") + lit(9.0)),
        t, Seq("k"))
    } + "/t"
    def receipt(sql: String) = s.sql(sql)
      .withColumn("fp", fpCol(col("k"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
      .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
        expr("bit_xor(fp)").as("xf")).head()
    val cur = receipt(s"SELECT k, st, p FROM lake.`$dir`")
    val v1 = receipt(s"SELECT k, st, p FROM lake.`$dir` VERSION AS OF 1")
    import s.implicits._
    Seq((cur.getLong(0), cur.getDouble(1), cur.getLong(2),
        v1.getLong(0), v1.getDouble(1), v1.getLong(2),
        Q.receipt(cur.getLong(0) == v1.getLong(0),
          s"current n=${cur.getLong(0)} v1 n=${v1.getLong(0)}")))
      .toDF("n_rows", "sum_price", "xor_fp",
        "v1_rows", "v1_sum_price", "v1_xor_fp", "count_stable")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_time_travel" -> qSqlTimeTravel)

  private val evens =
    """SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS st,
      |    o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 2 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_sql_time_travel" ->
      s"""WITH b AS ($evens),
         |cur AS (SELECT k, st,
         |    CASE WHEN k % 3 = 0 THEN p + 9.0 ELSE p END AS p
         |  FROM b),
         |fc AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM cur),
         |f1 AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT (SELECT count(*) FROM fc) AS n_rows,
         |  (SELECT ${Q.DSUM("p")} FROM fc) AS sum_price,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM fc) AS xor_fp,
         |  (SELECT count(*) FROM f1) AS v1_rows,
         |  (SELECT ${Q.DSUM("p")} FROM f1) AS v1_sum_price,
         |  (SELECT CAST(bit_xor(fp) AS BIGINT) FROM f1) AS v1_xor_fp,
         |  'ok' AS count_stable""".stripMargin)
}
