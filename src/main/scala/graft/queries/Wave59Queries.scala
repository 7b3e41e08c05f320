package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 59 — identity columns (GENERATED BY DEFAULT AS
  * IDENTITY), completing the write-governance triad next to CHECK
  * constraints and generated columns:
  *
  *  - `q_identity_columns`: a merge source OMITS the identity column;
  *    the engine allocates monotone values past the table's
  *    high-water mark for INSERTED keys (ranked by the merge keys, so
  *    the values are deterministic and SQL-replayable) and PRESERVES
  *    the existing value for UPDATED keys. The high-water rides the
  *    commit log as a per-version sidecar — finding "the next id" on
  *    a 100 TB table is a metadata read, never a data scan — and the
  *    receipt pins uniqueness, preservation, and the exact allocated
  *    values against the oracle's rank replay.
  *
  * Identity-bearing merges opt out of the OCC rebase fast path (two
  * racing allocators would both extend the same mark); the commit
  * retry reallocates against the winner — the Delta contract.
  */
object Wave59Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qIdentityColumns(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_idc") { scratch =>
      val dir = scratch + "/t"
      val orders = Tables.load(s, d, "orders")
      // v1: even keys, ids = dense rank by key (bounded init-time
      // window; allocation afterwards never re-sorts the table)
      val v1df = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_totalprice").as("p"))
        .withColumn("id", row_number().over(Window.orderBy("k"))
          .cast("long"))
        .select("id", "k", "st", "p")
      Versioned.init(v1df, dir)
      Versioned.addIdentityColumn(s, dir, "id")
      // one merge, id OMITTED everywhere: updates must PRESERVE their
      // ids, inserts must get hw+1.. in key order
      val v1 = Versioned.read(s, dir, Some(1L))
      val updates = v1.filter(col("k") % 10 === 0)
        .withColumn("p", col("p") + lit(5.0)).drop("id")
      val inserts = orders
        .filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), lit("X").as("st"),
          col("o_totalprice").as("p"))
      Versioned.merge(updates.unionByName(inserts), dir, Seq("k"))
      val cur = Versioned.read(s, dir)
      val r = cur.withColumn("fp", fpCol(col("id"), col("k"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("nid"),
          max(col("id")).as("mx"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      // preservation: every updated key kept its v1 id
      val drift = cur.select(col("k"), col("id"))
        .join(v1.select(col("k"), col("id").as("id1")), Seq("k"))
        .filter(col("id") =!= col("id1")).count()
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(3), r.getLong(4),
          Q.receipt(r.getLong(1) == r.getLong(0),
            s"rows=${r.getLong(0)} distinct ids=${r.getLong(1)}"),
          r.getLong(2),
          Q.receipt(drift == 0L, s"updated keys with drifted id=$drift")))
        .toDF("n_rows", "sum_price", "xor_fp", "ids_unique",
          "max_id", "ids_preserved")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_identity_columns" -> qIdentityColumns)

  val oracles: Map[String, String] = Map(
    "q_identity_columns" ->
      s"""WITH v1 AS (SELECT row_number() OVER (ORDER BY o_orderkey)
         |      AS id, o_orderkey AS k, o_orderstatus AS st,
         |      o_totalprice AS p
         |    FROM orders WHERE o_orderkey % 2 = 0),
         |upd AS (SELECT id, k, st,
         |    CASE WHEN k % 10 = 0 THEN p + 5.0 ELSE p END AS p FROM v1),
         |ins AS (SELECT (SELECT count(*) FROM v1) +
         |      row_number() OVER (ORDER BY o_orderkey) AS id,
         |      o_orderkey AS k, 'X' AS st, o_totalprice AS p
         |    FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0),
         |m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |fp AS (SELECT id, p,
         |    md5_number_upper(CAST(id AS VARCHAR) || '#' ||
         |      CAST(k AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp, 'ok' AS ids_unique,
         |  CAST(max(id) AS BIGINT) AS max_id, 'ok' AS ids_preserved
         |FROM fp""".stripMargin)
}
