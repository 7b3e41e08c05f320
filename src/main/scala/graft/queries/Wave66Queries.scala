package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned

/** Round-12 wave 67 — closing the two items the r11 verdict flagged:
  * the SQL-DDL tier's missing driver-side verification, and the last
  * four TPC-H queries.
  *
  *  - `q_sql_ddl`: the pure-SQL lifecycle `CREATE TABLE → INSERT INTO
  *    … SELECT → ALTER TABLE ADD COLUMN → INSERT → RENAME COLUMN →
  *    DROP COLUMN → SELECT`, with receipts pinning every ALTER as a
  *    METADATA-ONLY commit (the file set is byte-identical across
  *    each), the commit-log operation sequence, and time travel to
  *    the pre-rename schema. The logical answer (per-status count +
  *    exact sum over both inserted slices, read through the RENAMED
  *    column) is oracle-computed from the orders parquet.
  *
  *  - `q_sql_describe`: `CALL lake.describe(path)` — the Delta
  *    `DESCRIBE DETAIL` analog — after a life of CREATE (identity
  *    partition + stats/bloom registration via TBLPROPERTIES),
  *    INSERT, merge-on-read DELETE, and a column-mapping RENAME:
  *    one row carrying schema version, live-file/DV counts, the
  *    partition transform, registered skipping columns, and the
  *    column-mapping flag. The DV row count is data-derived (the
  *    oracle recomputes it from orders); volatile physical counts
  *    fold as receipts.
  *
  *  - `q_tpch_q2` / `q_tpch_q9` / `q_tpch_q11` / `q_tpch_q20`: the
  *    four suite members round 8 ruled out for lack of a `partsupp`
  *    table, restored via the repo's established proxy convention
  *    (SURVEY §7.5; cf. the Q4/Q21 lateness proxy): `partsupp` is
  *    DERIVED as the distinct (l_partkey, l_suppkey) pairs actually
  *    traded, with supplycost/availqty defined by pure integer
  *    arithmetic on the keys — bit-identical in Spark and DuckDB, so
  *    the oracle is exact, and the join SHAPES (correlated min
  *    subquery, 6-table profit rollup, group-HAVING vs scalar
  *    subquery, nested semi-join over a filtered aggregate) are the
  *    genuine TPC-H ones. This completes all 22 suite shapes as
  *    registry rows.
  *
  * 100 TB notes: the partsupp derivation is ONE distinct-shuffle of
  * two key columns (map-side combined); Q2/Q11/Q20 then touch only
  * that reduced pair set. Dimension sides (nation, region, supplier,
  * filtered part) broadcast; the fact table shuffles once per join
  * spine exactly as the suite intends. DDL/describe queries are
  * driver-metadata operations on scratch tables — O(file count)
  * manifest work, zero data rewrites, by construction.
  */
object Wave66Queries extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Derived partsupp: the distinct traded (part, supplier) pairs with
    * key-arithmetic supplycost (one decimal digit, exact in double)
    * and availqty — both engines compute identical values. */
  private def partsupp(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_supplycost",
        ((col("ps_partkey") * 7 + col("ps_suppkey") * 11) % 1000)
          .cast("double") / 10.0 + 1.0)
      .withColumn("ps_availqty",
        ((col("ps_partkey") * 13 + col("ps_suppkey") * 17) % 9999 + 1)
          .cast("int"))

  /** The DuckDB-side twin of [[partsupp]]. */
  private val PARTSUPP: String =
    """partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey*7 + ps_suppkey*11) % 1000 AS DOUBLE)/10.0 + 1.0
      |      AS ps_supplycost,
      |    CAST((ps_partkey*13 + ps_suppkey*17) % 9999 + 1 AS INTEGER)
      |      AS ps_availqty
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
      |          l_suppkey AS ps_suppkey FROM lineitem))""".stripMargin

  // ------------------------------------------------------------------
  // SQL DDL lifecycle
  // ------------------------------------------------------------------

  def qSqlDdl(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqlddl") { scratch =>
      val dir = scratch + "/t"
      t(s, d, "orders").createOrReplaceTempView("graft_w66_ddl_src")
      s.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, st STRING, p DOUBLE)")
      s.sql(s"INSERT INTO lake.`$dir` SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice FROM graft_w66_ddl_src WHERE o_orderkey % 4 = 1")
      val files2 = Versioned.files(s, dir).toSet
      s.sql(s"ALTER TABLE lake.`$dir` ADD COLUMN note STRING")
      val addMeta = Versioned.files(s, dir).toSet == files2
      s.sql(s"INSERT INTO lake.`$dir` SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice, concat('n', CAST(o_orderkey % 10 AS STRING)) " +
        "FROM graft_w66_ddl_src WHERE o_orderkey % 4 = 2")
      val files4 = Versioned.files(s, dir).toSet
      s.sql(s"ALTER TABLE lake.`$dir` RENAME COLUMN st TO status")
      val renMeta = Versioned.files(s, dir).toSet == files4
      s.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN note")
      val dropMeta = Versioned.files(s, dir).toSet == files4
      // v2 (the first APPEND) still reads the PRE-rename, pre-add schema
      val ttCols = s.sql(s"SELECT * FROM lake.`$dir` VERSION AS OF 2")
        .columns.toSeq
      val ops = Versioned.history(s, dir).map(_.operation)
      val expectedOps = Seq("CREATE", "APPEND", "ADD_COLUMN(note)",
        "APPEND", "RENAME_COLUMN(st->status)", "DROP_COLUMN(note)")
      import s.implicits._
      // materialize BEFORE the block exits: the returned frame must not
      // lazily re-read the scratch table it deletes
      val agg = s.sql(s"SELECT status, count(*) AS n_rows, " +
          s"${Q.DSUM_SPARK("p")} AS sum_price " +
          s"FROM lake.`$dir` GROUP BY status ORDER BY status")
        .collect().toSeq
      agg.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          Q.receipt(addMeta, s"addDelta=${
            Versioned.files(s, dir).toSet.diff(files2).take(3)}"),
          Q.receipt(renMeta && dropMeta, s"files=${files4.size}"),
          Q.receipt(ttCols == Seq("k", "st", "p"), s"ttCols=$ttCols"),
          Q.receipt(ops == expectedOps, s"history=${ops.mkString(",")}")))
        .toDF("status", "n_rows", "sum_price", "add_meta_only",
          "alter_meta_only", "tt_ok", "ops_ok")
        .orderBy("status")
    }
  }

  def qSqlDescribe(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_sqldesc") { scratch =>
      val dir = scratch + "/t"
      t(s, d, "orders").createOrReplaceTempView("graft_w66_desc_src")
      s.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, st STRING, p DOUBLE) " +
        "PARTITIONED BY (st) " +
        "TBLPROPERTIES('stats_cols'='p', 'bloom_cols'='k')")
      s.sql(s"INSERT INTO lake.`$dir` SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice FROM graft_w66_desc_src WHERE o_orderkey % 3 = 0")
      s.sql(s"DELETE FROM lake.`$dir` WHERE k % 30 = 0")
      s.sql(s"ALTER TABLE lake.`$dir` RENAME COLUMN p TO price")
      val r = s.sql(s"CALL lake.describe('$dir')").head()
      // Delta-habituated sugar: `DESCRIBE DETAIL lake.`<p>`` (a parser
      // rewrite onto the same procedure) returns the IDENTICAL row
      val sugar = s.sql(s"DESCRIBE DETAIL lake.`$dir`").head()
      import s.implicits._
      Seq((r.getLong(0),
          Q.receipt(r.getLong(1) > 0L, s"n_files=${r.getLong(1)}"),
          r.getLong(2), r.getString(3), r.getInt(4), r.getString(5),
          r.getString(6), r.getLong(7), r.getBoolean(8), r.getLong(9),
          r.getLong(10),
          Q.receipt(sugar == r, s"DESCRIBE DETAIL row $sugar != $r")))
        .toDF("version", "files_gt0", "n_dv_rows", "partition_transform",
          "n_columns", "stats_cols", "bloom_cols", "n_commits",
          "column_mapped", "n_foreign_files", "n_segments",
          "describe_detail_sugar")
    }
  }

  // ------------------------------------------------------------------
  // TPC-H Q2 / Q9 / Q11 / Q20 over the derived partsupp
  // ------------------------------------------------------------------

  def qTpchQ2(s: SparkSession, d: String): DataFrame = {
    val es = t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val eps = partsupp(s, d)
      .join(broadcast(es), col("ps_suppkey") === col("s_suppkey"))
    val mc = eps.groupBy(col("ps_partkey").as("m_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    broadcast(t(s, d, "part")
        .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
        .select(col("p_partkey"), col("p_brand")))
      .join(eps, col("p_partkey") === col("ps_partkey"))
      .join(mc, col("p_partkey") === col("m_partkey") &&
        col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        col("ps_supplycost").as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  def qTpchQ9(s: SparkSession, d: String): DataFrame = {
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("ps_supplycost") * col("l_quantity")
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(partsupp(s, d),
        col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
      .join(broadcast(t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(Q.dsum(profit).as("sum_profit"), count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  def qTpchQ11(s: SparkSession, d: String): DataFrame = {
    val n7 = t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val np = partsupp(s, d)
      .join(broadcast(n7), col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost") * col("ps_availqty"))
          .cast(DecimalType(30, 8)).as("val"))
    val tot = np.agg(sum(col("val")).as("tot"))
    // HAVING sum > total·0.0005, compared as 2000·sum > total: both
    // sides exact decimals, so the boundary can never flip engines
    np.groupBy(col("ps_partkey"))
      .agg(sum(col("val")).as("v"))
      .crossJoin(broadcast(tot))
      .filter(col("v") * lit(2000) > col("tot"))
      .select(col("ps_partkey"),
        col("v").cast("string").cast("double").as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  def qTpchQ20(s: SparkSession, d: String): DataFrame = {
    val al = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg((sum(col("l_quantity")) * 0.5).as("half_qty"))
    val q = partsupp(s, d)
      .join(broadcast(t(s, d, "part").filter(col("p_name").like("small%"))
          .select(col("p_partkey"))),
        col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(al, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey") &&
        col("ps_availqty") > col("half_qty"))
      .select(col("ps_suppkey")).distinct()
    t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(q, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_ddl"      -> qSqlDdl,
    "q_sql_describe" -> qSqlDescribe,
    "q_tpch_q2"      -> qTpchQ2,
    "q_tpch_q9"      -> qTpchQ9,
    "q_tpch_q11"     -> qTpchQ11,
    "q_tpch_q20"     -> qTpchQ20)

  val oracles: Map[String, String] = Map(
    "q_sql_ddl" ->
      s"""SELECT o_orderstatus AS status, count(*) AS n_rows,
         |  ${Q.DSUM("o_totalprice")} AS sum_price,
         |  'ok' AS add_meta_only, 'ok' AS alter_meta_only,
         |  'ok' AS tt_ok, 'ok' AS ops_ok
         |FROM orders WHERE o_orderkey % 4 IN (1, 2)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_describe" ->
      s"""SELECT CAST(4 AS BIGINT) AS version, 'ok' AS files_gt0,
         |  (SELECT count(*) FROM orders WHERE o_orderkey % 30 = 0)
         |    AS n_dv_rows,
         |  'st' AS partition_transform, CAST(3 AS INTEGER) AS n_columns,
         |  'p' AS stats_cols, 'k' AS bloom_cols, CAST(4 AS BIGINT)
         |    AS n_commits, true AS column_mapped,
         |  CAST(0 AS BIGINT) AS n_foreign_files,
         |  CAST(0 AS BIGINT) AS n_segments,
         |  'ok' AS describe_detail_sugar""".stripMargin,
    "q_tpch_q2" ->
      s"""WITH $PARTSUPP,
         |es AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |eps AS (SELECT ps.*, es.s_name, es.s_acctbal, es.n_name
         |  FROM partsupp ps JOIN es ON ps_suppkey = s_suppkey),
         |mc AS (SELECT ps_partkey AS m_partkey,
         |    min(ps_supplycost) AS min_cost
         |  FROM eps GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         |  ps_supplycost AS supplycost
         |FROM part
         |JOIN eps ON p_partkey = ps_partkey
         |JOIN mc ON p_partkey = m_partkey AND ps_supplycost = min_cost
         |WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,
    "q_tpch_q9" ->
      s"""WITH $PARTSUPP
         |SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  ${Q.DSUM("l_extendedprice * (1 - l_discount) - " +
              "ps_supplycost * l_quantity")} AS sum_profit,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
         |JOIN partsupp ON ps_partkey = l_partkey
         |  AND ps_suppkey = l_suppkey
         |JOIN supplier ON s_suppkey = l_suppkey
         |JOIN nation ON n_nationkey = s_nationkey
         |JOIN orders ON o_orderkey = l_orderkey
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q_tpch_q11" ->
      s"""WITH $PARTSUPP,
         |np AS (SELECT ps_partkey,
         |    CAST(ps_supplycost * ps_availqty AS DECIMAL(30,8)) AS val
         |  FROM partsupp
         |  JOIN supplier ON ps_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_7')
         |SELECT ps_partkey, CAST(CAST(sum(val) AS VARCHAR) AS DOUBLE)
         |    AS value
         |FROM np GROUP BY 1
         |HAVING 2000 * sum(val) > (SELECT sum(val) FROM np)
         |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q_tpch_q20" ->
      s"""WITH $PARTSUPP,
         |al AS (SELECT l_partkey, l_suppkey,
         |    sum(l_quantity) * 0.5 AS half_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  GROUP BY 1, 2),
         |q AS (SELECT DISTINCT ps_suppkey FROM partsupp
         |  JOIN al ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |    AND ps_availqty > half_qty
         |  WHERE ps_partkey IN
         |    (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))
         |SELECT s_suppkey, s_name, s_acctbal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |  AND s_suppkey IN (SELECT ps_suppkey FROM q)
         |ORDER BY s_suppkey""".stripMargin)
}
