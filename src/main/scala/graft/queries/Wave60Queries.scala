package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 wave 60 — Iceberg-style METADATA TABLES through the SQL
  * catalog:
  *
  *  - `q_meta_tables`: `SELECT … FROM lake.`<path>$files`` scans the
  *    version's parquet MANIFEST itself (metadata as data: one task
  *    per manifest part, nothing materialized on the driver — listing
  *    a million-file table parallelizes like any other scan), and
  *    `…$history` reads the commit log's operation labels. The
  *    receipt replays the file-count arithmetic in SQL (the fixture
  *    is one file per `c DIV 100` bucket) and pins that every
  *    manifest entry carries its stats sidecar.
  *
  * 100 TB story: operational questions — how many files, how big is
  * the stats coverage, what did each commit do — are answered from
  * metadata at manifest-scan cost, in SQL, without touching a data
  * byte (the Iceberg metadata-tables economics).
  */
object Wave60Queries extends QueryModule {

  def qMetaTables(s: SparkSession, d: String): DataFrame = {
    val dir = LakeFixtures.ordersBuckets(s, d) // read-only shared base
    val files = s.sql(
      s"""SELECT count(*) AS n_files,
         |  count(stats_json) AS n_stats
         |FROM lake.`$dir$$files`""".stripMargin).head()
    val hist = s.sql(
      s"""SELECT count(*) AS n_commits,
         |  min(operation) AS first_op, sum(files) AS files_sum
         |FROM lake.`$dir$$history`""".stripMargin).head()
    import s.implicits._
    Seq((files.getLong(0), files.getLong(1), hist.getLong(0),
        hist.getString(1), hist.getLong(2)))
      .toDF("n_files", "n_stats", "n_commits", "first_op", "files_sum")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_meta_tables" -> qMetaTables)

  val oracles: Map[String, String] = Map(
    "q_meta_tables" ->
      """WITH bk AS (SELECT DISTINCT o_custkey // 100 AS bkt FROM orders)
        |SELECT (SELECT count(*) FROM bk) AS n_files,
        |  (SELECT count(*) FROM bk) AS n_stats,
        |  1 AS n_commits, 'INIT' AS first_op,
        |  (SELECT count(*) FROM bk) AS files_sum""".stripMargin)
}
