package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned

/** Round-8 wave 22 — file-statistics data skipping:
  *
  *  - `q_data_skipping`: the Delta/Iceberg data-skipping mechanic on
  *    the shipdate-clustered lineitem layout — a lake table with one
  *    file per shipdate quarter and `l_shipdate` registered for
  *    per-file [min, max] stats, a [[Versioned.readRange]] probe that
  *    opens only overlapping files, and the skip DECISION itself
  *    oracle-replayed (the oracle recomputes each file's stats and
  *    the overlap test, not just the row answer).
  */
object Wave22Queries extends QueryModule {

  private val probeFrom = "1995-02-01"
  private val probeTo = "1995-04-15"

  /** Midnight UTC of an ISO date in epoch microseconds — the unit the
    * lake's stats keep for a timestamp column. */
  private[graft] def micros(date: String): Double =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond * 1e6

  /** Lineitem as a lake table with one file per shipdate quarter
    * (deterministic layout — the skip decision must be replayable) and
    * `l_shipdate` registered for stats. The layout is READ-ONLY after
    * the build, so it is memoized for the JVM's life (the r14 sf1
    * sweep measured the per-run full-lineitem rewrite as this row's
    * whole cost; the probe itself reads 2 files). */
  private[graft] def quarterLake(s: SparkSession, d: String): String =
    LakeFixtures.memoDir(s"skip|$d", "graft_skip") { dir =>
      val li = Tables.load(s, d, "lineitem")
        .withColumn("bucket",
          concat(year(col("l_shipdate")).cast("string"), lit("q"),
            quarter(col("l_shipdate")).cast("string")))
      Versioned.init(li.repartition(col("bucket")), dir,
        partitionCol = Some("bucket"), statsCols = Seq("l_shipdate"))
    }

  /** Stats probe over [[quarterLake]]: ~10 weeks spanning two
    * quarters, reporting files total/read plus the row answer. At
    * 100 TB this is the difference between opening every file in a
    * surviving partition and opening the 2 of 28 whose intervals
    * overlap — stats skipping composes UNDER partition pruning and
    * works for any clustered column the layout never partitioned by. */
  def qDataSkipping(s: SparkSession, d: String): DataFrame = {
    val dir = quarterLake(s, d)
    val pr = Versioned.readRange(s, dir, "l_shipdate",
      micros(probeFrom), micros(probeTo))
    val r = pr.df
      .filter(col("l_shipdate") >= lit(probeFrom) &&
        col("l_shipdate") <= lit(probeTo))
      .agg(count(lit(1)).as("n_rows"),
        round(Q.dsum(Q.revenue), 2).as("revenue")).head()
    import s.implicits._
    Seq((pr.filesTotal.toLong, pr.filesRead.toLong, r.getLong(0),
        r.getDouble(1)))
      .toDF("n_files_total", "n_files_read", "n_rows", "revenue")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_data_skipping" -> qDataSkipping)

  val oracles: Map[String, String] = Map(
    "q_data_skipping" ->
      s"""WITH b AS (
         |  SELECT *, CAST(year(l_shipdate) AS VARCHAR) || 'q' ||
         |    CAST(quarter(l_shipdate) AS VARCHAR) AS bucket
         |  FROM lineitem),
         |st AS (SELECT bucket,
         |    CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS lo,
         |    CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS hi
         |  FROM b GROUP BY bucket),
         |keep AS (SELECT bucket FROM st
         |  WHERE lo <= '$probeTo' AND hi >= '$probeFrom'),
         |probe AS (SELECT * FROM b
         |  WHERE bucket IN (SELECT bucket FROM keep)
         |    AND l_shipdate >= TIMESTAMP '$probeFrom 00:00:00'
         |    AND l_shipdate <= TIMESTAMP '$probeTo 00:00:00')
         |SELECT (SELECT count(*) FROM st) AS n_files_total,
         |  (SELECT count(*) FROM keep) AS n_files_read,
         |  count(*) AS n_rows,
         |  round(${Q.DSUM(Q.REVENUE)}, 2) AS revenue
         |FROM probe""".stripMargin)
}
