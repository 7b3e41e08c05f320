package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.queries.{Q, Wave22Queries}
import graft.queries.Wave22Queries.micros

/** Wave-22: file-statistics data skipping on the lake's per-file
  * stats. */
class Wave22Spec extends SparkSuite {

  private val d = sf("sf0.001")

  /** The registry row's quarter-clustered lake (read-only). */
  private lazy val dir = Wave22Queries.quarterLake(spark, d)

  test("skipping never drops a qualifying row (equals the direct filter) " +
      "and really skips files") {
    val pr = Versioned.readRange(spark, dir, "l_shipdate",
      micros("1995-02-01"), micros("1995-04-15"))
    assert(pr.filesRead < pr.filesTotal,
      s"no files skipped: ${pr.filesRead} of ${pr.filesTotal}")
    def probe(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_shipdate") >= lit("1995-02-01") &&
          col("l_shipdate") <= lit("1995-04-15"))
        .agg(count(lit(1)), Q.dsum(Q.revenue)).head()
    val got = probe(pr.df)
    val want = probe(Tables.load(spark, d, "lineitem"))
    assert(got.getLong(0) > 0L)
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getDouble(1) === want.getDouble(1))
  }

  test("a probe inside one quarter opens exactly one file") {
    val pr = Versioned.readRange(spark, dir, "l_shipdate",
      micros("1995-02-01"), micros("1995-03-01"))
    assert(pr.filesRead === 1,
      s"expected 1 file, read ${pr.filesRead} of ${pr.filesTotal}")
  }

  test("registry row: the skip decision matches the data") {
    val r = Wave22Queries.qDataSkipping(spark, d).head()
    assert(r.getLong(0) > r.getLong(1) && r.getLong(1) >= 1L)
    assert(r.getLong(2) > 0L)
  }
}
