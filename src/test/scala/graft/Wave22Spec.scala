package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Skipping
import graft.queries.{Q, Wave22Queries}

/** Wave-22: file-statistics data skipping. */
class Wave22Spec extends SparkSuite {

  private val d = sf("sf0.001")

  private def cluster(dir: String): Unit = {
    val li = Tables.load(spark, d, "lineitem")
      .withColumn("bucket",
        concat(year(col("l_shipdate")).cast("string"), lit("q"),
          quarter(col("l_shipdate")).cast("string")))
    Skipping.writeWithStats(li, dir, "bucket", "l_shipdate")
  }

  test("skipping never drops a qualifying row (equals the direct filter) " +
      "and really skips files") {
    val dir = tmp("skipspec")
    try {
      cluster(dir)
      val (pruned, total, read) =
        Skipping.readRange(spark, dir, "bucket", "l_shipdate",
          "1995-02-01", "1995-04-15")
      assert(read < total, s"no files skipped: $read of $total")
      val got = pruned.agg(count(lit(1)), Q.dsum(Q.revenue)).head()
      val want = Tables.load(spark, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-02-01") &&
          col("l_shipdate") <= lit("1995-04-15"))
        .agg(count(lit(1)), Q.dsum(Q.revenue)).head()
      assert(got.getLong(0) === want.getLong(0))
      assert(got.getDouble(1) === want.getDouble(1))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("a probe inside one quarter opens exactly one file") {
    val dir = tmp("skipspec1")
    try {
      cluster(dir)
      val (_, total, read) =
        Skipping.readRange(spark, dir, "bucket", "l_shipdate",
          "1995-02-01", "1995-03-01")
      assert(read === 1L, s"expected 1 file, read $read of $total")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("registry row: the skip decision matches the data") {
    val r = Wave22Queries.qDataSkipping(spark, d).head()
    assert(r.getLong(0) > r.getLong(1) && r.getLong(1) >= 1L)
    assert(r.getLong(2) > 0L)
  }
}
