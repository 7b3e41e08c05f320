package graft

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.Maintenance

class MaintenanceSpec extends SparkSuite {

  private val d = sf("sf0.001")

  test("partition upsert rewrites only incoming partitions") {
    val path = tmp("upsert") + "/li"
    val li = Tables.load(spark, d, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    li.write.partitionBy("ship_year").parquet(path)
    val before = spark.read.parquet(path)
    val n1996 = before.filter(col("ship_year") === 1996).count()
    val n1997 = before.filter(col("ship_year") === 1997).count()

    // incoming batch: 1996 only, quantities doubled
    val batch = li.filter(col("ship_year") === 1996)
      .withColumn("l_quantity", col("l_quantity") * 2)
    Maintenance.upsertPartitions(batch, path, Seq("ship_year"))

    val after = spark.read.parquet(path)
    assert(after.filter(col("ship_year") === 1996).count() == n1996)
    assert(after.filter(col("ship_year") === 1997).count() == n1997) // untouched
    // 1996 values actually replaced
    val q96 = after.filter(col("ship_year") === 1996)
      .agg(sum(col("l_quantity"))).first().getDouble(0)
    val q96orig = li.filter(col("ship_year") === 1996)
      .agg(sum(col("l_quantity"))).first().getDouble(0)
    assert(q96 == 2 * q96orig)
  }

  test("compaction reduces file count and preserves data") {
    val path = tmp("compact") + "/many"
    val li = Tables.load(spark, d, "lineitem")
    li.repartition(20).write.parquet(path)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(path) == 20)
    // decimal-exact checksum: a plain double sum is order-dependent and
    // the repartition changes accumulation order (the exact trap Q.dsum
    // exists for)
    def checksum(p: String) = spark.read.parquet(p)
      .agg(graft.queries.Q.dsum(col("l_extendedprice"))).first().getDouble(0)
    val before = checksum(path)
    val n = Maintenance.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    assert(parts(path) == n && n < 20)
    val after = checksum(path)
    assert(before == after)
    assert(spark.read.parquet(path).count() == li.count())
  }
}
