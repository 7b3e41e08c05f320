package graft

import org.apache.spark.sql.functions._
import graft.io.Tables

/** Source/sink format breadth: JSON, ORC, CSV roundtrips preserve rows
  * and (where the format allows) schema; declared-schema CSV read skips
  * inference. */
class IoSpec extends SparkSuite {

  private val d = sf("sf0.001")
  private def fresh(p: String) = s"${tmp("io")}/$p"

  test("JSON roundtrip preserves rows (schema re-declared on read)") {
    val out = fresh("orders_json")
    val orders = Tables.load(spark, d, "orders")
      .withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
    orders.write.mode("overwrite").json(out)
    val back = spark.read.schema(orders.schema).json(out)
    assert(back.count() == orders.count())
    assert(back.exceptAll(orders).count() == 0)
  }

  test("ORC roundtrip preserves rows and schema") {
    val out = fresh("lineitem_orc")
    val li = Tables.load(spark, d, "lineitem")
    li.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == li.schema)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0)
  }

  test("XML roundtrip preserves rows (Spark 4 built-in source)") {
    val out = fresh("region_xml")
    val region = Tables.load(spark, d, "region")
    region.write.mode("overwrite")
      .option("rootTag", "regions").option("rowTag", "region").xml(out)
    val back = spark.read.schema(region.schema)
      .option("rowTag", "region").xml(out)
    assert(back.count() == region.count())
    assert(back.exceptAll(region).count() == 0)
  }

  test("declared-schema CSV read matches inferred read") {
    val out = fresh("customer_csv")
    val c = Tables.load(spark, d, "customer")
    graft.io.Csv.write(c, out)
    val declared = graft.io.Csv.read(spark, out, Tables.customer)
    val inferred = graft.io.Csv.readInferred(spark, out)
    assert(declared.count() == c.count())
    assert(declared.exceptAll(c).count() == 0)
    assert(inferred.count() == c.count())
  }
}
