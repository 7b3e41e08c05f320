package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.io.Tables
import graft.ops.Scale

/** Physical-layout behaviors that matter at 100 TB: partition pruning,
  * shuffle-free bucketed joins, salted-aggregation equivalence. Asserts
  * on the PLAN (formatted explain), not just results. */
class LayoutSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("partitioned write + year predicate prunes partitions at scan") {
    val dir = tmp("part") + "/lineitem_by_year"
    val li = Tables.load(spark, d, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    Scale.writePartitioned(li, dir, "ship_year")

    val q = spark.read.parquet(dir)
      .filter(col("ship_year") === 1996)
      .agg(sum(col("l_quantity")))
    val plan = planOf(q)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("ship_year"), plan)
    // correctness: equals unpartitioned filter
    val expected = Tables.load(spark, d, "lineitem")
      .filter(year(col("l_shipdate")) === 1996)
      .agg(sum(col("l_quantity"))).first().getDouble(0)
    assert(q.first().getDouble(0) == expected)
  }

  test("identically bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      Scale.writeBucketed(Tables.load(spark, d, "orders"), "orders_b", 4, "o_custkey")
      Scale.writeBucketed(Tables.load(spark, d, "customer"), "customer_b", 4, "c_custkey")
      val j = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = planOf(j)
      // bucketed SMJ: no Exchange feeding the join
      assert(!plan.contains("Exchange"), plan)
      assert(j.count() ==
        Tables.load(spark, d, "orders").join(Tables.load(spark, d, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("salted aggregation equals direct aggregation exactly") {
    val li = Tables.load(spark, d, "lineitem")
    val salted = Scale.saltedSum(li, "l_returnflag", "l_extendedprice", salts = 8)
      .orderBy("l_returnflag").collect()
    val direct = li.groupBy("l_returnflag")
      .agg(graft.queries.Q.dsum(col("l_extendedprice")).as("total"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    assert(salted.length == direct.length)
    salted.zip(direct).foreach { case (s, dr) =>
      assert(s.getString(0) == dr.getString(0))
      assert(s.getAs[Double]("total") == dr.getAs[Double]("total")) // bit-equal
      assert(s.getAs[Long]("n") == dr.getAs[Long]("n"))
    }
  }

  test("zValue2 interleaves bits exactly (reference implementation)") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L),
      (170L, 85L), (85L, 170L), (37L, 201L), (255L, 0L), (128L, 64L))
    val got = samples.toDF("x", "y")
      .select(Scale.zValue2(col("x"), col("y"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == samples.map { case (x, y) => ref(x, y, 8) })
    // the two canonical identities: z(max, max) fills the low 2b bits;
    // alternating patterns land in disjoint bit sets
    assert(ref(255, 255, 8) == 0xFFFF && ref(255, 0, 8) == 0x5555 &&
      ref(0, 255, 8) == 0xAAAA)
  }

  test("z-ordered layout clusters a 2-D box into fewer files than a 1-D sort") {
    val o = Tables.load(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_custkey") % 256).as("qx"), (col("o_orderkey") % 256).as("qy"))
    val base = tmp("zorder")
    Scale.writeZOrdered(o, s"$base/z", col("qx"), col("qy"),
      bits = 8, files = 32)
    // 1-D contender: same file count, sorted on qx only
    o.repartitionByRange(32, col("qx")).sortWithinPartitions("qx")
      .write.parquet(s"$base/linear")
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("qx").between(32, 47) && col("qy").between(96, 111))
        .select(input_file_name()).distinct().count()
    val (zf, lf) = (filesTouched(s"$base/z"), filesTouched(s"$base/linear"))
    // the box is 1/16 of qx's range: the qx-sorted layout confines it to
    // ~2-3 files; the z-layout must stay in the same league — while for
    // the TRANSPOSED workload (filter on qy alone, which the 1-D sort
    // cannot cluster at all) z must beat linear outright
    def filesTouchedY(path: String): Long =
      spark.read.parquet(path)
        .filter(col("qy").between(96, 111))
        .select(input_file_name()).distinct().count()
    val (zfy, lfy) = (filesTouchedY(s"$base/z"), filesTouchedY(s"$base/linear"))
    assert(zf <= lf + 2, s"box filter: z-layout touched $zf files vs linear $lf")
    assert(zfy < lfy, s"qy filter: z-layout touched $zfy files vs linear $lfy " +
      "- the second dimension must benefit from the interleave")
  }
}
