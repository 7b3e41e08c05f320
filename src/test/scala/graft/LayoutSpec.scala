package graft

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{Scale, ZOrder}
import graft.queries.Wave53Queries

/** Physical-layout behaviors that matter at 100 TB: shuffle-free
  * bucketed joins, salted-aggregation equivalence and the Morton
  * interleave. Lake partition pruning is pinned by `LakeSourceSpec`,
  * the Z-ordered layout's pruning by `Wave46Spec`. */
class LayoutSpec extends SparkSuite {

  private val d = sf("sf0.001")

  test("identically bucketed tables join without a shuffle") {
    // the registry row: bucketBy writes, a zero-Exchange join receipt
    val rows = Wave53Queries.qBucketedJoin(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[String]("exchange_free_join") == "ok", r))
    val direct = Tables.load(spark, d, "orders")
      .join(Tables.load(spark, d, "customer"),
        col("o_custkey") === col("c_custkey")).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == direct)
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
      .select(ZOrder.zValue2(col("x"), col("y"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == samples.map { case (x, y) => ref(x, y, 8) })
    // the two canonical identities: z(max, max) fills the low 2b bits;
    // alternating patterns land in disjoint bit sets
    assert(ref(255, 255, 8) == 0xFFFF && ref(255, 0, 8) == 0x5555 &&
      ref(0, 255, 8) == 0xAAAA)
  }
}
