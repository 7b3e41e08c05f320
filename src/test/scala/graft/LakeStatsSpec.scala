package graft

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** DSv2 `SupportsReportStatistics`: the lake scan reports manifest-
  * derived, filter-aware statistics so Spark's join planning sees the
  * scan's true footprint (wave 68). */
class LakeStatsSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def scanStats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.stats
    }.getOrElse(fail("no DSv2 scan relation in the plan"))

  test("unfiltered scan reports the manifest's exact row count — " +
      "even with NO registered stats columns (universal #rows)") {
    val dir = tmp("graft_st1")
    try {
      val base = graft.io.Tables.load(spark, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      Versioned.init(base.repartition(4), dir)
      val n = base.count()
      val st = scanStats(
        spark.read.format("graft-lake").option("path", dir).load())
      assert(st.rowCount.contains(BigInt(n)),
        s"rowCount=${st.rowCount} expected $n")
      // reported, not the defaultSizeInBytes fallback
      assert(st.sizeInBytes > 0 &&
        st.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("statistics follow file pruning: a selective range probe " +
      "reports fewer rows than the table") {
    val dir = tmp("graft_st2")
    try {
      val base = graft.io.Tables.load(spark, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      Versioned.init(base, dir, statsCols = Seq("c"))
      Versioned.compact(spark, dir, targetFiles = 8, clusterBy = Seq("c"))
      val all = scanStats(
        spark.read.format("graft-lake").option("path", dir).load())
      val pruned = scanStats(
        spark.read.format("graft-lake").option("path", dir).load()
          .filter(col("c") >= 1 && col("c") <= 5))
      assert(pruned.rowCount.isDefined && all.rowCount.isDefined)
      assert(pruned.rowCount.get < all.rowCount.get,
        s"pruned=${pruned.rowCount} all=${all.rowCount}")
      assert(pruned.sizeInBytes < all.sizeInBytes)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("wide-string tables report their ACTUAL byte footprint, not " +
      "the 20-byte-per-string width guess (no under-broadcast)") {
    val dir = tmp("graft_st4")
    try {
      // ~200 hex chars per row — far beyond StringType.defaultSize
      // (20), mostly incompressible, so file bytes >> rows × width
      val wide = spark.range(2000).select(col("id").as("k"),
        concat_ws("", md5(col("id").cast("string")),
          md5((col("id") * 31 + 7).cast("string")),
          sha2(col("id").cast("string"), 256),
          sha2((col("id") + 13).cast("string"), 512)).as("txt"))
      Versioned.init(wide.repartition(2), dir)
      val fs0 = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fileBytes = Versioned.files(spark, dir).map(f =>
        fs0.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
      val st = scanStats(
        spark.read.format("graft-lake").option("path", dir).load())
      val widthGuess = 2000L * spark.read.format("graft-lake")
        .option("path", dir).load().schema.defaultSize
      assert(st.sizeInBytes >= BigInt(fileBytes),
        s"sizeInBytes=${st.sizeInBytes} < actual file bytes $fileBytes")
      assert(BigInt(fileBytes) > BigInt(widthGuess),
        s"fixture too compressible: bytes=$fileBytes width=$widthGuess")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("a small lake dimension broadcasts against a parquet fact") {
    val dir = tmp("graft_st3")
    try {
      Versioned.init(graft.io.Tables.load(spark, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), dir,
        statsCols = Seq("c_custkey"))
      val dim = spark.read.format("graft-lake").option("path", dir).load()
      val joined = graft.io.Tables.load(spark, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .join(dim, col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected a broadcast join, got:\n$plan")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("DECIMAL stats prune in column units: p = 0.37 returns its row " +
      "on both surfaces") {
    import spark.implicits._
    Scratch.withDir("graft_st_dec") { dir =>
      // p = k / 100 holds 0.01 … 1.00 over 4 range-clustered files
      Versioned.init(spark.range(1, 101).select(col("id").as("k"),
          (col("id") / 100).cast("decimal(10,2)").as("p"))
        .repartitionByRange(4, col("k")), dir, statsCols = Seq("p"))
      val r = Versioned.readRange(spark, dir, "p", 0.37, 0.37)
      assert((r.filesRead, r.filesTotal) == ((1, 4)))
      assert(r.df.filter(col("p") === lit(BigDecimal("0.37"))).select("k")
        .as[Long].collect().toSeq == Seq(37L))
      assert(spark.sql(s"SELECT k FROM lake.`$dir` WHERE p = 0.37")
        .as[Long].collect().toSeq == Seq(37L))
    }
  }
}
