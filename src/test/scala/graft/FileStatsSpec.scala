package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{FileStats, Versioned}

/** The per-file stats codec: manifests keep their exact text, every
  * typed view of a logged bound matches the data, and lookups key on
  * the physical column name only. */
class FileStatsSpec extends SparkSuite {

  private def entryStats(t: String): Seq[String] =
    Versioned.manifestEntries(spark, t, 1L).map(_._2.get)

  private def field(t: String, c: String): StructField =
    Versioned.tableSchema(spark, t).get(c)

  test("a one-file commit logs exactly the stats document of the " +
      "previous writer, for every bounded type and a Bloom column") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("dec", DecimalType(10, 2)), StructField("dbl", DoubleType),
      StructField("k", StringType)))
    val rows = Seq(
      Row(1L, 10, java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00.5"),
        new java.math.BigDecimal("12.34"), 2.5, "a"),
      Row(-7L, null, java.sql.Date.valueOf("2023-12-31"),
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00"),
        new java.math.BigDecimal("-0.05"), -1.0e10, "b"),
      Row(42L, 3, java.sql.Date.valueOf("1970-01-02"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59"),
        new java.math.BigDecimal("99999999.99"), 0.1, "c"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema).coalesce(1)
    val work = tmp("graft_fs_golden")
    try {
      val t = s"$work/stats"
      Versioned.init(df, t, statsCols = Seq("l", "i", "d", "ts", "dec", "dbl"),
        bloomCols = Seq("k"))
      val Seq(sj) = entryStats(t)
      // the 20 KB Bloom filter is pinned by its digest
      val bloom = FileStats.decode(Some(sj)).blooms.toMap.apply("k")
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bloom.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(digest ==
        "019745e8f58e5a20d480b2a8f153e7f3ac83dbe2d6f705e26c20d885108e4ba2")
      assert(sj.replace(bloom, "<bloom>") ==
        """{"#rows":{"t":"l","mnl":3,"mxl":3},""" +
        """"#bytes":{"t":"l","mnl":1917,"mxl":1917},""" +
        """"#bloom:k":{"t":"b","b":"<bloom>"},""" +
        """"#hll:l":{"t":"h","b":"AgEHDAMAAwgr8vsG8WuVBRq80AUAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},""" +
        """"#nulls:l":{"t":"l","mnl":0,"mxl":0},""" +
        """"#hll:i":{"t":"h","b":"AgEHDAMAAgiwW0YSdYFmBwAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},""" +
        """"#nulls:i":{"t":"l","mnl":1,"mxl":1},""" +
        """"#hll:d":{"t":"h","b":"AgEHDAMAAwi32C0HQEnQHCvy+wYAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},""" +
        """"#nulls:d":{"t":"l","mnl":0,"mxl":0},""" +
        """"#hll:ts":{"t":"h","b":"AgEHDAMAAwg1MNcMncBIBKzDPRAAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},""" +
        """"#nulls:ts":{"t":"l","mnl":0,"mxl":0},""" +
        """"#hll:dec":{"t":"h","b":"AgEHDAMAAwgWkuIH3gpvGtrKugwAAAAAAAAAAAAAAAAAAAAAAAAAAA=="},""" +
        """"#nulls:dec":{"t":"l","mnl":0,"mxl":0},""" +
        """"l":{"t":"l","mnl":-7,"mxl":42},""" +
        """"i":{"t":"l","mnl":3,"mxl":10},""" +
        """"d":{"t":"l","mnl":1,"mxl":19723},""" +
        """"ts":{"t":"l","mnl":-1000000,"mxl":1709294400000000},""" +
        """"dec":{"t":"l","mnl":-5,"mxl":9999999999},""" +
        """"dbl":{"t":"d","mnd":-1.0E10,"mxd":2.5}}""")
      // no registered column: the footer-only document
      val bare = s"$work/bare"
      Versioned.init(df, bare)
      assert(entryStats(bare) == Seq(
        """{"#rows":{"t":"l","mnl":3,"mxl":3},"#bytes":{"t":"l","mnl":1917,"mxl":1917}}"""))
    } finally rm(work)
  }

  test("both typed views of every logged type match the data's true " +
      "min/max, and encode(decode(doc)) reproduces each document") {
    val raw = spark.range(60).select(
      (col("id") * 7919 % 101 - 50).as("rl"),
      (col("id") * 13 % 400 - 200).as("rd"),
      (col("id") * 123456789L - 3000000000L).as("rt"),
      (col("id") * 37 % 1000 - 500).as("rc"),
      (col("id") * 17 % 97 - 40).as("rf"))
    val typed = raw.select(
      col("rl").as("l"), col("rl").cast("int").as("i"),
      col("rl").cast("short").as("s"), col("rl").cast("byte").as("b"),
      date_from_unix_date(col("rd").cast("int")).as("d"),
      timestamp_micros(col("rt")).as("ts"),
      (col("rc").cast("decimal(10,0)") / 100).cast("decimal(10,2)").as("dec"),
      (col("rf") / 4.0).as("dbl"), (col("rf") / 4.0).cast("float").as("f"))
    val Row(lMin: Long, lMax: Long, dMin: Long, dMax: Long, tMin: Long,
        tMax: Long, cMin: Long, cMax: Long, fMin: Long, fMax: Long) =
      raw.agg(min("rl"), max("rl"), min("rd"), max("rd"), min("rt"),
        max("rt"), min("rc"), max("rc"), min("rf"), max("rf")).head()
    val cols = typed.columns.toSeq
    val work = tmp("graft_fs_types")
    try {
      val t = s"$work/t"
      Versioned.init(typed.repartition(3), t, statsCols = cols)
      val docs = entryStats(t)
      assert(docs.size == 3)
      docs.foreach(sj => assert(FileStats.encode(FileStats.decode(Some(sj))) == sj))
      val stats = docs.map(sj => FileStats.decode(Some(sj)))
      def folded[T](view: FileStats => Option[(T, T)])(
          implicit o: Ordering[T]): (T, T) = {
        val per = stats.map(view)
        assert(per.forall(_.isDefined))
        (per.flatten.map(_._1).min, per.flatten.map(_._2).max)
      }
      def dec(n: Long) = java.math.BigDecimal.valueOf(n, 2)
      val units = Map(
        "l" -> (lMin.toDouble, lMax.toDouble), "i" -> (lMin.toDouble, lMax.toDouble),
        "s" -> (lMin.toDouble, lMax.toDouble), "b" -> (lMin.toDouble, lMax.toDouble),
        "d" -> (dMin.toDouble, dMax.toDouble), "ts" -> (tMin.toDouble, tMax.toDouble),
        "dec" -> (dec(cMin).doubleValue, dec(cMax).doubleValue),
        "dbl" -> (fMin / 4.0, fMax / 4.0), "f" -> (fMin / 4.0, fMax / 4.0))
      for (c <- cols)
        assert(folded(_.units(field(t, c))) == units(c), s"units of $c")
      val anyOrder = Ordering.fromLessThan[Any]((x, y) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)
      val catalyst = Map[String, (Any, Any)](
        "l" -> (lMin, lMax), "i" -> (lMin.toInt, lMax.toInt),
        "s" -> (lMin.toShort, lMax.toShort), "b" -> (lMin.toByte, lMax.toByte),
        "d" -> (dMin.toInt, dMax.toInt), "ts" -> (tMin, tMax),
        "dec" -> (Decimal(dec(cMin)), Decimal(dec(cMax))),
        "dbl" -> (fMin / 4.0, fMax / 4.0), "f" -> ((fMin / 4.0).toFloat, (fMax / 4.0).toFloat))
      for (c <- cols) {
        val (mn, mx) = folded(_.catalyst(field(t, c)))(anyOrder)
        assert((mn, mx) == catalyst(c), s"catalyst bounds of $c")
        assert(mn.getClass == catalyst(c)._1.getClass, s"value class of $c")
      }
    } finally rm(work)
  }

  test("a missing or malformed document reports nothing; a NaN bound " +
      "is dropped while the file's counts still report") {
    assert(FileStats.decode(None) == FileStats.empty)
    assert(FileStats.decode(Some("{\"#rows\":")) == FileStats.empty)
    import spark.implicits._
    val work = tmp("graft_fs_nan")
    try {
      val t = s"$work/t"
      Versioned.init(Seq(1.0, Double.NaN).toDF("x").coalesce(1), t,
        statsCols = Seq("x"))
      val Seq(sj) = entryStats(t)
      assert(sj.contains("NaN"))
      val stats = FileStats.decode(Some(sj))
      assert(stats.rows.contains(2L) && stats.units(field(t, "x")).isEmpty)
      assert(Versioned.readRange(spark, t, "x", 5d, 6d).filesRead == 1)
      assert(spark.read.format("graft-lake").option("path", t).load()
        .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(2)))
    } finally rm(work)
  }

  test("after a rename swap the scan reports each column's own stats to " +
      "the CBO, never those of the column that held its name") {
    import spark.implicits._
    val work = tmp("graft_fs_swap")
    try {
      val t = s"$work/t"
      // two files: x 1..50 / 51..100, y 1001..1050 / 1051..1100
      Versioned.init((1L to 100L).map(i => (i, i + 1000L)).toDF("x", "y")
        .repartitionByRange(2, col("x")), t, statsCols = Seq("x", "y"))
      Versioned.renameColumn(spark, t, "x", "z")
      Versioned.renameColumn(spark, t, "y", "x")
      val st = Session.withConf(spark, "spark.sql.cbo.enabled" -> "true")(
        spark.sql(s"SELECT x, z FROM lake.`$t`").queryExecution
          .optimizedPlan.stats.attributeStats.map { case (a, s) => a.name -> s })
      assert(st("x").min.contains(1001L) && st("x").max.contains(1100L),
        s"x holds 1001..1100, got ${st("x")}")
      assert(st("z").min.contains(1L) && st("z").max.contains(100L),
        s"z holds 1..100, got ${st("z")}")
      // the range tests key the same way: each column prunes by its
      // own bounds on both surfaces
      assert(Versioned.readRange(spark, t, "x", 1d, 100d).filesRead == 0)
      assert(Versioned.readRange(spark, t, "z", 1d, 50d).filesRead == 1)
      for (where <- Seq("z <= 50", "x >= 1051")) {
        assert(spark.sql(s"SELECT x FROM lake.`$t` WHERE $where").count() == 50)
        assert(graft.sources.LakeSource.lastPlanned.get() == ((1, 2)), where)
      }
    } finally rm(work)
  }
}
