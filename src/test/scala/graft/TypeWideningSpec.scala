package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.ops.Versioned

/** ALTER COLUMN … TYPE as a metadata-only commit (wave 70, the Delta
  * type-widening surface): the logged schema carries the wider type
  * from the commit on, carried files keep their narrow encoding and
  * the parquet scan widens them — zero data I/O. */
class TypeWideningSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def table(prefix: String): String = s"${tmp(prefix)}/t"

  private def base() = Tables.load(spark, d, "orders")
    .select(col("o_orderkey").cast("int").as("k"),
      col("o_totalprice").cast("float").as("p"))

  test("int->long widens metadata-only; post-alter appends exceed " +
      "the narrow range; time travel reads the narrow type") {
    val t = table("graft_tw1")
    try {
      Versioned.init(base().repartition(4), t)
      val files1 = Versioned.files(spark, t).toSet
      val v = Versioned.alterColumnType(spark, t, "k", LongType)
      assert(v == 2L)
      // metadata-only: the alter carried every file by reference
      assert(Versioned.files(spark, t).toSet == files1)
      assert(Versioned.history(spark, t).last.operation ==
        "ALTER_COLUMN_TYPE(k int->bigint)")
      // the head reads the wide type; pre-alter files widen at scan
      val head = Versioned.read(spark, t)
      assert(head.schema("k").dataType == LongType)
      val sumNarrow = base().agg(sum(col("k"))).head().getLong(0)
      assert(head.agg(sum(col("k"))).head().getLong(0) == sumNarrow)
      // values beyond Int.MaxValue land fine after the widen
      val wide = spark.range(1).select(
        (lit(Int.MaxValue.toLong) + col("id") + lit(10L)).as("k"),
        lit(1.5f).cast("double").as("p"))
      Versioned.append(wide, t)
      val r = Versioned.read(spark, t)
        .agg(sum(col("k")), max(col("k"))).head()
      assert(r.getLong(0) == sumNarrow + Int.MaxValue.toLong + 10L)
      assert(r.getLong(1) == Int.MaxValue.toLong + 10L)
      // time travel BEFORE the alter: the narrow type, exact
      val v1 = Versioned.read(spark, t, Some(1L))
      assert(v1.schema("k").dataType == IntegerType)
      assert(v1.agg(sum(col("k"))).head().getLong(0) == sumNarrow)
    } finally rm(t)
  }

  test("float->double and decimal precision growth widen; lossy and " +
      "cross-family retypes are refused") {
    val t = table("graft_tw2")
    try {
      Versioned.init(base().repartition(2), t)
      val exp = base().agg(sum(col("p").cast("double"))).head()
        .getDouble(0)
      Versioned.alterColumnType(spark, t, "p", DoubleType)
      val r = Versioned.read(spark, t)
      assert(r.schema("p").dataType == DoubleType)
      assert(math.abs(r.agg(sum(col("p"))).head().getDouble(0) - exp)
        < 1e-6)
      // narrowing / cross-family: refused with zero effect
      val vBefore = Versioned.currentVersion(spark, t).get
      intercept[IllegalArgumentException] {
        Versioned.alterColumnType(spark, t, "k", ShortType)
      }
      intercept[IllegalArgumentException] {
        Versioned.alterColumnType(spark, t, "k", StringType)
      }
      assert(Versioned.currentVersion(spark, t).contains(vBefore))
      // decimal precision growth at the same scale
      val t2 = table("graft_tw2d")
      try {
        Versioned.init(Tables.load(spark, d, "orders")
          .select(col("o_orderkey").as("k"),
            col("o_totalprice").cast("decimal(12,2)").as("m"))
          .repartition(2), t2)
        val expM = Versioned.read(spark, t2)
          .agg(sum(col("m"))).head().getDecimal(0)
        Versioned.alterColumnType(spark, t2, "m", DecimalType(24, 2))
        val r2 = Versioned.read(spark, t2)
        assert(r2.schema("m").dataType == DecimalType(24, 2))
        assert(r2.agg(sum(col("m")).cast("decimal(30,2)")).head()
          .getDecimal(0).compareTo(
            expM.setScale(2)) == 0)
        intercept[IllegalArgumentException] { // scale change: refused
          Versioned.alterColumnType(spark, t2, "m", DecimalType(24, 4))
        }
      } finally rm(t2)
    } finally rm(t)
  }

  test("range-skipping stats stay valid across the widen (mixed " +
      "narrow/wide stat encodings prune numerically)") {
    val t = table("graft_tw3")
    try {
      Versioned.init(base().repartitionByRange(4, col("k")), t,
        statsCols = Seq("k"))
      Versioned.alterColumnType(spark, t, "k", LongType)
      Versioned.append(spark.range(1).select(
        lit(5000000000L).as("k"), lit(0.0).as("p")), t)
      val pr = Versioned.readRange(spark, t, "k", 0d, 50d)
      assert(pr.filesRead < pr.filesTotal,
        s"mixed-encoding stats must prune: ${pr.filesRead}/" +
          s"${pr.filesTotal}")
      val n = pr.df.filter(col("k") between (0L, 50L)).count()
      assert(n == base().filter(col("k") between (0, 50)).count())
      // the wide outlier is found through the post-alter file's stats
      // (a stats-less empty part file may ride along — conservative)
      val hi = Versioned.readRange(spark, t, "k", 4e9, 6e9)
      assert(hi.df.count() == 1L && hi.filesRead < hi.filesTotal)
    } finally rm(t)
  }

  test("an append whose source carries a WIDER type for an existing " +
      "column widens the logged schema in the same commit (and a " +
      "narrower source up-casts; cross-family refuses)") {
    val t = table("graft_tw5")
    try {
      Versioned.init(base().repartition(3), t) // k int, p float
      val sumNarrow = base().agg(sum(col("k"))).head().getLong(0)
      // wider source: k long beyond Int.MaxValue, p double
      val wide = spark.range(1).select(
        lit(Int.MaxValue.toLong + 7L).as("k"),
        lit(2.5).as("p"))
      Versioned.append(wide, t)
      val head = Versioned.read(spark, t)
      assert(head.schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(head.schema("p").dataType ==
        org.apache.spark.sql.types.DoubleType)
      assert(head.agg(sum(col("k"))).head().getLong(0) ==
        sumNarrow + Int.MaxValue.toLong + 7L)
      // narrower source (int into the now-long column): up-casts
      Versioned.append(spark.range(1).select(
        lit(11).cast("int").as("k"), lit(1.0f).cast("float").as("p")), t)
      assert(Versioned.read(spark, t).agg(sum(col("k"))).head()
        .getLong(0) == sumNarrow + Int.MaxValue.toLong + 18L)
      // cross-family: refused loudly
      intercept[Exception] {
        Versioned.append(spark.range(1).select(
          lit("oops").as("k"), lit(0.0).as("p")), t)
      }
    } finally rm(t)
  }

  test("a merge whose source carries a wider type widens through the " +
      "union coercion and the committed schema follows") {
    val t = table("graft_tw6")
    try {
      Versioned.init(base().repartition(3), t) // k int, p float
      val sumNarrow = base().agg(sum(col("k"))).head().getLong(0)
      val wide = spark.range(1).select(
        lit(Int.MaxValue.toLong + 21L).as("k"), lit(3.5).as("p"))
      Versioned.merge(wide, t, keys = Seq("k"))
      val head = Versioned.read(spark, t)
      assert(head.schema("k").dataType ==
        org.apache.spark.sql.types.LongType,
        s"merge must widen k, got ${head.schema("k").dataType}")
      assert(head.agg(sum(col("k"))).head().getLong(0) ==
        sumNarrow + Int.MaxValue.toLong + 21L)
    } finally rm(t)
  }

  test("SQL: ALTER TABLE lake.t ALTER COLUMN k TYPE BIGINT routes to " +
      "the metadata-only widen") {
    val t = table("graft_tw4")
    try {
      Versioned.init(base().repartition(2), t)
      spark.sql(s"ALTER TABLE lake.`$t` ALTER COLUMN k TYPE BIGINT")
      val sch = spark.sql(s"SELECT * FROM lake.`$t`").schema
      assert(sch("k").dataType == LongType)
      assert(Versioned.history(spark, t).last.operation ==
        "ALTER_COLUMN_TYPE(k int->bigint)")
      // bloom-registered columns refuse the widen
      val t2 = table("graft_tw4b")
      try {
        Versioned.init(base().repartition(2), t2,
          bloomCols = Seq("k"))
        val e = intercept[Exception] {
          spark.sql(s"ALTER TABLE lake.`$t2` ALTER COLUMN k TYPE BIGINT")
        }
        assert(e.getMessage.contains("bloom") ||
          Option(e.getCause).exists(_.getMessage.contains("bloom")))
      } finally rm(t2)
    } finally rm(t)
  }

  test("widening is refused while a CHECK constraint, generated " +
      "column, or hidden transform references the column — on ALTER " +
      "and on append's auto-widen alike (type-sensitive derivations " +
      "like hash transforms would split equal values across the widen)") {
    val t = table("graft_tw_guard")
    try {
      Versioned.init(base().repartition(2), t)
      // CHECK constraint referencing k blocks the widen
      Versioned.addConstraint(spark, t, "k_pos", "k >= 0")
      val e1 = intercept[IllegalArgumentException] {
        Versioned.alterColumnType(spark, t, "k", LongType) }
      assert(e1.getMessage.contains("k_pos"))
      // ...and blocks the implicit widen on a wider-typed append
      val wideSrc = base().limit(3)
        .select(col("k").cast("long").as("k"), col("p"))
      val e2 = intercept[IllegalArgumentException] {
        Versioned.append(wideSrc, t) }
      assert(e2.getMessage.contains("k_pos") &&
        e2.getMessage.contains("APPEND"))
      Versioned.dropConstraint(spark, t, "k_pos")
      // generated column whose expression reads k blocks the widen
      val t2 = table("graft_tw_guard_g")
      try {
        Versioned.init(base().repartition(2)
          .withColumn("g", expr("cast(k + 1 as bigint)")), t2)
        Versioned.addGeneratedColumn(spark, t2, "g",
          "cast(k + 1 as bigint)")
        val e3 = intercept[IllegalArgumentException] {
          Versioned.alterColumnType(spark, t2, "k", LongType) }
        assert(e3.getMessage.contains("generated"))
        Versioned.dropGeneratedColumn(spark, t2, "g")
        assert(Versioned.alterColumnType(spark, t2, "k", LongType) > 0L)
      } finally rm(t2)
      // hash hidden transform reading k blocks the widen: equal
      // logical values would route to different buckets post-widen
      val root3 = tmp("graft_tw_guard_h")
      val t3 = s"$root3/t"
      try {
        spark.sql(s"CREATE TABLE lake.`$t3` (k INT, v STRING) " +
          "PARTITIONED BY (bucket(4, k))")
        val e4 = intercept[Exception] {
          Versioned.alterColumnType(spark, t3, "k", LongType) }
        assert(e4.getMessage.contains("hidden") ||
          Option(e4.getCause).exists(_.getMessage.contains("hidden")))
      } finally rm(t3)
      // with every dependent object gone, the widen proceeds
      assert(Versioned.alterColumnType(spark, t, "k", LongType) > 0L)
      assert(Versioned.read(spark, t).schema("k").dataType == LongType)
    } finally rm(t)
  }

  test("all-digit tag names are refused at creation (VERSION AS OF " +
      "resolves numerics as versions first — the tag would be " +
      "silently unreachable)") {
    val t = table("graft_tag_num")
    try {
      Versioned.init(base().repartition(2), t)
      val e = intercept[IllegalArgumentException] {
        Versioned.tag(spark, t, "2024") }
      assert(e.getMessage.contains("all-digit"))
      Versioned.tag(spark, t, "q3-close") // non-numeric names still fine
      assert(Versioned.tags(spark, t).contains("q3-close"))
    } finally rm(t)
  }
}
