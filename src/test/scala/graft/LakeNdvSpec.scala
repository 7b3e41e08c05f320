package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned

/** Manifest NDV sketches (wave 71): registered stats columns log a
  * per-file HLL + exact null count at commit; the DSv2 scan unions
  * them into planner column stats; with CBO on, a groupBy on the
  * low-NDV key estimates ~NDV rows and its join broadcasts at plan
  * time — the unsketched twin sort-merges. */
class LakeNdvSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def data = Tables.load(spark, d, "orders").select(
    col("o_orderkey").as("k"), col("o_totalprice").as("p"),
    (col("o_orderkey") % 5).as("g"))

  test("commits log per-file HLL + null counts for stats columns; the " +
      "scan unions them into an exact-ish NDV with nullCount") {
    val work = tmp("graft_ndv_spec"); val t = s"$work/a"
    try {
      Versioned.init(data.repartition(4), t, statsCols = Seq("g"))
      val entries = Versioned.manifestEntries(spark, t, 1L)
      assert(entries.nonEmpty && entries.forall(_._2.exists(sj =>
        sj.contains("\"#hll:g\"") && sj.contains("\"#nulls:g\""))),
        "every staged file must carry the g sketch and null count")
      // appended files keep logging sketches
      Versioned.append(data.limit(100).repartition(2), t)
      val rel = spark.read.format("graft-lake").option("path", t).load()
        .queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r
        }.get
      val cs = rel.stats.attributeStats.collectFirst {
        case (a, st) if a.name == "g" => st
      }
      assert(cs.exists(_.distinctCount.exists(n =>
          n >= BigInt(4) && n <= BigInt(6))),
        s"expected NDV ~5 for g, got $cs")
      assert(cs.exists(_.nullCount.contains(BigInt(0))))
    } finally rm(work)
  }

  test("short/byte stats columns sketch through the long cast — " +
      "hll_sketch_agg accepts only int/bigint/string/binary, so the " +
      "narrow integrals must not fail analysis (r14 regression)") {
    val work = tmp("graft_ndv_spec"); val t = s"$work/a"
    try {
      val narrow = data.select(
        col("k"), col("g").cast("short").as("gs"),
        col("g").cast("byte").as("gb"))
      // init AND append both ride the shared staging aggregate —
      // either would have thrown DATATYPE_MISMATCH before the cast
      Versioned.init(narrow.repartition(2), t, statsCols = Seq("gs", "gb"))
      Versioned.append(narrow.limit(50).repartition(2), t)
      val entries = Versioned.manifestEntries(spark, t, 2L)
      assert(entries.nonEmpty && entries.forall(_._2.exists(sj =>
        sj.contains("\"#hll:gs\"") && sj.contains("\"#hll:gb\""))))
      val rel = spark.read.format("graft-lake").option("path", t).load()
        .queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r
        }.get
      val ndvs = rel.stats.attributeStats.collect {
        case (a, st) if Set("gs", "gb")(a.name) =>
          a.name -> st.distinctCount
      }.toMap
      assert(ndvs.get("gs").flatten.exists(n => n >= 4 && n <= 6) &&
        ndvs.get("gb").flatten.exists(n => n >= 4 && n <= 6),
        s"expected NDV ~5 for gs/gb, got $ndvs")
    } finally rm(work)
  }

  test("date and decimal stats columns sketch distinct-preservingly " +
      "(epoch-days / canonical string) and surface planner NDVs") {
    val work = tmp("graft_ndv_spec"); val t = s"$work/a"
    try {
      val typed = Tables.load(spark, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderdate").as("dt"),
        to_date(col("o_orderdate")).as("dd"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        (col("o_orderkey") % 7).cast("decimal(4,1)").as("gd"))
      Versioned.init(typed.repartition(3), t,
        statsCols = Seq("dt", "dd", "gd"))
      val entries = Versioned.manifestEntries(spark, t, 1L)
      assert(entries.nonEmpty && entries.forall(_._2.exists(sj =>
        sj.contains("\"#hll:dt\"") && sj.contains("\"#hll:gd\""))),
        "date + decimal columns must log sketches")
      val rel = spark.read.format("graft-lake").option("path", t).load()
        .queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r
        }.get
      val ndvs = rel.stats.attributeStats.collect {
        case (a, st) if Set("dt", "gd")(a.name) =>
          a.name -> st.distinctCount
      }.toMap
      val trueDt = typed.select("dt").distinct().count()
      assert(ndvs.get("gd").flatten.exists(n => n >= 6 && n <= 8),
        s"expected NDV ~7 for decimal gd, got $ndvs")
      assert(ndvs.get("dt").flatten.exists(n =>
          n >= BigInt((trueDt * 0.8).toLong) &&
          n <= BigInt((trueDt * 1.2).toLong)),
        s"expected NDV ~$trueDt for date dt, got $ndvs")
      // r16 (r15 ADVICE #1): these columns must ALSO surface min/max
      // bounds — an NDV-bearing ColumnStat WITHOUT bounds reads as an
      // empty value interval in JoinEstimation and collapses CBO join
      // estimates on the column to 0 rows. Catalyst-internal
      // encodings: timestamps epoch-micros Longs, dates epoch-day
      // Ints, decimals Decimal at the declared scale.
      val bounds = rel.stats.attributeStats.collect {
        case (a, st) if Set("dt", "dd", "gd")(a.name) =>
          a.name -> (st.min, st.max)
      }.toMap
      val (dtMin, dtMax) = bounds("dt")
      assert(dtMin.exists(_.isInstanceOf[java.lang.Long]) &&
          dtMax.exists(_.isInstanceOf[java.lang.Long]) &&
          dtMin.get.asInstanceOf[java.lang.Long] <=
            dtMax.get.asInstanceOf[java.lang.Long],
        s"timestamp stats column must carry epoch-micros Long bounds, got $bounds")
      val (ddMin, ddMax) = bounds("dd")
      assert(ddMin.exists(_.isInstanceOf[Integer]) &&
          ddMax.exists(_.isInstanceOf[Integer]) &&
          ddMin.get.asInstanceOf[Integer] <= ddMax.get.asInstanceOf[Integer],
        s"date stats column must carry epoch-day Int bounds, got $bounds")
      // internal consistency: micros/86.4e9 spans the same days
      assert(math.floorDiv(dtMin.get.asInstanceOf[java.lang.Long],
          86400000000L) == ddMin.get.asInstanceOf[Integer].toLong,
        s"date and timestamp bounds must agree on the first day, got $bounds")
      val (gdMin, gdMax) = bounds("gd")
      assert(gdMin.exists(_.isInstanceOf[org.apache.spark.sql.types.Decimal])
          && gdMax.exists(_.toString == "6.0"),
        s"decimal stats column must carry Decimal bounds 0.0..6.0, got $bounds")
    } finally rm(work)
  }

  test("CBO + manifest NDV flips the post-aggregation join to a " +
      "plan-time broadcast; the unsketched twin sort-merges") {
    val work = tmp("graft_ndv_spec")
    val a = s"$work/a"; val b = s"$work/b"
    try {
      Versioned.init(data.repartition(4), a, statsCols = Seq("g"))
      Versioned.init(data.repartition(4), b)
      Session.withConf(spark, "spark.sql.cbo.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "8192") {
        def shaped(dir: String) = {
          val t = spark.read.format("graft-lake").option("path", dir).load()
          t.join(t.groupBy("g").agg(count(lit(1)).as("n_g")), "g")
        }
        val withPlan = shaped(a).queryExecution.executedPlan.toString
        val noPlan = shaped(b).queryExecution.executedPlan.toString
        assert(withPlan.contains("BroadcastHashJoin"),
          s"NDV table must broadcast:\n${withPlan.take(500)}")
        assert(noPlan.contains("SortMergeJoin") &&
            !noPlan.contains("BroadcastHashJoin"),
          s"twin without NDV must sort-merge:\n${noPlan.take(500)}")
        // and the broadcast plan computes the right answer
        assert(shaped(a).count() == shaped(b).count())
      }
    } finally rm(work)
  }
}
