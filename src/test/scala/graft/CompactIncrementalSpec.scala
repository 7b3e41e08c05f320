package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned

/** Incremental clustering (wave 70, the ZCube / liquid-clustering
  * shape): only the files added since the last cluster rewrite on the
  * same columns are laid out; the clustered bulk carries by
  * reference. */
class CompactIncrementalSpec extends SparkSuite {

  private val d = sf("sf0.001")

  private def table(prefix: String): String = s"${tmp(prefix)}/t"

  private def slice(lo: Long, hi: Long) = Tables.load(spark, d, "orders")
    .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))

  private def sumK(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(sum(col("k"))).head().getLong(0)

  test("no base -> one full clustered rewrite seeds the provenance; " +
      "then only new files lay out, the clustered bulk carries") {
    val t = table("graft_ci1")
    try {
      Versioned.init(slice(0, 1200).repartition(6), t,
        statsCols = Seq("k"))
      val c0 = Versioned.compactIncremental(spark, t, 4,
        clusterBy = Seq("k"))
      assert(c0.version == 2L && c0.carried == 0)
      val clustered = Versioned.files(spark, t)
      // clustered layout prunes a selective probe
      val p0 = Versioned.readRange(spark, t, "k", 0d, 100d)
      assert(p0.filesRead < p0.filesTotal)
      // nothing new -> no commit
      assert(Versioned.compactIncremental(spark, t, 4,
        clusterBy = Seq("k")).version == -1L)
      // append a batch, re-run: ONLY the new files rewrite
      Versioned.append(slice(1200, 2400).repartition(3), t)
      val c1 = Versioned.compactIncremental(spark, t, 2,
        clusterBy = Seq("k"))
      assert(c1.version == 4L)
      assert(c1.coalesced == 3 && c1.carried == clustered.size,
        s"expected 3 rewritten / ${clustered.size} carried, got " +
          s"${c1.coalesced}/${c1.carried}")
      val after = Versioned.files(spark, t)
      assert(clustered.forall(after.contains),
        "the clustered bulk must carry by reference (same paths)")
      assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 2400)))
      // stats prune across BOTH clustered groups
      val p1 = Versioned.readRange(spark, t, "k", 0d, 100d)
      assert(p1.filesRead < p1.filesTotal)
      assert(sumK(p1.df.filter(col("k") between (0L, 100L))) ==
        sumK(slice(0, 101)))
    } finally rm(t)
  }

  test("a vacuumed base falls back to one full rewrite; the SQL " +
      "procedure routes both modes") {
    val t = table("graft_ci2")
    try {
      Versioned.init(slice(0, 1200).repartition(4), t,
        statsCols = Seq("k"))
      val r0 = spark.sql(
        s"CALL lake.optimize_incremental('$t', 3, 'cluster', 'k')")
        .head()
      assert(r0.getLong(0) == 2L && r0.getInt(2) == 0)
      Versioned.append(slice(1200, 1800).repartition(2), t)
      // vacuum past the base: the sidecar goes with the version
      Versioned.vacuum(spark, t, keepLast = 1)
      val c = Versioned.compactIncremental(spark, t, 3,
        clusterBy = Seq("k"))
      assert(c.carried == 0, "no surviving base -> full rewrite")
      assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 1800)))
      // zorder mode through SQL
      Versioned.append(slice(1800, 2400).repartition(2)
        .withColumn("p", col("p")), t)
      val rz = spark.sql(
        s"CALL lake.optimize_incremental('$t', 2, 'zorder', 'k, p')")
        .head()
      assert(rz.getInt(2) == 0, "different cols -> new full base")
      val rz2 = spark.sql(
        s"CALL lake.optimize_incremental('$t', 2, 'zorder', 'k, p')")
        .head()
      assert(rz2.getLong(0) == -1L, "idempotent: nothing new")
      assert(sumK(Versioned.read(spark, t)) == sumK(slice(0, 2400)))
    } finally rm(t)
  }
}
