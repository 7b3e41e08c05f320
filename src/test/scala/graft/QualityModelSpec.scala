package graft

import org.apache.spark.sql.functions._

import graft.text.{QualityModel, TextStats}

/** Learned quality filter ([[QualityModel]]).
  *
  * Pins:
  *  1. the model DOMINATES the heuristic gate on the planted-junk
  *     corpus — perfect recall on every planted flavor, and strictly
  *     fewer false positives than the heuristic (the r7 verdict's
  *     acceptance bar);
  *  2. the per-doc log-odds are layout-independent (4 vs 32
  *     partitions) — the grid-exact class statistics make the fit
  *     deterministic at any cluster size;
  *  3. per-class variance is load-bearing: each junk flavor lands on
  *     the junk side, including the two flavors sitting on OPPOSITE
  *     sides of the good-doc mean on the distinct-ratio axis (the case
  *     a linear boundary cannot express).
  */
class QualityModelSpec extends SparkSuite {

  private lazy val docs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")

  test("model dominates the heuristic gate on planted junk") {
    val f = QualityModel.scored(docs)
      .withColumn("model_junk", col("z") > 0)
      .withColumn("heur_junk",
        round(TextStats.qualityScore(col("t")), 6) < 0.5)
      .agg(sum(col("planted").cast("long")),
        sum((col("planted") && col("model_junk")).cast("long")),
        sum((!col("planted") && col("model_junk")).cast("long")),
        sum((col("planted") && col("heur_junk")).cast("long")),
        sum((!col("planted") && col("heur_junk")).cast("long")))
      .head()
    val (planted, mTp, mFp, hTp, hFp) =
      (f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3), f.getLong(4))
    assert(mTp == planted, s"model recall $mTp/$planted")
    assert(mFp == 0, s"model false positives: $mFp")
    assert(mTp >= hTp && mFp < hFp,
      s"model ($mTp TP, $mFp FP) must dominate heuristic ($hTp TP, $hFp FP)")
  }

  test("per-doc log-odds identical at 4 vs 32 partitions") {
    def zs(parts: Int) = QualityModel.scored(docs.repartition(parts))
      .orderBy("doc_id").select("doc_id", "z")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(zs(4).sameElements(zs(32)))
  }

  test("every planted flavor is caught, including both distinct-ratio extremes") {
    val byFlavor = QualityModel.scored(docs)
      .filter(col("planted"))
      .groupBy(expr("CAST((doc_id div 13) % 3 AS INT)").as("flavor"))
      .agg(count(lit(1)).as("n"),
        sum((col("z") > 0).cast("long")).as("caught"),
        min(col("f4")).as("min_f4"), max(col("f4")).as("max_f4"))
      .collect()
    assert(byFlavor.length == 3, "all three junk flavors present")
    byFlavor.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"flavor ${r.getInt(0)}: ${r.getLong(2)}/${r.getLong(1)} caught")
    }
    // flavor 0 (char run) has distinct-ratio 1.0, flavor 2 (repeated
    // word) near 0 — the good-doc mean sits between them
    val f4 = byFlavor.map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(f4(0) == 1.0 && f4(2) < 0.1)
  }

  test("scoredFrom over a parquet round-trip of the feature frame is " +
      "bit-identical to scored (the r16 memoized-fixture contract)") {
    // the registry's Memo.qualityFeatures materializes features() to
    // parquet once and all three quality queries re-read it; this pins
    // that the round-trip (doubles, strings, token arrays) changes NO
    // z value and no heuristic input
    val dir = s"${tmp("graft_qmtest")}/f"
    try {
      val featured = QualityModel.features(QualityModel.planted(docs))
      featured.write.parquet(dir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id")
          .select(col("doc_id"), col("z"),
            round(TextStats.qualityScore(col("t")), 6).as("h"))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val direct = rows(QualityModel.scored(docs))
      val viaParquet = rows(QualityModel.scoredFrom(spark.read.parquet(dir)))
      assert(direct.sameElements(viaParquet))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p.getParent, true)
    }
  }
}
