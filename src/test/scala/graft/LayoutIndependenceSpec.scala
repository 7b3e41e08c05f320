package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.{Dsir, LangId}

/** Layout-independence pins for the round-8 exact-arithmetic
  * operators: the results must be bit-identical when the input
  * arrives in 4 vs 32 partitions — the property that makes them
  * stable across cluster sizes and AQE replans at 100 TB (the
  * LangId/QualityModel discipline, extended to the new models). */
class LayoutIndependenceSpec extends SparkSuite {

  private lazy val docs =
    Tables.load(spark, sf("sf0.001"), "documents")

  test("DSIR scores AND selections identical at 4 vs 32 partitions") {
    def run(parts: Int) =
      Dsir.selected(LangId.augmented(docs.repartition(parts)), "en")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(run(4).sameElements(run(32)))
  }

  test("TextRank keyword ranks identical at 4 vs 32 partitions") {
    import graft.queries.Wave19Queries
    // the registry query reads from parquet; repartitioning happens
    // inside via the corpus scan — vary shuffle partitions instead
    def run(parts: String) =
      Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
        Wave19Queries.qTextrankKeywords(spark, sf("sf0.001"))
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
    assert(run("4") == run("32"))
  }

  // the r9 scale-hygiene migration: the three LM/drift scores moved
  // from per-group sort_array+fold (vocabulary-sized agg buffers) to
  // Q.gsum's integer grid; byte-identity across layouts is the
  // property the grid buys, so pin it per query
  private def pinLayout(name: String,
      run: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Unit =
    test(s"$name identical at 4 vs 32 shuffle partitions (Q.gsum grid)") {
      def go(parts: String) =
        Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
          run(spark, sf("sf0.001")).collect().map(_.toSeq).toSeq)
      assert(go("4") == go("32"))
    }

  pinLayout("q_lm_score", graft.queries.PipelineQueries.qLmScore)
  pinLayout("q_lm_bigram", graft.queries.Wave6Queries.qLmBigram)
  pinLayout("q_kl_drift", graft.queries.Wave6Queries.qKlDrift)

  test("multi-touch channel credit identical at 4 vs 32 shuffle partitions") {
    import graft.queries.Wave20Queries
    def run(parts: String) =
      Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
        Wave20Queries.qMultiTouch(spark, sf("sf0.001"))
          .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
          .toSeq)
    assert(run("4") == run("32"))
  }
}
