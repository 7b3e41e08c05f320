package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Curation

/** Curation operator: flags/funnel/keepers agree with each other, and
  * the materialized kept corpus round-trips a partitioned write. */
class CurationSpec extends SparkSuite {

  private val threshold = 0.8

  test("keepers is exactly the funnel's n_keep, per source") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val funnel = Curation.funnel(docs, threshold)
      .select("source", "n_keep").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Curation.keepers(docs, threshold)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sources with zero keepers are absent from `kept` — fill with 0
    assert(funnel.keySet.forall(s => kept.getOrElse(s, 0L) == funnel(s)),
      s"funnel=$funnel kept=$kept")
  }

  test("keeper flags are consistent: every keeper passes all four gates") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val flags = Curation.flags(docs, threshold).cache()
    try {
      assert(flags.count() == docs.count(), "one flag row per doc")
      val bad = flags
        .filter(col("lang_keep") && col("quality_keep") && col("exact_keep")
          && col("nd_keep"))
        .join(Curation.keepers(docs, threshold), Seq("doc_id"), "left_anti")
      assert(bad.isEmpty, "keepers must equal the flag conjunction")
    } finally flags.unpersist()
  }

  test("manifest fingerprint is order-independent and flips on any content change") {
    import spark.implicits._
    val docs = Seq((1L, "a", "x y z"), (2L, "a", "p q"), (3L, "b", "m"))
      .toDF("doc_id", "source", "text")
    def xor(df: org.apache.spark.sql.DataFrame) =
      graft.text.Curation.manifest(df).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
    val base = xor(docs)
    assert(xor(docs.repartition(5)) == base, "layout must not matter")
    assert(xor(docs.orderBy(col("doc_id").desc)) == base, "order must not matter")
    val mutated = Seq((1L, "a", "x y z"), (2L, "a", "p q!"), (3L, "b", "m"))
      .toDF("doc_id", "source", "text")
    assert(xor(mutated)("a") != base("a") && xor(mutated)("b") == base("b"))
  }

  test("snapshotDiff reports all four statuses") {
    import spark.implicits._
    val vOld = Seq((1L, "a", "same"), (2L, "a", "will change"), (3L, "a", "will drop"))
      .toDF("doc_id", "source", "text")
    val vNew = Seq((1L, "a", "same"), (2L, "a", "changed!"), (4L, "a", "brand new"))
      .toDF("doc_id", "source", "text")
    val r = graft.text.Curation.snapshotDiff(vOld, vNew).collect().head
    assert(r.getString(0) == "a")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((1L, 1L, 1L, 1L)), "added/removed/changed/unchanged")
  }

  test("materialize writes the kept documents partitioned by source and round-trips") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val out = tmp("curated")
    Curation.materialize(docs, out, threshold)

    // the write is REALLY partitioned by source (hive-style dirs)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("source="))
    assert(dirs.nonEmpty, "expected source= partition directories")

    val back = spark.read.parquet(out)
    val expected = Curation.keepers(docs, threshold).cache()
    try {
      assert(back.count() == expected.count())
      // same id set, and full rows (text survives the round-trip)
      assert(back.join(expected.select("doc_id"), Seq("doc_id"), "left_anti").isEmpty)
      assert(expected.select("doc_id").join(back, Seq("doc_id"), "left_anti").isEmpty)
      val orig = docs.select(col("doc_id"), col("text").as("t0"))
      assert(back.select(col("doc_id"), col("text"))
        .join(orig, "doc_id")
        .filter(col("text") =!= col("t0")).isEmpty, "text must round-trip")
    } finally expected.unpersist()
  }
}
