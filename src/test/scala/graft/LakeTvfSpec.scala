package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftExtensions
import graft.ops.Versioned

/** `lake_changes(path, from, to)` — CDC as a SQL table function. */
class LakeTvfSpec extends SparkSuite {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("lake_changes equals Versioned.changes row for row") {
    val dir = tmp("graft_tvf")
    try {
      Versioned.init((1L to 30L).map(k => (k, k.toDouble))
        .toDF("k", "p").repartition(3), dir)
      // v2: update k<=5 (+100), delete multiples of 10, insert 31..33
      val batch = (1L to 5L).map(k => (k, k + 100.0, false)) ++
        Seq(10L, 20L, 30L).map(k => (k, k.toDouble, true)) ++
        (31L to 33L).map(k => (k, k.toDouble, false))
      Versioned.merge(batch.toDF("k", "p", "is_delete"), dir, Seq("k"),
        deleteCol = Some("is_delete"))
      val viaSql = spark.sql(
        s"SELECT op, k, p FROM lake_changes('$dir', 1, 2)")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      val viaApi = Versioned.changes(spark, dir, 1L, 2L).df
        .select(col("op"), col("k"), col("p"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(viaSql == viaApi)
      assert(viaSql.nonEmpty)
      // the feed itself: deletes carry old rows, inserts new ones
      val dels = viaSql.filter(_._1 == "D").map(_._2).toSet
      val ins = viaSql.filter(_._1 == "I").map(_._2).toSet
      assert(Set(10L, 20L, 30L).subsetOf(dels))
      assert(Set(31L, 32L, 33L).subsetOf(ins))
      assert((1L to 5L).forall(k => dels.contains(k) && ins.contains(k)))
    } finally rm(dir)
  }

  test("lake_changes joins like any table expression") {
    val dir = tmp("graft_tvf2")
    try {
      Versioned.init((1L to 10L).map(k => (k, k.toDouble))
        .toDF("k", "p"), dir)
      Versioned.merge(Seq((11L, 11.0, false)).toDF("k", "p", "is_delete"),
        dir, Seq("k"), deleteCol = Some("is_delete"))
      val n = spark.sql(
        s"""SELECT count(*) AS n
           |FROM lake_changes('$dir', 1, 2) c
           |JOIN (SELECT 11 AS k) j ON c.k = j.k""".stripMargin)
        .head().getLong(0)
      assert(n == 1L)
    } finally rm(dir)
  }

  test("non-literal and wrong-arity arguments fail clearly") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM lake_changes('/nope', 1)")
    }
    assert(msgs(e1).exists(_.contains("lake_changes")))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM lake_changes(rand()::string, 1, 2)")
    }
    assert(msgs(e2).exists(_.contains("lake_changes")))
  }
}
