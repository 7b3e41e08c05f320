package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** mergeExpect: drop / quarantine policies over CHECK constraints. */
class Wave51Spec extends SparkSuite {
  import spark.implicits._

  test("mergeExpect drops violations when no quarantine is given and " +
      "commits the clean remainder") {
    val dir = tmp("graft_me")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    val stats = Versioned.mergeExpect(
      Seq((2L, 2.0), (3L, -3.0)).toDF("k", "p"), dir, Seq("k"))
    assert(stats.merged == 1L && stats.diverted == 1L)
    assert(Versioned.read(spark, dir).select("k").as[Long].collect()
      .toSet == Set(1L, 2L))
  }

  test("mergeExpect quarantines violations with the failing " +
      "constraint's name; all-bad batch commits nothing to main") {
    val dir = tmp("graft_mq")
    val qdir = tmp("graft_mqq") + "/q"
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    Versioned.addConstraint(spark, dir, "p_cap", "p < 100")
    val v0 = Versioned.currentVersion(spark, dir).get
    val stats = Versioned.mergeExpect(
      Seq((2L, -2.0), (3L, 300.0)).toDF("k", "p"), dir, Seq("k"),
      quarantine = Some(qdir))
    assert(stats.merged == 0L && stats.diverted == 2L)
    assert(Versioned.currentVersion(spark, dir).contains(v0))
    val q = Versioned.read(spark, qdir)
      .select("k", "violated").as[(Long, String)].collect().toSet
    assert(q == Set(2L -> "p_pos", 3L -> "p_cap"))
    // a second batch's violations UPSERT into the same quarantine
    Versioned.mergeExpect(Seq((4L, -4.0)).toDF("k", "p"), dir,
      Seq("k"), quarantine = Some(qdir))
    assert(Versioned.read(spark, qdir).count() == 3L)
  }

  test("mergeExpect passes delete-flagged rows through unchecked") {
    val dir = tmp("graft_md")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    val batch = Seq((1L, Option.empty[Double], true),
      (3L, Option(3.0), false)).toDF("k", "p", "del")
    val stats = Versioned.mergeExpect(batch, dir, Seq("k"),
      deleteCol = Some("del"))
    assert(stats.diverted == 0L)
    assert(Versioned.read(spark, dir).select("k").as[Long].collect()
      .toSet == Set(2L, 3L))
  }
}
