package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** RESTORE, DESCRIBE HISTORY (commit operation logging), and table
  * CHECK constraints. */
class Wave47Spec extends SparkSuite {
  import spark.implicits._

  test("restore: forward-only commit, content equals target version, " +
      "undone versions stay readable") {
    val dir = tmp("graft_rs")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "p"),
      dir)
    Versioned.merge(Seq((4L, 40.0)).toDF("k", "p"), dir, Seq("k")) // v2
    Versioned.delete(spark, dir, col("k") <= 2L)                   // v3
    val v = Versioned.restore(spark, dir, 1L)                      // v4
    assert(v == 4L)
    val got = Versioned.read(spark, dir).as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // the bad history is still time-travelable
    assert(Versioned.read(spark, dir, Some(3L)).count() == 2L)
    // restore of a restore works (back to the deleted state)
    Versioned.restore(spark, dir, 3L)
    assert(Versioned.read(spark, dir).count() == 2L)
  }

  test("restore carries the target version's deletion vector") {
    val dir = tmp("graft_rsdv")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "p"), dir)
    Versioned.deleteVectored(spark, dir, col("k") === 2L) // v2, DV
    Versioned.compact(spark, dir, targetFiles = 1)        // v3, DV folded
    Versioned.restore(spark, dir, 2L)                     // v4 = v2 incl DV
    assert(Versioned.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (3L, 3.0)))
  }

  test("restore to a nonexistent version fails") {
    val dir = tmp("graft_rsx")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 9L)
    }
    assert(e.getMessage.contains("no such version"))
  }

  test("history records each commit's operation label") {
    val dir = tmp("graft_h")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"), dir)
    Versioned.merge(Seq((3L, 3.0)).toDF("k", "p"), dir, Seq("k"))
    Versioned.mergeInto(Seq((3L, 1.0, "U")).toDF("k", "p", "flag"),
      dir, Seq("k"), updateSet = Map("p" -> col("s.p")),
      updateCond = Some(col("s.flag") === "U"))
    Versioned.updateVectored(spark, dir, col("k") === 1L,
      Map("p" -> lit(9.0)))
    Versioned.deleteVectored(spark, dir, col("k") === 2L)
    Versioned.compact(spark, dir, targetFiles = 1)
    Versioned.delete(spark, dir, col("k") === 99L) // no hits -> still a commit?
    Versioned.restore(spark, dir, 2L)
    val ops = Versioned.history(spark, dir).map(ci => ci.version -> ci.operation)
    assert(ops.take(6) == Seq(1L -> "INIT", 2L -> "MERGE",
      3L -> "MERGE_INTO", 4L -> "UPDATE_VECTORED", 5L -> "DELETE_VECTORED",
      6L -> "COMPACT"))
    assert(ops.last._2 == "RESTORE(v2)")
    assert(Versioned.history(spark, dir).forall(_.nFiles >= 1))
  }

  test("check constraint: violating batch rejected before any version " +
      "moves; clean batch commits; NULL predicate rows pass (SQL)") {
    val dir = tmp("graft_ck")
    Versioned.init(Seq((1L, Option(5.0)), (2L, Option(6.0)))
      .toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    val bad = Seq((3L, Option(-1.0))).toDF("k", "p")
    val e = intercept[Versioned.ConstraintViolation] {
      Versioned.merge(bad, dir, Seq("k"))
    }
    assert(e.getMessage.contains("p_pos"))
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    // NULL evaluates UNKNOWN -> passes (SQL CHECK), and clean rows commit
    Versioned.merge(Seq((4L, Option.empty[Double]), (5L, Option(7.0)))
      .toDF("k", "p"), dir, Seq("k"))
    assert(Versioned.read(spark, dir).count() == 4L)
    // vectored update images are validated too
    intercept[Versioned.ConstraintViolation] {
      Versioned.updateVectored(spark, dir, col("k") === 5L,
        Map("p" -> lit(-3.0)))
    }
    assert(Versioned.currentVersion(spark, dir).contains(2L))
  }

  test("restore refuses to resurrect rows that violate a constraint " +
      "added after the target version") {
    val dir = tmp("graft_ckr")
    Versioned.init(Seq((1L, -5.0), (2L, 2.0)).toDF("k", "p"), dir)
    Versioned.delete(spark, dir, col("p") < 0)            // v2 clean
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0") // validates v2
    intercept[Versioned.ConstraintViolation] {
      Versioned.restore(spark, dir, 1L)
    }
    assert(Versioned.currentVersion(spark, dir).contains(2L))
  }

  test("merge under additive evolution passes a constraint on a " +
      "column the batch lacks (NULL passes, no analysis failure)") {
    val dir = tmp("graft_cke")
    Versioned.init(Seq((1L, 1.0, "x")).toDF("k", "p", "note"), dir)
    Versioned.addConstraint(spark, dir, "note_len", "length(note) < 10")
    Versioned.merge(Seq(2L -> 2.0).toDF("k", "p"), dir, Seq("k"),
      evolveSchema = true)
    assert(Versioned.read(spark, dir).count() == 2L)
  }

  test("addConstraint validates the existing snapshot; drop re-opens; " +
      "clone carries constraints") {
    val dir = tmp("graft_ck2")
    Versioned.init(Seq((1L, 5.0), (2L, -6.0)).toDF("k", "p"), dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    }
    assert(e.getMessage.contains("existing rows violate"))
    Versioned.addConstraint(spark, dir, "k_pos", "k > 0")
    assert(Versioned.constraints(spark, dir) == Seq("k_pos" -> "k > 0"))
    // clone carries the constraint
    val dst = tmp("graft_ck2c") + "/t"
    Versioned.clone(spark, dir, dst)
    intercept[Versioned.ConstraintViolation] {
      Versioned.merge(Seq((-9L, 1.0)).toDF("k", "p"), dst, Seq("k"))
    }
    // dropping re-opens the gate (on the clone only)
    Versioned.dropConstraint(spark, dst, "k_pos")
    Versioned.merge(Seq((-9L, 1.0)).toDF("k", "p"), dst, Seq("k"))
    assert(Versioned.read(spark, dst).count() == 3L)
    assert(Versioned.constraints(spark, dir) == Seq("k_pos" -> "k > 0"))
  }
}
