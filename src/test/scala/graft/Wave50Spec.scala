package graft

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Generated columns: computed when omitted, vetoed when wrong. */
class Wave50Spec extends SparkSuite {
  import spark.implicits._

  test("merge computes an omitted generated column (including the " +
      "partition key) and keeps the merge partition-scoped") {
    val dir = tmp("graft_gen")
    Versioned.init(Seq((1L, 10L, 1.0), (2L, 110L, 2.0), (3L, 210L, 3.0))
      .toDF("k", "c", "p").withColumn("b", expr("c div 100")),
      dir, partitionCol = Some("b"))
    Versioned.addGeneratedColumn(spark, dir, "b", "c div 100")
    val v1 = Versioned.files(spark, dir, Some(1L))
    // batch omits b; touches only c=110 -> bucket 1
    Versioned.merge(Seq((2L, 110L, 9.0)).toDF("k", "c", "p"),
      dir, Seq("k"))
    val v2 = Versioned.files(spark, dir, Some(2L)).toSet
    assert(v1.filterNot(_.contains("/b=1/")).forall(v2.contains),
      "untouched buckets must carry by reference")
    val got = Versioned.read(spark, dir)
      .select("k", "b", "p").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 0L, 1.0), (2L, 1L, 9.0), (3L, 2L, 3.0)))
  }

  test("a supplied generated value that disagrees is rejected; an " +
      "agreeing one passes; delete-flagged key-only rows are exempt") {
    val dir = tmp("graft_gen2")
    Versioned.init(Seq((1L, 10L, 1.0)).toDF("k", "c", "p")
      .withColumn("b", expr("c div 100")), dir)
    Versioned.addGeneratedColumn(spark, dir, "b", "c div 100")
    intercept[Versioned.ConstraintViolation] {
      Versioned.merge(Seq((2L, 10L, 2.0, 7L)).toDF("k", "c", "p", "b"),
        dir, Seq("k"))
    }
    Versioned.merge(Seq((2L, 250L, 2.0, 2L)).toDF("k", "c", "p", "b"),
      dir, Seq("k"))
    assert(Versioned.read(spark, dir).count() == 2L)
    // mergeInto delete images are exempt from the generated-column
    // check (they carry the matched target row and are never inserted)
    val stats = Versioned.mergeInto(
      Seq((2L, "D")).toDF("k", "flag"), dir, Seq("k"),
      updateSet = Map.empty, updateCond = Some(lit(false)),
      deleteCond = Some(col("s.flag") === "D"))
    assert(stats.deleted == 1L)
    assert(Versioned.read(spark, dir).count() == 1L)
  }

  test("addGeneratedColumn validates the existing snapshot; clone " +
      "carries the declaration; drop makes it a plain column") {
    val dir = tmp("graft_gen3")
    Versioned.init(Seq((1L, 10L, 100L)).toDF("k", "c", "b"), dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.addGeneratedColumn(spark, dir, "b", "c div 100")
    }
    assert(e.getMessage.contains("existing rows disagree"))
    intercept[IllegalArgumentException] {
      Versioned.addGeneratedColumn(spark, dir, "nope", "c div 100")
    }
    Versioned.addGeneratedColumn(spark, dir, "b", "c * 10")
    val dst = tmp("graft_gen3c") + "/t"
    Versioned.clone(spark, dir, dst)
    assert(Versioned.generatedColumns(spark, dst) ==
      Seq("b" -> "c * 10"))
    // omitted on the clone -> computed there
    Versioned.merge(Seq((2L, 3L)).toDF("k", "c"), dst, Seq("k"))
    assert(Versioned.read(spark, dst).filter(col("k") === 2L)
      .select("b").as[Long].head() == 30L)
    Versioned.dropGeneratedColumn(spark, dst, "b")
    Versioned.merge(Seq((3L, 1L, 777L)).toDF("k", "c", "b"), dst,
      Seq("k"))
    assert(Versioned.read(spark, dst).filter(col("k") === 3L)
      .select("b").as[Long].head() == 777L)
  }
}
