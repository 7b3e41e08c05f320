package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** Column mapping: RENAME COLUMN without rewriting a single file. */
class Wave52Spec extends SparkSuite {
  import spark.implicits._

  test("rename is metadata-only: same manifest, new logical name, " +
      "old versions still read the old name") {
    val dir = tmp("graft_rn")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), dir)
    val v1Files = Versioned.files(spark, dir, Some(1L)).toSet
    val v = Versioned.renameColumn(spark, dir, "price", "amount")
    assert(v == 2L)
    assert(Versioned.files(spark, dir, Some(2L)).toSet == v1Files)
    val cur = Versioned.read(spark, dir)
    assert(cur.columns.toSeq == Seq("k", "amount"))
    assert(cur.as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))
    assert(Versioned.read(spark, dir, Some(1L)).columns.toSeq ==
      Seq("k", "price"))
    assert(Versioned.history(spark, dir).last.operation ==
      "RENAME_COLUMN(price->amount)")
  }

  test("writes after a rename stage under the physical name: merge, " +
      "delete, vectored update, compact all round-trip") {
    val dir = tmp("graft_rnw")
    Versioned.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), dir)
    Versioned.renameColumn(spark, dir, "price", "amount")
    Versioned.merge(Seq((2L, 22.0), (3L, 30.0)).toDF("k", "amount"),
      dir, Seq("k"))
    assert(Versioned.read(spark, dir).as[(Long, Double)].collect()
      .toSet == Set((1L, 10.0), (2L, 22.0), (3L, 30.0)))
    Versioned.updateVectored(spark, dir, col("k") === 1L,
      Map("amount" -> lit(11.0)))
    Versioned.delete(spark, dir, col("amount") > 25.0)
    Versioned.compact(spark, dir, targetFiles = 1)
    val got = Versioned.read(spark, dir).as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 11.0), (2L, 22.0)))
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("k", "amount"))
    // chained rename survives the full history of layouts
    Versioned.renameColumn(spark, dir, "amount", "total")
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("k", "total"))
    assert(Versioned.read(spark, dir).agg(sum(col("total"))).head()
      .getDouble(0) == 33.0)
  }

  test("renaming the PARTITION column keeps partition-scoped merges " +
      "partition-scoped (directories keep the physical name)") {
    val dir = tmp("graft_rnp")
    Versioned.init(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("k", "pc", "p"), dir, partitionCol = Some("pc"))
    Versioned.renameColumn(spark, dir, "pc", "bucket")
    val v2Files = Versioned.files(spark, dir, Some(2L))
    Versioned.merge(Seq((3L, "a", 9.0)).toDF("k", "bucket", "p"),
      dir, Seq("k"))
    val v3Files = Versioned.files(spark, dir, Some(3L)).toSet
    // the untouched physical pc=b directory carried by reference
    val untouched = v2Files.filter(_.contains("/pc=b/"))
    assert(untouched.nonEmpty && untouched.forall(v3Files.contains))
    assert(v2Files.filter(_.contains("/pc=a/"))
      .forall(!v3Files.contains(_)))
    val got = Versioned.read(spark, dir)
      .select("k", "bucket", "p").as[(Long, String, Double)]
      .collect().toSet
    assert(got == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 9.0)))
  }

  test("manifest stats survive a rename: readRange prunes under the " +
      "new name (stats keys are physical)") {
    val dir = tmp("graft_rns")
    val base = spark.range(1000L)
      .select(col("id").as("k"), (col("id") % 100L).as("c"),
        (col("id") * 2L).cast("double").as("p"))
    Versioned.init(base.repartitionByRange(8, col("k")), dir,
      statsCols = Seq("k"))
    Versioned.renameColumn(spark, dir, "k", "key")
    val pr = Versioned.readRange(spark, dir, "key", 0d, 100d)
    assert(pr.filesRead < pr.filesTotal, s"read ${pr.filesRead}")
    assert(pr.df.filter(col("key") <= 100L).count() == 101L)
  }

  test("rename guards: taken name, constraint/generated references, " +
      "evolution cannot shadow a retired physical name") {
    val dir = tmp("graft_rng")
    Versioned.init(Seq((1L, 1.0, 2.0)).toDF("k", "p", "q"), dir)
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "p", "q")
    }
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    val e = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "p", "price")
    }
    assert(e.getMessage.contains("rename blocked"))
    Versioned.dropConstraint(spark, dir, "p_pos")
    Versioned.renameColumn(spark, dir, "p", "price")
    // evolve-appending a column named like price's PHYSICAL name maps
    // it to a FRESH physical name: old files must NOT resurface
    // price's bytes under the new column
    Versioned.merge(Seq((2L, 1.0, 2.0, 9.0)).toDF("k", "price", "q", "p"),
      dir, Seq("k"), evolveSchema = true)
    val rows = Versioned.read(spark, dir)
      .select("k", "price", "p")
      .as[(Long, Double, Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(rows(1L) == ((1.0, None)))          // carried row: new p NULL
    assert(rows(2L) == ((1.0, Some(9.0))))     // inserted row: its own p
  }

  test("dropColumn is metadata-only, survives time travel, and a " +
      "re-added name cannot resurrect the dead bytes") {
    val dir = tmp("graft_dc")
    Versioned.init(Seq((1L, 10.0, "x"), (2L, 20.0, "y"))
      .toDF("k", "p", "note"), dir)
    val v1Files = Versioned.files(spark, dir, Some(1L)).toSet
    val v = Versioned.dropColumn(spark, dir, "note")
    assert(v == 2L)
    assert(Versioned.files(spark, dir, Some(2L)).toSet == v1Files)
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("k", "p"))
    assert(Versioned.read(spark, dir, Some(1L)).columns.contains("note"))
    // re-adding 'note' via evolution: fresh physical, old bytes dead
    Versioned.merge(Seq((3L, 30.0, "z")).toDF("k", "p", "note"),
      dir, Seq("k"), evolveSchema = true)
    val got = Versioned.read(spark, dir)
      .select("k", "note").as[(Long, Option[String])].collect().toMap
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).contains("z"))
    assert(Versioned.history(spark, dir)
      .map(_.operation).contains("DROP_COLUMN(note)"))
  }

  test("review hardening: partition column cannot be dropped; " +
      "case-variant names are duplicates; case-variant constraint " +
      "references block a rename; stats lookups reject unknown names") {
    val dir = tmp("graft_rh")
    Versioned.init(Seq((1L, "a", 1.0)).toDF("k", "pc", "p"), dir,
      partitionCol = Some("pc"))
    val e = intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "pc")
    }
    assert(e.getMessage.contains("partition column"))
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "p", "K")
    }
    intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir, "P",
        org.apache.spark.sql.types.DoubleType)
    }
    // a constraint written with a case-variant identifier still
    // references the column — rename must block
    Versioned.addConstraint(spark, dir, "cap", "P < 1000")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "p", "price")
    }
    assert(e2.getMessage.contains("rename blocked"))
    // stats lookup under a renamed-away name errors, not answers
    val dir2 = tmp("graft_rh2")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p")
      .repartition(2), dir2, statsCols = Seq("k"))
    Versioned.renameColumn(spark, dir2, "k", "key")
    intercept[RuntimeException] {
      Versioned.readRange(spark, dir2, "k", 0d, 10d)
    }
  }

  test("export refuses tables with ANY mapping history (dropped or " +
      "renamed-then-reverted columns)") {
    val dir = tmp("graft_rhx")
    Versioned.init(Seq((1L, 1.0, "x")).toDF("k", "p", "note"), dir)
    Versioned.dropColumn(spark, dir, "note")
    val e = intercept[IllegalArgumentException] {
      graft.io.ExternalLog.export(spark, dir)
    }
    assert(e.getMessage.contains("column mapping"))
  }

  test("dropColumn guards: referenced by constraint, last column") {
    val dir = tmp("graft_dcg")
    Versioned.init(Seq((1L, 1.0)).toDF("k", "p"), dir)
    Versioned.addConstraint(spark, dir, "p_pos", "p > 0")
    val e = intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "p")
    }
    assert(e.getMessage.contains("drop blocked"))
    Versioned.dropConstraint(spark, dir, "p_pos")
    Versioned.dropColumn(spark, dir, "p")
    intercept[IllegalArgumentException] {
      Versioned.dropColumn(spark, dir, "k")
    }
  }

  test("addColumn is metadata-only: carried files read NULL, writes " +
      "carry it, a retired name gets a fresh physical") {
    val dir = tmp("graft_ac")
    Versioned.init(Seq((1L, 1.0, "x")).toDF("k", "p", "gone"), dir)
    Versioned.dropColumn(spark, dir, "gone")
    val v2Files = Versioned.files(spark, dir, Some(2L)).toSet
    Versioned.addColumn(spark, dir,
      "note", org.apache.spark.sql.types.StringType)
    assert(Versioned.files(spark, dir, Some(3L)).toSet == v2Files)
    assert(Versioned.read(spark, dir).columns.toSeq ==
      Seq("k", "p", "note"))
    assert(Versioned.read(spark, dir).select("note")
      .as[Option[String]].head().isEmpty)
    // re-adding the retired name maps to a fresh physical: dead stays dead
    Versioned.addColumn(spark, dir,
      "gone", org.apache.spark.sql.types.StringType)
    assert(Versioned.read(spark, dir).select("gone")
      .as[Option[String]].head().isEmpty)
    // strict merge now requires all four columns and round-trips
    Versioned.merge(Seq((2L, 2.0, "n2", "g2"))
      .toDF("k", "p", "note", "gone"), dir, Seq("k"))
    val got = Versioned.read(spark, dir)
      .select("k", "note", "gone")
      .as[(Long, Option[String], Option[String])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(1L) == ((None, None)) && got(2L) == ((Some("n2"), Some("g2"))))
    intercept[IllegalArgumentException] {
      Versioned.addColumn(spark, dir,
        "note", org.apache.spark.sql.types.StringType)
    }
  }

  test("deletion vectors, clone, and CDC feeds work across a rename") {
    val dir = tmp("graft_rnd")
    Versioned.init(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "p"),
      dir)
    Versioned.deleteVectored(spark, dir, col("k") === 2L)
    Versioned.renameColumn(spark, dir, "p", "v")   // v3
    assert(Versioned.read(spark, dir).as[(Long, Double)].collect()
      .toSet == Set((1L, 1.0), (3L, 3.0)))
    // a pure rename yields an EMPTY change feed (no files changed)
    assert(Versioned.changes(spark, dir, 2L, 3L).df.count() == 0L)
    // a post-rename merge diffs against a pre-rename version by
    // PHYSICAL identity: the renamed column lines up, not drop+add
    Versioned.merge(Seq((4L, 4.0)).toDF("k", "v"), dir, Seq("k")) // v4
    val feed = Versioned.changes(spark, dir, 2L, 4L).df
    assert(feed.columns.contains("v"))
    assert(feed.filter(col("op") === "I").select("k", "v")
      .as[(Long, Double)].collect().toSet == Set(4L -> 4.0))
    val dst = tmp("graft_rndc") + "/t"
    Versioned.clone(spark, dir, dst)
    assert(Versioned.read(spark, dst).columns.toSeq == Seq("k", "v"))
    assert(Versioned.read(spark, dst).count() == 3L)
  }
}
