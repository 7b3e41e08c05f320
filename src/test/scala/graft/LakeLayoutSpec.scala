package graft

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** One partition layout per lake table: the layout `init` records is
  * the only source of partitioning. No writer restates it, every write
  * keeps the table's files under its partition directories, and a
  * partition drop removes every row of the dropped value. */
class LakeLayoutSpec extends SparkSuite {
  import spark.implicits._

  /** (k, st, p), two rows per `st` value, partitioned by `st`. */
  private def table(): String = {
    val dir = tmp("graft_lay")
    Versioned.init(Seq((1L, "F", 1.0), (2L, "F", 2.0), (3L, "O", 3.0),
      (4L, "O", 4.0)).toDF("k", "st", "p"), dir, partitionCol = Some("st"))
    dir
  }

  private def flat(dir: String): Seq[String] =
    Versioned.files(spark, dir).filterNot(_.contains("/st="))

  private def rowsOf(dir: String, st: String, c: String = "st"): Long =
    Versioned.read(spark, dir).filter(col(c) === st).count()

  /** After `write`, every file of the table sits under `st=` and
    * dropping partition F leaves none of its rows. */
  private def keepsLayout(write: String => Unit): Unit = {
    val dir = table()
    write(dir)
    assert(flat(dir).isEmpty, s"flat files after the write: ${flat(dir)}")
    Versioned.dropPartitions(spark, dir, "st", Seq("F"))
    assert(rowsOf(dir, "F") == 0L)
  }

  test("SQL INSERT stages under the layout init recorded") {
    keepsLayout(dir =>
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (6, 'F', 6.0D)"))
  }

  test("append stages under the recorded layout") {
    keepsLayout(dir =>
      Versioned.append(Seq((6L, "F", 6.0)).toDF("k", "st", "p"), dir))
  }

  test("updateVectored stages its images under the recorded layout") {
    keepsLayout(dir => Versioned.updateVectored(spark, dir,
      col("k") === 1L, Map("p" -> lit(9.0))))
  }

  test("merge is partition-scoped under the recorded layout") {
    keepsLayout { dir =>
      val untouched = Versioned.files(spark, dir).filter(_.contains("/st=O/"))
      Versioned.merge(Seq((1L, "F", 9.0)).toDF("k", "st", "p"), dir, Seq("k"))
      assert(untouched.nonEmpty &&
        untouched.forall(Versioned.files(spark, dir).contains))
    }
  }

  test("merge replaces a key that lives in another partition: the " +
      "moved row is read back once") {
    keepsLayout { dir =>
      Versioned.merge(Seq((1L, "O", 9.0)).toDF("k", "st", "p"), dir, Seq("k"))
      assert(Versioned.read(spark, dir).filter(col("k") === 1L)
        .select("st", "p").as[(String, Double)].collect().toSeq ==
        Seq(("O", 9.0)))
    }
  }

  test("mergeInto UPDATE images that change the partition column move " +
      "the row, no duplicate left") {
    keepsLayout { dir =>
      Versioned.mergeInto(Seq((2L, "O")).toDF("k", "to"), dir, Seq("k"),
        updateSet = Map("st" -> col("s.to")), insertCond = Some(lit(false)))
      assert(Versioned.read(spark, dir).filter(col("k") === 2L)
        .select("st").as[String].collect().toSeq == Seq("O"))
    }
  }

  test("delete rewrites its hit files under the recorded layout") {
    keepsLayout(dir => Versioned.delete(spark, dir, col("k") === 3L))
  }

  test("mergeInto's DELETE images scope the rewrite to the matched " +
      "row's partition") {
    keepsLayout { dir =>
      val m = Versioned.mergeInto(Seq((3L, "D")).toDF("k", "flag"), dir,
        Seq("k"), updateSet = Map.empty,
        deleteCond = Some(col("s.flag") === "D"),
        insertCond = Some(lit(false)))
      assert(m.deleted == 1L)
      assert(Versioned.read(spark, dir).filter(col("k") === 3L).count() == 0L)
    }
  }

  test("compact without a layout argument keeps the recorded layout") {
    keepsLayout { dir =>
      Versioned.append(Seq((6L, "F", 6.0)).toDF("k", "st", "p"), dir)
      Versioned.compact(spark, dir, targetFiles = 1)
      assert(Versioned.files(spark, dir).size == 2)
    }
  }

  test("compactSmall keeps the recorded layout") {
    keepsLayout { dir =>
      Versioned.append(Seq((6L, "F", 6.0)).toDF("k", "st", "p"), dir)
      Versioned.compactSmall(spark, dir, minBytes = Long.MaxValue,
        targetFiles = 1)
    }
  }

  test("a clone of an init-partitioned table keeps its layout for SQL " +
      "INSERT") {
    val dir = tmp("graft_lay_clone") + "/t"
    Versioned.clone(spark, table(), dir)
    spark.sql(s"INSERT INTO lake.`$dir` VALUES (6, 'F', 6.0D)")
    assert(flat(dir).isEmpty, s"flat files after the insert: ${flat(dir)}")
    assert(rowsOf(dir, "F") == 3L)
  }

  test("dropPartitions also deletes the dropped value's rows that sit " +
      "in flat files (SQL UPDATE images)") {
    val dir = table()
    spark.sql(s"UPDATE lake.`$dir` SET p = 9.0 WHERE k = 1")
    val r = Versioned.dropPartitions(spark, dir, "st", Seq("F"))
    assert(Versioned.read(spark, dir).select("k").as[Long].collect().toSet ==
      Set(3L, 4L))
    assert(r.vectoredRows == 1L)
  }

  test("dropPartitions and compactPartitions refuse a column that is " +
      "not the table's layout") {
    val dir = table()
    intercept[IllegalArgumentException](
      Versioned.dropPartitions(spark, dir, "k", Seq("1")))
    intercept[IllegalArgumentException](
      Versioned.compactPartitions(spark, dir, "p", Seq("1.0"), 1))
    val flatDir = tmp("graft_lay_flat")
    Versioned.init(Seq((1L, "F")).toDF("k", "st"), flatDir)
    intercept[IllegalArgumentException](
      Versioned.dropPartitions(spark, flatDir, "st", Seq("F")))
    assert(Versioned.read(spark, flatDir).count() == 1L)
  }

  test("an identity layout survives renaming its column: writes still " +
      "land under the physical directory, the drop takes the new name") {
    val root = tmp("graft_lay_ren")
    val dir = s"$root/t"
    spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, st STRING, p DOUBLE) " +
      "PARTITIONED BY (st)")
    spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'F', 1.0D), " +
      "(3, 'O', 3.0D)")
    spark.sql(s"ALTER TABLE lake.`$dir` RENAME COLUMN st TO status")
    spark.sql(s"INSERT INTO lake.`$dir` VALUES (2, 'F', 2.0D)")
    Versioned.merge(Seq((4L, "O", 4.0)).toDF("k", "status", "p"), dir,
      Seq("k"))
    assert(flat(dir).isEmpty, s"flat files after the writes: ${flat(dir)}")
    Versioned.dropPartitions(spark, dir, "status", Seq("F"))
    assert(rowsOf(dir, "F", "status") == 0L && rowsOf(dir, "O", "status") == 2L)
  }

  test("a hidden layout re-derives its column for updated rows") {
    val dir = tmp("graft_lay_hid")
    Versioned.init((1L to 40L).map(i => (i, i, s"v$i")).toDF("k", "c", "v"),
      dir, partitionCol = Some("c div 10"))
    Versioned.updateVectored(spark, dir, col("k") === 1L,
      Map("c" -> lit(35L)))
    val added = Versioned.files(spark, dir)
      .filterNot(Versioned.files(spark, dir, Some(1L)).toSet)
    assert(added.nonEmpty && added.forall(_.contains("/__gpart=3/")),
      s"the updated row must move to bucket 3: $added")
    // a merge scoped to bucket 3 now replaces it, no duplicate left
    Versioned.merge(Seq((1L, 36L, "NEW")).toDF("k", "c", "v"), dir, Seq("k"))
    assert(Versioned.readHidden(spark, dir).filter(col("k") === 1L)
      .select("c", "v").as[(Long, String)].collect().toSeq ==
      Seq((36L, "NEW")))
  }
}
