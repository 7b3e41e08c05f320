package graft

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** Round-11: SQL DDL through the catalog — CREATE TABLE (+ CTAS,
  * PARTITIONED BY identity and hidden transforms, stats registration
  * via TBLPROPERTIES), ALTER TABLE ADD/RENAME/DROP COLUMN as
  * METADATA-ONLY commits, DROP TABLE, and RENAME TO (directory move +
  * manifest prefix rewrite, zero data I/O). */
class LakeDdlSpec extends SparkSuite {
  import spark.implicits._

  test("CREATE TABLE: empty v1, schema visible, INSERT + SELECT round-trip") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, v STRING, p DOUBLE)")
      assert(Versioned.currentVersion(spark, dir).contains(1L))
      assert(Versioned.history(spark, dir).map(_.operation) == Seq("CREATE"))
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").columns.toSeq ==
        Seq("k", "v", "p"))
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").count() == 0L)
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'a', 1.5D), (2, 'b', 2.5D)")
      assert(spark.sql(s"SELECT * FROM lake.`$dir` ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
      // time travel still sees the empty created table
      assert(spark.sql(s"SELECT * FROM lake.`$dir` VERSION AS OF 1")
        .count() == 0L)
    } finally rm(root)
  }

  test("init with a partition expression on an initialized table is " +
      "refused before it records a layout: SQL INSERT still lands") {
    val root = tmp(); val dir = s"$root/t"
    try {
      Versioned.init(Seq((1L, "a")).toDF("k", "v"), dir)
      intercept[IllegalArgumentException] {
        Versioned.init(Seq((2L, "b")).toDF("k", "v"), dir,
          partitionCol = Some("pmod(k, 4)"))
      }
      assert(Versioned.partitionLayout(spark, dir).isEmpty)
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (3, 'c')")
      assert(spark.sql(s"SELECT k, v FROM lake.`$dir`").as[(Long, String)]
        .collect().toSet == Set((1L, "a"), (3L, "c")))
    } finally rm(root)
  }

  test("CREATE TABLE PARTITIONED BY identity: inserts land under real " +
      "column directories; layout is applied without restating it") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, st STRING, p DOUBLE) " +
        "PARTITIONED BY (st)")
      assert(Versioned.partitionLayout(spark, dir)
        .contains(Versioned.Layout("st", None)))
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'F', 1.0D), " +
        "(2, 'O', 2.0D), (3, 'F', 3.0D)")
      val added = Versioned.files(spark, dir).filterNot(
        Versioned.files(spark, dir, Some(1L)).toSet)
      assert(added.nonEmpty && added.forall(_.contains("/st=")),
        s"expected partition directories, got: $added")
      assert(spark.sql(s"SELECT * FROM lake.`$dir` WHERE st = 'F'")
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      assert(spark.sql(s"SELECT count(*) FROM lake.`$dir`").head().getLong(0)
        == 3L)
    } finally rm(root)
  }

  test("CREATE TABLE PARTITIONED BY bucket(n, c): hidden derived layout, " +
      "SQL schema hides the engine column") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, v STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      assert(Versioned.partitionLayout(spark, dir).flatMap(_.transform)
        .contains("pmod(hash(k), 4)"))
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").columns.toSeq ==
        Seq("k", "v"), "the derived partition column must stay hidden")
      spark.sql(s"INSERT INTO lake.`$dir` " +
        "SELECT id, concat('v', id) FROM range(0, 40)")
      val added = Versioned.files(spark, dir).filterNot(
        Versioned.files(spark, dir, Some(1L)).toSet)
      assert(added.nonEmpty && added.forall(_.contains("/__gpart=")),
        s"expected derived partition directories, got: $added")
      assert(spark.sql(s"SELECT count(*) AS n, sum(k) AS s FROM lake.`$dir`")
        .head() match { case r => r.getLong(0) == 40L && r.getLong(1) == 780L })
      // the engine-side read surfaces the derived column; readHidden drops it
      assert(!Versioned.readHidden(spark, dir).columns.contains("__gpart"))
    } finally rm(root)
  }

  test("CTAS: schema and rows from the query, one CREATE + one append") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` AS " +
        "SELECT id AS k, concat('v', id) AS v FROM range(0, 10)")
      assert(spark.sql(s"SELECT count(*) AS n, sum(k) AS s FROM lake.`$dir`")
        .head() match { case r => r.getLong(0) == 10L && r.getLong(1) == 45L })
      assert(Versioned.history(spark, dir).map(_.operation).head == "CREATE")
    } finally rm(root)
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN are METADATA-ONLY commits: " +
      "the file set never changes") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'a'), (2, 'b')")
      val filesBefore = Versioned.files(spark, dir).toSet
      spark.sql(s"ALTER TABLE lake.`$dir` ADD COLUMN score DOUBLE")
      assert(Versioned.files(spark, dir).toSet == filesBefore,
        "ADD COLUMN must not touch a single data file")
      assert(spark.sql(s"SELECT score FROM lake.`$dir`").collect()
        .forall(_.isNullAt(0)), "carried rows surface NULL for the new column")
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (3, 'c', 9.5D)")
      spark.sql(s"ALTER TABLE lake.`$dir` RENAME COLUMN v TO label")
      assert(Versioned.files(spark, dir).toSet.size == filesBefore.size + 1,
        "RENAME COLUMN must not rewrite data files")
      assert(spark.sql(s"SELECT label FROM lake.`$dir` WHERE k = 3")
        .head().getString(0) == "c")
      spark.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN score")
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").columns.toSeq ==
        Seq("k", "label"))
      // the renamed-away and dropped history stays time-travelable
      assert(spark.sql(s"SELECT v FROM lake.`$dir` VERSION AS OF 2")
        .collect().map(_.getString(0)).toSet == Set("a", "b"))
    } finally rm(root)
  }

  test("DROP TABLE removes the table; IF EXISTS tolerates absence") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT)")
      assert(Versioned.currentVersion(spark, dir).isDefined)
      spark.sql(s"DROP TABLE lake.`$dir`")
      assert(Versioned.currentVersion(spark, dir).isEmpty)
      spark.sql(s"DROP TABLE IF EXISTS lake.`$dir`") // no throw
    } finally rm(root)
  }

  test("RENAME TO: directory move + manifest prefix rewrite — every " +
      "version stays readable at the new path, zero data I/O") {
    val root = tmp(); val a = s"$root/a"; val b = s"$root/b"
    try {
      spark.sql(s"CREATE TABLE lake.`$a` (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (1, 'x')")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (2, 'y')")
      spark.sql(s"ALTER TABLE lake.`$a` RENAME TO lake.`$b`")
      assert(Versioned.currentVersion(spark, a).isEmpty)
      assert(Versioned.currentVersion(spark, b).contains(3L))
      assert(spark.sql(s"SELECT * FROM lake.`$b` ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "x"), (2L, "y")))
      // time travel across the rename: v2 had only the first row
      assert(spark.sql(s"SELECT * FROM lake.`$b` VERSION AS OF 2")
        .collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(Versioned.files(spark, b).forall(_.contains("/b/data/")),
        "manifest entries must reference the NEW root")
    } finally rm(root)
  }

  test("TBLPROPERTIES stats_cols registers data skipping at creation") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, p DOUBLE) " +
        "TBLPROPERTIES ('stats_cols' = 'k,p')")
      assert(Versioned.statsColumns(spark, dir) == Seq("k", "p"))
      spark.sql(s"INSERT INTO lake.`$dir` " +
        "SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
      // stats computed for the appended files → readRange can prune
      val pruned = Versioned.readRange(spark, dir, "k", 10, 20)
      assert(pruned.df.filter(col("k").between(10, 20)).count() == 11L)
    } finally rm(root)
  }

  test("DROP then CREATE at the same path serves the NEW table — " +
      "no stale schema or manifests from JVM-lifetime caches") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, old_col STRING)")
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'gone')")
      // warm both caches through a read
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").count() == 1L)
      spark.sql(s"DROP TABLE lake.`$dir`")
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, fresh DOUBLE)")
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").columns.toSeq ==
        Seq("k", "fresh"), "recreated table must not serve the old schema")
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").count() == 0L,
        "recreated table must not serve the old table's rows")
    } finally rm(root)
  }

  test("RENAME TO invalidates both caches: a table recreated at the " +
      "old path is independent of the moved one") {
    val root = tmp(); val a = s"$root/a"; val b = s"$root/b"
    try {
      spark.sql(s"CREATE TABLE lake.`$a` (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (1, 'moved')")
      assert(spark.sql(s"SELECT * FROM lake.`$a`").count() == 1L) // warm
      spark.sql(s"ALTER TABLE lake.`$a` RENAME TO lake.`$b`")
      spark.sql(s"CREATE TABLE lake.`$a` (id BIGINT, p DOUBLE)")
      assert(spark.sql(s"SELECT * FROM lake.`$a`").columns.toSeq ==
        Seq("id", "p"))
      assert(spark.sql(s"SELECT * FROM lake.`$a`").count() == 0L)
      assert(spark.sql(s"SELECT v FROM lake.`$b`").head().getString(0) ==
        "moved")
    } finally rm(root)
  }

  test("a crashed RENAME resumes: re-running renameTable completes the " +
      "journaled manifest rewrite") {
    val root = tmp(); val a = s"$root/a"; val b = s"$root/b"
    try {
      spark.sql(s"CREATE TABLE lake.`$a` (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (1, 'x')")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (2, 'y')")
      // simulate a crash right after the directory move + journal
      // write, before any manifest rewrite ran
      val hp = new org.apache.hadoop.fs.Path(a)
      val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.rename(hp, new org.apache.hadoop.fs.Path(b)))
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$b/_versions/_rename_from"), true)
      out.write(a.getBytes("UTF-8")); out.close()
      // the re-run resumes and completes
      Versioned.renameTable(spark, a, b)
      assert(spark.sql(s"SELECT * FROM lake.`$b` ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "x"), (2L, "y")))
      assert(Versioned.files(spark, b).forall(_.contains("/b/data/")),
        "resumed rewrite must land the NEW root in every manifest")
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$b/_versions/_rename_from")),
        "journal must be cleared once the rewrite completes")
      // and a rename whose src never existed stays a loud error
      intercept[Exception] { Versioned.renameTable(spark, s"$root/no", b) }
    } finally rm(root)
  }

  test("ALTER refuses to rename or drop the registered partition " +
      "column — the layout would dangle") {
    val root = tmp(); val dir = s"$root/t"
    try {
      spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT, st STRING) " +
        "PARTITIONED BY (st)")
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (1, 'F')")
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      // an identity layout's column cannot be dropped (renaming it is
      // fine: the layout is recorded by physical name)
      val dpi = intercept[Exception] {
        spark.sql(s"ALTER TABLE lake.`$dir` DROP COLUMN st")
      }
      assert(msgs(dpi).exists(_.contains("partition column")), msgs(dpi))
      // a bucket transform guards its source column against both
      val dir2 = s"$root/t2"
      spark.sql(s"CREATE TABLE lake.`$dir2` (k BIGINT, v STRING) " +
        "PARTITIONED BY (bucket(4, k))")
      val rn = intercept[Exception] {
        spark.sql(s"ALTER TABLE lake.`$dir2` RENAME COLUMN k TO k2")
      }
      assert(msgs(rn).exists(_.contains("transform")), msgs(rn))
      val dp = intercept[Exception] {
        spark.sql(s"ALTER TABLE lake.`$dir2` DROP COLUMN k")
      }
      assert(msgs(dp).exists(_.contains("transform")), msgs(dp))
      // both tables still fully writable after the refused ALTERs
      spark.sql(s"INSERT INTO lake.`$dir` VALUES (2, 'O')")
      spark.sql(s"INSERT INTO lake.`$dir2` VALUES (5, 'v5')")
      assert(spark.sql(s"SELECT count(*) FROM lake.`$dir`")
        .head().getLong(0) == 2L)
    } finally rm(root)
  }

  test("a user table with a REAL __gpart column keeps it visible " +
      "through SQL (no transform registered)") {
    val root = tmp(); val dir = s"$root/t"
    try {
      Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("k", "__gpart"), dir)
      assert(spark.sql(s"SELECT * FROM lake.`$dir`").columns.toSeq ==
        Seq("k", "__gpart"))
      assert(spark.sql(s"SELECT __gpart FROM lake.`$dir` WHERE k = 2")
        .head().getString(0) == "b")
    } finally rm(root)
  }

  test("CALL lake.clone: zero-copy shallow clone through SQL — reads " +
      "equal, every file shared by reference, writes stay independent") {
    val root = tmp(); val a = s"$root/a"; val b = s"$root/b"
    try {
      spark.sql(s"CREATE TABLE lake.`$a` (k BIGINT, p DOUBLE)")
      spark.sql(s"INSERT INTO lake.`$a` " +
        "VALUES (1, 1.5D), (2, 2.5D), (3, 3.5D)")
      val r = spark.sql(s"CALL lake.clone('$a', '$b')").head()
      assert(r.getLong(0) == 1L)
      val (nFiles, nShared) = (r.getLong(1), r.getLong(2))
      assert(nFiles > 0L && nShared == nFiles,
        s"shallow clone must share every file: $nFiles vs $nShared")
      assert(spark.sql(s"SELECT sum(k) FROM lake.`$b`").head().getLong(0)
        == 6L)
      // independence: writes to the clone never touch the source
      spark.sql(s"INSERT INTO lake.`$b` VALUES (10, 0.5D)")
      assert(spark.sql(s"SELECT sum(k) FROM lake.`$b`").head().getLong(0)
        == 16L)
      assert(spark.sql(s"SELECT sum(k) FROM lake.`$a`").head().getLong(0)
        == 6L)
    } finally rm(root)
  }

  test("CALL lake.rename_table: directory move through SQL, reads " +
      "follow, time travel intact") {
    val root = tmp(); val a = s"$root/a"; val b = s"$root/b"
    try {
      spark.sql(s"CREATE TABLE lake.`$a` (k BIGINT)")
      spark.sql(s"INSERT INTO lake.`$a` VALUES (1), (2)")
      val r = spark.sql(s"CALL lake.rename_table('$a', '$b')").head()
      assert(r.getBoolean(0) && r.getLong(1) == 2L)
      assert(spark.sql(s"SELECT sum(k) FROM lake.`$b`").head().getLong(0)
        == 3L)
      assert(spark.sql(s"SELECT count(*) FROM lake.`$b` VERSION AS OF 1")
        .head().getLong(0) == 0L)
      assert(Versioned.currentVersion(spark, a).isEmpty)
    } finally rm(root)
  }

  test("unsupported DDL shapes fail loudly, not silently") {
    val root = tmp(); val dir = s"$root/t"
    try {
      intercept[Exception] {
        spark.sql(s"CREATE TABLE lake.`$dir` (a BIGINT, b STRING, ts " +
          "TIMESTAMP) PARTITIONED BY (a, b)") // two transforms
      }
      intercept[Exception] {
        spark.sql(s"CREATE TABLE lake.`$dir` (k BIGINT) " +
          "PARTITIONED BY (bucket(4, nope))") // unknown column
      }
    } finally rm(root)
  }
}
