package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{Csv, Dfs, Tables}
import graft.ops.Validation

class DfsValidationSpec extends SparkSuite {
  import spark.implicits._

  test("Dfs put/exists/get/delete roundtrip (FileSystem API, no subprocess)") {
    val dir = tmp("dfs")
    val src = s"$dir/src.txt"
    Files.writeString(java.nio.file.Paths.get(src), "hello")
    val dest = s"$dir/nested/deep/dest.txt"
    assert(!Dfs.exists(spark, dest))
    Dfs.put(spark, src, dest)
    assert(Dfs.exists(spark, dest)) // parents auto-created (mkdir -p)
    Dfs.put(spark, src, dest)       // idempotent -f overwrite
    val back = s"$dir/back.txt"
    Dfs.get(spark, dest, back)
    assert(Files.readString(java.nio.file.Paths.get(back)) == "hello")
    assert(Dfs.deleteRecursive(spark, s"$dir/nested"))
    assert(!Dfs.exists(spark, dest))
  }

  test("flattenSinglePart moves the lone part file and removes the dir (ref K2)") {
    val dir = tmp("flat")
    val sink = s"$dir/daily_returns_sink"
    Csv.writeSingle(Tables.load(spark, sf("sf0.001"), "region"), sink)
    val dest = s"$dir/daily_returns.csv"
    Dfs.flattenSinglePart(spark, sink, dest)
    assert(Dfs.exists(spark, dest))
    assert(!Dfs.exists(spark, sink))
    val lines = Files.readAllLines(java.nio.file.Paths.get(dest))
    assert(lines.get(0) == "r_regionkey,r_name")
    assert(lines.size() == 6) // header + 5 regions
  }

  test("flattenSinglePart refuses multi-part sinks (ref app.py:479-480)") {
    val dir = tmp("flat2")
    val sink = s"$dir/multi"
    Csv.write(Tables.load(spark, sf("sf0.001"), "lineitem").repartition(3), sink)
    intercept[IllegalArgumentException] {
      Dfs.flattenSinglePart(spark, sink, s"$dir/out.csv")
    }
  }

  test("driver-side job-request validation mirrors reference semantics") {
    assert(Validation.validateJobRequest("2024-09-15", "2024-09-20",
      "user@example.com").isEmpty)
    assert(Validation.validateJobRequest("15/09/2024", "2024-09-20",
      "user@example.com").exists(_.contains("initial_date")))
    assert(Validation.validateJobRequest("2024-09-21", "2024-09-20",
      "user@example.com").exists(_.contains("after")))
    assert(Validation.validateJobRequest("2024-09-15", "2024-09-20",
      "not-an-email").exists(_.contains("email")))
  }

  test("in-engine validity flags filter malformed rows instead of failing") {
    val df = Seq("2024-01-31", "2024-02-30", "garbage", "1999-12-01")
      .toDF("d")
    val valid = df.filter(Validation.isValidDateCol(col("d")))
      .collect().map(_.getString(0)).toSet
    assert(valid == Set("2024-01-31", "1999-12-01")) // Feb 30 rejected
    val emails = Seq("a@b.co", "bad@@x", "x_y+z@mail-host.org")
      .toDF("e").filter(Validation.isValidEmailCol(col("e")))
      .collect().map(_.getString(0)).toSet
    assert(emails == Set("a@b.co", "x_y+z@mail-host.org"))
  }
}
