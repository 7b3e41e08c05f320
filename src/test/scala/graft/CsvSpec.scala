package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{IntegerType, StringType, TimestampNTZType, TimestampType}

import graft.io.Csv

/** `Csv.readInferred` infers a schema once per unchanged input: a
  * repeated read declares the remembered schema, and a changed file or
  * a changed inference conf infers again. */
class CsvSpec extends SparkSuite {

  private def withCsv[A](content: String)(body: String => A): A =
    Scratch.withDir("csv") { dir =>
      val path = s"$dir/data.csv"
      Files.writeString(Paths.get(path), content)
      body(path)
    }

  private def inferring(path: String) = {
    val (df, jobs) = Jobs.during(spark.sparkContext)(Csv.readInferred(spark, path))
    (df, jobs.sites)
  }

  test("reading an unchanged CSV again starts no Spark job") {
    withCsv("a,b\n1,x\n2,y\n") { path =>
      val first = Csv.readInferred(spark, path)
      val (again, sites) = inferring(path)
      assert(sites.isEmpty, s"jobs: $sites")
      assert(again.schema == first.schema)
      assert(again.collect().toSeq == first.collect().toSeq)
    }
  }

  test("rewriting the CSV so a column changes type infers again") {
    withCsv("a,b\n1,x\n2,y\n") { path =>
      assert(Csv.readInferred(spark, path).schema("a").dataType == IntegerType)
      Files.writeString(Paths.get(path), "a,b\n1,x\nthree,y\n")
      val (df, sites) = inferring(path)
      assert(sites.nonEmpty)
      assert(df.schema("a").dataType == StringType)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("1", "three"))
    }
  }

  test("changing a conf that inference reads infers again") {
    withCsv("t,v\n2024-01-02 03:04:05,1\n") { path =>
      val key = "spark.sql.timestampType"
      Session.withConf(spark, key -> "TIMESTAMP_LTZ")(
        assert(Csv.readInferred(spark, path).schema("t").dataType == TimestampType))
      Session.withConf(spark, key -> "TIMESTAMP_NTZ") {
        val (df, sites) = inferring(path)
        assert(sites.nonEmpty)
        assert(df.schema("t").dataType == TimestampNTZType)
      }
    }
  }
}
