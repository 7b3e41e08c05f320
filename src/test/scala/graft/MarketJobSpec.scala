package graft

import java.nio.file.{Files, Paths}


import graft.io.Csv
import graft.jobs.MarketJob
import graft.ops.MarketPipeline

/** End-to-end reference-job parity: the golden fixture through the
  * program surface (read CSV → pipeline → two single-part CSV sinks with
  * the reference's directory layout). */
class MarketJobSpec extends SparkSuite {

  private val fixture =
    """Date,DOLAR,S&P500
      |2024-09-13,5.55,5626.02
      |2024-09-16,5.54,5633.09
      |2024-09-17,0,5634.58
      |2024-09-18,5.46,5618.26
      |""".stripMargin

  private def withMarket[A](body: (String, String) => A): A =
    Scratch.withDir("job") { dir =>
      val csv = s"$dir/market_data.csv"
      Files.writeString(Paths.get(csv), fixture)
      body(dir, csv)
    }

  private def singlePart(p: String): java.io.File = {
    val parts = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part") && f.getName.endsWith(".csv"))
    assert(parts.length == 1, s"$p should hold exactly one part file")
    parts.head
  }

  private def lines(p: String): Seq[String] =
    Files.readAllLines(singlePart(p).toPath).toArray(Array.empty[String]).toSeq

  /** `average_daily_return` as the pipeline's own aggregate writes it. */
  private def aggregated(csv: String, from: String, to: String, out: String): Seq[String] = {
    val market = Csv.readInferred(spark, csv)
    val rets = MarketPipeline.dailyReturns(market, from, to)
    Csv.writeSingle(MarketPipeline.averageDailyReturn(rets,
      MarketPipeline.assetColumns(market)), out)
    lines(out)
  }

  test("MarketJob writes the reference's two outputs for the golden fixture") {
    withMarket { (dir, csv) =>
      MarketJob.run(spark, "2024-09-13", "2024-09-18", "job42", csv, s"$dir/out")

      val daily = lines(s"$dir/out/job42/daily_returns")
      assert(daily.head == "Date,DOLAR,S&P500,DOLAR_Retorno,S&P500_Retorno")
      assert(daily.size == 5) // header + 4 days

      val avg = lines(s"$dir/out/job42/average_daily_return")
      assert(avg.head == "Media_DOLAR_Retorno,Media_SP500_Retorno")
      val Array(dolar, sp) = avg(1).split(",").map(_.toDouble)
      assert(math.abs(dolar - (((5.54 / 5.55 - 1) * 100 - 100.0) / 2)) < 1e-9)
      assert(sp > 0 - 1 && sp < 1) // small daily pct moves
      // the observed average is the aggregate's, to the byte
      assert(avg == aggregated(csv, "2024-09-13", "2024-09-18", s"$dir/agg"))
    }
  }

  test("repeated MarketJob runs on one session leave no cached relation behind") {
    withMarket { (dir, csv) =>
      val before = spark.sparkContext.getPersistentRDDs.size
      (1 to 3).foreach { i =>
        MarketJob.run(spark, "2024-09-13", "2024-09-17", s"job$i", csv, s"$dir/out")
      }
      assert(spark.sparkContext.getPersistentRDDs.size <= before)
    }
  }

  test("a second MarketJob run on an unchanged CSV starts at most 3 Spark " +
      "jobs, none of them CSV inference") {
    withMarket { (dir, csv) =>
      MarketJob.run(spark, "2024-09-13", "2024-09-18", "first", csv, s"$dir/out")
      val (_, Jobs.Counts(sites, _, _)) = Jobs.during(spark.sparkContext) {
        MarketJob.run(spark, "2024-09-13", "2024-09-18", "second", csv, s"$dir/out")
      }
      assert(sites.size <= 3, s"jobs: $sites")
      // inference is the only job Csv.scala starts outside a write
      assert(!sites.exists(s => s.contains("Csv.scala") && !s.startsWith("csv at")),
        s"jobs: $sites")
      assert(lines(s"$dir/out/second/daily_returns") ==
        lines(s"$dir/out/first/daily_returns"))
    }
  }

  test("a window with no trading day writes the aggregate's empty average row") {
    withMarket { (dir, csv) =>
      MarketJob.run(spark, "2023-01-01", "2023-12-31", "none", csv, s"$dir/out")
      assert(lines(s"$dir/out/none/daily_returns") ==
        Seq("Date,DOLAR,S&P500,DOLAR_Retorno,S&P500_Retorno"))
      val avg = lines(s"$dir/out/none/average_daily_return")
      assert(avg == Seq("Media_DOLAR_Retorno,Media_SP500_Retorno", ","))
      assert(avg == aggregated(csv, "2023-01-01", "2023-12-31", s"$dir/agg"))
    }
  }
}
