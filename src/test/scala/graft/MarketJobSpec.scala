package graft

import java.nio.file.Files
import graft.jobs.MarketJob

/** End-to-end reference-job parity: the golden fixture through the
  * program surface (read CSV → pipeline → two single-part CSV sinks with
  * the reference's directory layout). */
class MarketJobSpec extends SparkSuite {

  test("MarketJob writes the reference's two outputs for the golden fixture") {
    val dir = Files.createTempDirectory("job").toString
    val csv = s"$dir/market_data.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """Date,DOLAR,S&P500
        |2024-09-13,5.55,5626.02
        |2024-09-16,5.54,5633.09
        |2024-09-17,0,5634.58
        |2024-09-18,5.46,5618.26
        |""".stripMargin)

    MarketJob.run(spark, "2024-09-13", "2024-09-18", "job42", csv, s"$dir/out")

    def singlePart(p: String): java.io.File = {
      val parts = new java.io.File(p).listFiles()
        .filter(f => f.getName.startsWith("part") && f.getName.endsWith(".csv"))
      assert(parts.length == 1, s"$p should hold exactly one part file")
      parts.head
    }
    val daily = scala.io.Source.fromFile(
      singlePart(s"$dir/out/job42/daily_returns")).getLines().toSeq
    assert(daily.head == "Date,DOLAR,S&P500,DOLAR_Retorno,S&P500_Retorno")
    assert(daily.size == 5) // header + 4 days

    val avg = scala.io.Source.fromFile(
      singlePart(s"$dir/out/job42/average_daily_return")).getLines().toSeq
    assert(avg.head == "Media_DOLAR_Retorno,Media_SP500_Retorno")
    val Array(dolar, sp) = avg(1).split(",").map(_.toDouble)
    assert(math.abs(dolar - (((5.54 / 5.55 - 1) * 100 - 100.0) / 2)) < 1e-9)
    assert(sp > 0 - 1 && sp < 1) // small daily pct moves
  }

  test("repeated MarketJob runs on one session leave no cached relation behind") {
    val dir = Files.createTempDirectory("job").toString
    val csv = s"$dir/market_data.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """Date,DOLAR,S&P500
        |2024-09-13,5.55,5626.02
        |2024-09-16,5.54,5633.09
        |2024-09-17,0,5634.58
        |""".stripMargin)
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { i =>
      MarketJob.run(spark, "2024-09-13", "2024-09-17", s"job$i", csv, s"$dir/out")
    }
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}
