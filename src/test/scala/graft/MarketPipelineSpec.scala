package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import graft.io.Csv
import graft.ops.MarketPipeline

/** Golden reference-parity fixture (FIXTURES.md §1): pins the exact
  * semantics of the reference job — NULL first-row return, 0-price →
  * −100% then divide-by-zero → NULL, `&` column names, `Media_SP500_*`
  * rename (ref `controller/script.py:33-50,92-100`). */
class MarketPipelineSpec extends SparkSuite {

  private val fixture =
    """Date,DOLAR,S&P500
      |2024-09-13,5.55,5626.02
      |2024-09-16,5.54,5633.09
      |2024-09-17,0,5634.58
      |2024-09-18,5.46,5618.26
      |""".stripMargin

  /** A test over the fixture, read from a directory removed after it. */
  private def marketTest(name: String)(body: DataFrame => Unit): Unit =
    test(name) {
      Scratch.withDir("market") { dir =>
        val f = new java.io.File(dir, "market_data.csv")
        Files.writeString(f.toPath, fixture)
        body(Csv.readInferred(spark, f.getAbsolutePath))
      }
    }

  private def d(r: Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))

  marketTest("daily returns preserve reference semantics") { market =>
    val (rets, _) = MarketPipeline.run(market, "2024-09-13", "2024-09-18")
    assert(rets.columns.toSeq ==
      Seq("Date", "DOLAR", "S&P500", "DOLAR_Retorno", "S&P500_Retorno"))
    val rows = rets.orderBy("Date").collect()
    assert(rows.length == 4)
    // first row: lag over nothing -> NULL
    assert(d(rows(0), "DOLAR_Retorno").isEmpty)
    assert(d(rows(0), "S&P500_Retorno").isEmpty)
    // normal day
    assert(math.abs(d(rows(1), "DOLAR_Retorno").get - ((5.54 / 5.55 - 1) * 100)) < 1e-9)
    assert(math.abs(d(rows(1), "S&P500_Retorno").get - ((5633.09 / 5626.02 - 1) * 100)) < 1e-9)
    // zero-price day: (0/5.54 - 1) * 100 = -100
    assert(math.abs(d(rows(2), "DOLAR_Retorno").get - (-100.0)) < 1e-9)
    // day after zero price: 5.46/0 -> NULL (non-ANSI divide-by-zero)
    assert(d(rows(3), "DOLAR_Retorno").isEmpty)
  }

  marketTest("average output has reference names (& dropped) and skips NULLs") { market =>
    val (_, avg) = MarketPipeline.run(market, "2024-09-13", "2024-09-18")
    assert(avg.columns.toSeq == Seq("Media_DOLAR_Retorno", "Media_SP500_Retorno"))
    val r = avg.first()
    val expDolar = (((5.54 / 5.55 - 1) * 100) + -100.0) / 2 // 2 non-null rets
    assert(math.abs(r.getAs[Double]("Media_DOLAR_Retorno") - expDolar) < 1e-9)
    val sp = Seq(5633.09 / 5626.02, 5634.58 / 5633.09, 5618.26 / 5634.58)
      .map(x => (x - 1) * 100)
    assert(math.abs(r.getAs[Double]("Media_SP500_Retorno") - sp.sum / 3) < 1e-9)
  }

  marketTest("range filter is inclusive on both bounds") { market =>
    val (rets, _) = MarketPipeline.run(market, "2024-09-16", "2024-09-17")
    val days = rets.orderBy("Date").collect().map(_.get(0).toString)
    assert(days.toSeq == Seq("2024-09-16", "2024-09-17"))
  }

  marketTest("single-file CSV sink writes exactly one part file with header") { market =>
    Scratch.withDir("csvout") { dir =>
      val out = s"$dir/daily_returns"
      val (rets, _) = MarketPipeline.run(market, "2024-09-13", "2024-09-18")
      Csv.writeSingle(rets, out)
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part") && f.getName.endsWith(".csv"))
      assert(parts.length == 1) // ref controller requires exactly one (app.py:479-480)
      val header = scala.io.Source.fromFile(parts.head).getLines().next()
      assert(header == "Date,DOLAR,S&P500,DOLAR_Retorno,S&P500_Retorno")
    }
  }

  test("the parity rows leave no cached relation behind") {
    spark.catalog.clearCache()
    Seq("q_market_wide_returns", "q_market_avg_return").foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf("sf0.001")).collect().nonEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
