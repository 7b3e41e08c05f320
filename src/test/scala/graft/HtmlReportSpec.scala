package graft

import java.nio.file.Files
import graft.report.HtmlReport

/** The driver-layer report artifact: per-asset SVG line charts plus an
  * index page with the summary values — the reference's chart + email
  * product loop; emailReport closes it over SMTP (loopback stub). */
class HtmlReportSpec extends SparkSuite {

  test("emailReport: run → report → delivered message carries index body + chart attachments") {
    val out = tmp("graft-email-report")
    val stub = new LoopbackSmtp
    val env = Map(
      "GRAFT_SMTP_SERVER" -> "127.0.0.1",
      "GRAFT_SMTP_PORT" -> stub.port.toString,
      "GRAFT_SMTP_EMAIL" -> "reports@graft",
      "GRAFT_SMTP_PASSWORD" -> "pw",
      "GRAFT_SMTP_PLAINTEXT" -> "1")
    val files = HtmlReport.emailReport(spark, sf("sf0.001"), out,
      "user@example.com", env.get)
    stub.thread.join(5000)
    assert(files.length >= 2)
    val data = stub.dataLines
    assert(data.contains("Subject: Market report"))
    assert(stub.commands.contains("RCPT TO:<user@example.com>"))
    // every chart file rides along as a text/html attachment
    files.tail.foreach { f =>
      assert(data.exists(_.contains(s"""filename="${f.getFileName}"""")),
        s"missing attachment ${f.getFileName}")
    }
    // the body (index page) is base64 html containing the report title
    val idx = java.nio.file.Files.readString(files.head)
    assert(idx.contains("Market report"))
  }

  test("writeReport emits index + one chart per asset with real content") {
    val out = tmp("graft-report")
    val files = HtmlReport.writeReport(spark, sf("sf0.001"), out)
    assert(files.nonEmpty && files.forall(Files.exists(_)))

    val index = Files.readString(files.head)
    assert(index.contains("Market report"))
    assert(index.contains("Mean daily return"))
    assert(index.contains("returns_A.html"), "per-asset chart links expected")

    val chart = Files.readString(files(1))
    assert(chart.contains("<svg") && chart.contains("polyline"),
      "chart must carry an inline SVG line trace")
    assert(chart.contains("Daily returns"))
  }

  test("saveGraph enforces the reference contract (missing column, empty frame)") {
    import spark.implicits._
    val out = tmp("graft-report")
    val df = Seq(("2024-01-01", 1.0), ("2024-01-02", -0.5)).toDF("day", "ret")

    val p = HtmlReport.saveGraph(df, "day", "ret", "t", "t.html", out)
    assert(Files.readString(p).contains("polyline"))

    intercept[IllegalArgumentException] {
      HtmlReport.saveGraph(df, "nope", "ret", "t", "t2.html", out)
    }
    intercept[IllegalArgumentException] {
      HtmlReport.saveGraph(df.filter($"ret" > 100), "day", "ret", "t", "t3.html", out)
    }
  }
}
