package graft

import java.nio.file.Files
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import graft.report.Email
import graft.report.Email.Attachment

/** K4 parity: MIME assembly + SMTP delivery against an in-process
  * loopback server that captures the wire bytes. No Spark session
  * needed — this is the report-delivery layer. */
class EmailSpec extends AnyFunSuite {

  private def decodePart(lines: Seq[String]): Array[Byte] =
    Base64.getMimeDecoder.decode(lines.mkString("\n"))

  test("MIME sniffing mirrors the reference extension table") {
    assert(Email.sniffMime("r.pdf") == "application/pdf")
    assert(Email.sniffMime("r.html") == "text/html")
    assert(Email.sniffMime("r.csv") == "text/csv")
    assert(Email.sniffMime("r.txt") == "text/plain")
    assert(Email.sniffMime("r.png") == "image/png")
    assert(Email.sniffMime("r.jpg") == "image/jpg") // reference quirk: raw ext
    assert(Email.sniffMime("r.jpeg") == "image/jpeg")
    assert(Email.sniffMime("r.bin") == "application/octet-stream")
  }

  test("message assembly is deterministic and golden") {
    val msg = new String(Email.assemble("Daily report", "a@x.com", "b@y.com",
      "<h1>Hi</h1>", Seq(Attachment("data.csv", "c1,c2\n1,2\n".getBytes))), "UTF-8")
    val expected =
      "Subject: Daily report\r\n" +
      "From: a@x.com\r\n" +
      "To: b@y.com\r\n" +
      "MIME-Version: 1.0\r\n" +
      "Content-Type: multipart/mixed; boundary=\"graft-boundary-0000\"\r\n" +
      "\r\n" +
      "--graft-boundary-0000\r\n" +
      "Content-Type: text/html; charset=\"utf-8\"\r\n" +
      "Content-Transfer-Encoding: base64\r\n" +
      "\r\n" +
      "PGgxPkhpPC9oMT4=\r\n" +
      "--graft-boundary-0000\r\n" +
      "Content-Type: text/csv; name=\"data.csv\"\r\n" +
      "Content-Transfer-Encoding: base64\r\n" +
      "Content-Disposition: attachment; filename=\"data.csv\"\r\n" +
      "\r\n" +
      "YzEsYzIKMSwyCg==\r\n" +
      "--graft-boundary-0000--\r\n"
    assert(msg == expected)
  }

  test("end-to-end delivery: auth, envelope, and attachments survive the wire") {
    val stub = new LoopbackSmtp
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 1, 2, 3)
    val msg = Email.assemble("Report", "robot@x.com", "user@y.com",
      "<p>body</p>", Seq(Attachment("chart.png", png)))
    Email.send("127.0.0.1", stub.port, "robot@x.com", "s3cret",
      "user@y.com", msg, ssl = false)
    stub.thread.join(5000)

    assert(new String(Base64.getDecoder.decode(stub.authUser)) == "robot@x.com")
    assert(new String(Base64.getDecoder.decode(stub.authPass)) == "s3cret")
    assert(stub.commands.contains("MAIL FROM:<robot@x.com>"))
    assert(stub.commands.contains("RCPT TO:<user@y.com>"))
    val data = stub.dataLines
    assert(data.contains("Subject: Report"))
    assert(data.contains("Content-Type: image/png; name=\"chart.png\""))
    val b64Start = data.indexOf("Content-Disposition: attachment; filename=\"chart.png\"") + 2
    val b64 = data.drop(b64Start).takeWhile(l => !l.startsWith("--"))
    assert(decodePart(b64.toSeq).toSeq == png.toSeq)
  }

  test("dot-stuffing protects lines starting with a period") {
    val stub = new LoopbackSmtp
    val msg = Email.assemble("s", "a@x", "b@y", ".hidden\r\n..double")
    Email.send("127.0.0.1", stub.port, "a@x", "p", "b@y", msg, ssl = false)
    stub.thread.join(5000)
    // base64 body never starts with '.', so craft a raw message instead
    val stub2 = new LoopbackSmtp
    val raw = "Subject: s\r\n\r\n.leading dot\r\nok\r\n".getBytes
    Email.send("127.0.0.1", stub2.port, "a@x", "p", "b@y", raw, ssl = false)
    stub2.thread.join(5000)
    assert(stub2.dataLines.contains("..leading dot"),
      s"dot-stuffed line missing in ${stub2.dataLines}")
  }

  test("sendReport: env contract, attachment skip-if-missing, error on no creds") {
    val stub = new LoopbackSmtp
    Scratch.withDir("email") { dir =>
      val tmp = java.nio.file.Paths.get(dir)
      val csv = tmp.resolve("out.csv")
      Files.write(csv, "a,b\n".getBytes)
      val env = Map(
        "GRAFT_SMTP_SERVER" -> "127.0.0.1",
        "GRAFT_SMTP_PORT" -> stub.port.toString,
        "GRAFT_SMTP_EMAIL" -> "r@x.com",
        "GRAFT_SMTP_PASSWORD" -> "pw",
        "GRAFT_SMTP_PLAINTEXT" -> "1")
      Email.sendReport("S", "<p>b</p>", "u@y.com",
        Seq(csv, tmp.resolve("missing.pdf")), env.get)
      stub.thread.join(5000)
      assert(stub.dataLines.exists(_.contains("name=\"out.csv\"")))
      assert(!stub.dataLines.exists(_.contains("missing.pdf")), "missing file skipped")

      val noCreds = intercept[RuntimeException] {
        Email.sendReport("S", "b", "u@y.com", Nil,
          Map("GRAFT_SMTP_SERVER" -> "127.0.0.1").get)
      }
      assert(noCreds.getMessage.contains("email/password"))
    }
  }
}
