package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.jobs.JobServer

/** The orchestration façade end-to-end over localhost HTTP: submit
  * (sync run + real CSV outputs), schedule (one-shot timer), list, and
  * the reference's validation/status contract. */
class JobServerSpec extends SparkSuite {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  private def fixture(): (String, String) = {
    val dir = tmp("jobsrv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/market.csv"),
      """Date,DOLAR,S&P500
        |2024-09-13,5.55,5626.02
        |2024-09-16,5.54,5633.09
        |2024-09-17,0,5634.58
        |2024-09-18,5.46,5618.26
        |""".stripMargin)
    (s"$dir/market.csv", s"$dir/out")
  }

  test("submit runs the engine job and writes the reference outputs") {
    val (csv, out) = fixture()
    val srv = JobServer.forDataset(spark, csv, out)
    val port = srv.start()
    try {
      val r = post(port, "/api/submit",
        """{"initial_date":"2024-09-13","final_date":"2024-09-18","email":"a@b.com"}""")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"success\":true"))
      val daily = new java.io.File(s"$out/job-1/daily_returns")
      assert(daily.exists(), "daily_returns output dir expected")

      val jobsList = get(port, "/api/jobs")
      assert(jobsList.body().contains("\"status\":\"done\""))
    } finally srv.stop()
  }

  test("validation contract: missing fields and bad values return 400") {
    val (csv, out) = fixture()
    val srv = JobServer.forDataset(spark, csv, out)
    val port = srv.start()
    try {
      val missing = post(port, "/api/submit", """{"initial_date":"2024-09-13"}""")
      assert(missing.statusCode() == 400 && missing.body().contains("required"))

      val badDate = post(port, "/api/submit",
        """{"initial_date":"2024-02-30","final_date":"2024-09-18","email":"a@b.com"}""")
      assert(badDate.statusCode() == 400 && badDate.body().contains("initial_date"))

      val badEmail = post(port, "/api/submit",
        """{"initial_date":"2024-09-13","final_date":"2024-09-18","email":"nope"}""")
      assert(badEmail.statusCode() == 400 && badEmail.body().contains("email"))

      val inverted = post(port, "/api/submit",
        """{"initial_date":"2024-09-18","final_date":"2024-09-13","email":"a@b.com"}""")
      assert(inverted.statusCode() == 400 && inverted.body().contains("after"))
    } finally srv.stop()
  }

  test("schedule fires the one-shot job after the delay; list shows it") {
    val (csv, out) = fixture()
    val srv = JobServer.forDataset(spark, csv, out, scheduleDelayMillis = 200)
    val port = srv.start()
    try {
      val r = post(port, "/api/schedule",
        """{"initial_date":"2024-09-13","final_date":"2024-09-18","email":"a@b.com"}""")
      assert(r.statusCode() == 200 && r.body().contains("scheduled"))

      val pending = get(port, "/api/jobs").body()
      assert(pending.contains("date[one-shot]") && pending.contains("next_run_time"))

      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        done = get(port, "/api/jobs").body().contains("\"status\":\"done\"")
      }
      assert(done, "scheduled job must complete")
      assert(new java.io.File(s"$out/job-1/daily_returns").exists())
    } finally srv.stop()
  }

  test("failure surfaces as 500 with the reference's error shape") {
    val srv = new JobServer((_, _, _) => throw new RuntimeException("boom"))
    val port = srv.start()
    try {
      val r = post(port, "/api/submit",
        """{"initial_date":"2024-09-13","final_date":"2024-09-18","email":"a@b.com"}""")
      assert(r.statusCode() == 500)
      assert(r.body().contains("\"success\":false") && r.body().contains("boom"))
      assert(get(port, "/api/jobs").body().contains("\"status\":\"failed\""))
    } finally srv.stop()
  }

  test("stop() ends the HTTP handler threads") {
    @volatile var handler: Thread = null
    val srv = new JobServer((_, _, _) => handler = Thread.currentThread())
    val port = srv.start()
    try {
      val r = post(port, "/api/submit",
        """{"initial_date":"2024-09-13","final_date":"2024-09-18","email":"a@b.com"}""")
      assert(r.statusCode() == 200)
    } finally srv.stop()
    assert(handler != null)
    handler.join(5000L)
    assert(!handler.isAlive, s"${handler.getName} outlived stop()")
  }
}
