package graft.jobs

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, ScheduledExecutorService, TimeUnit}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ops.Validation

/** The reference's orchestration façade (ref `controller/app.py:24-91`
  * submit/schedule/list + `backend/app.py:27-83` proxy), re-expressed
  * over the in-process engine: a JDK-built-in HTTP server (no
  * dependencies, binds localhost) exposing
  *
  *  - `POST /api/submit`   — validate `{initial_date, final_date,
  *    email}`, run the market job synchronously; 200 `{"success":true}`
  *    / 400 field errors / 500 job failure — the same status contract
  *    as the reference.
  *  - `POST /api/schedule` — same validation, one-shot execution after
  *    `scheduleDelay` (the reference hardcodes now+1 minute).
  *  - `GET /api/jobs`      — scheduled/run jobs with id, name,
  *    next_run_time, trigger (the reference's listing fields) + status.
  *
  * The job body is injectable so the façade (HTTP/validation/scheduler
  * contract) tests independently of Spark; the default runner is
  * [[MarketJob.run]] against a dataset path. Spark execution stays
  * in-process — the scheduler hands work to the engine, it does not
  * spawn spark-submit subprocesses (SURVEY §1.5). */
class JobServer(
    runJob: (String, String, String) => Unit,
    scheduleDelayMillis: Long = 60000L) {

  private case class JobInfo(id: String, name: String,
      nextRunTime: String, trigger: String, @volatile var status: String)

  private val seq = new AtomicLong(0)
  private val jobs = new ConcurrentHashMap[String, JobInfo]()
  private val scheduler: ScheduledExecutorService =
    Executors.newScheduledThreadPool(1)
  private var server: HttpServer = _
  private var handlers: ExecutorService = _

  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/jobs", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod != "GET") respond(ex, 405, err("method not allowed"))
      else respond(ex, 200, jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        s"""{"id":${q(j.id)},"name":${q(j.name)},"next_run_time":${q(j.nextRunTime)},"trigger":${q(j.trigger)},"status":${q(j.status)}}""")
        .mkString("[", ",", "]"))
    })
    server.createContext("/api/submit", (ex: HttpExchange) => safely(ex) {
      withValidJob(ex) { case (init, fin, email) =>
        val id = newJob("submit", "now", "date[immediate]")
        try {
          runJob(init, fin, id)
          jobs.get(id).status = "done"
          respond(ex, 200, ok("Spark job completed"))
        } catch { case e: Exception =>
          jobs.get(id).status = "failed"
          respond(ex, 500, err(s"error running Spark job: ${e.getMessage}"))
        }
      }
    })
    server.createContext("/api/schedule", (ex: HttpExchange) => safely(ex) {
      withValidJob(ex) { case (init, fin, email) =>
        val runAt = Instant.now().plusMillis(scheduleDelayMillis)
        val id = newJob("scheduled", tsFmt.format(runAt), "date[one-shot]")
        scheduler.schedule(new Runnable {
          def run(): Unit =
            try { runJob(init, fin, id); jobs.get(id).status = "done" }
            catch { case _: Exception => jobs.get(id).status = "failed" }
        }, scheduleDelayMillis, TimeUnit.MILLISECONDS)
        respond(ex, 200, ok("Spark job scheduled"))
      }
    })
    handlers = Executors.newFixedThreadPool(4)
    server.setExecutor(handlers)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (handlers != null) {
      handlers.shutdownNow()
      handlers.awaitTermination(5, TimeUnit.SECONDS)
    }
    scheduler.shutdownNow()
  }

  // ---- helpers ----

  private def newJob(kind: String, next: String, trigger: String): String = {
    val id = s"job-${seq.incrementAndGet()}"
    jobs.put(id, JobInfo(id, s"$kind market report", next, trigger, "pending"))
    id
  }

  /** Parse the three reference fields from a FLAT json body, validate
    * with the shared rules, 400 with the full error report otherwise. */
  private def withValidJob(ex: HttpExchange)(
      f: ((String, String, String)) => Unit): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, err("method not allowed")); return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    def field(name: String): Option[String] =
      ("\"" + name + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(body).map(_.group(1))
    (field("initial_date"), field("final_date"), field("email")) match {
      case (Some(i), Some(fn), Some(e)) =>
        val errs = Validation.validateJobRequest(i, fn, e)
        if (errs.nonEmpty) respond(ex, 400, err(errs.mkString("; ")))
        else f((i, fn, e))
      case _ =>
        respond(ex, 400, err("all fields are required: initial_date, final_date, email"))
    }
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def ok(msg: String) = s"""{"success":true,"message":${q(msg)}}"""
  private def err(msg: String) = s"""{"success":false,"error":${q(msg)}}"""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def safely(ex: HttpExchange)(f: => Unit): Unit =
    try f catch { case e: Exception =>
      try respond(ex, 500, err(s"unexpected error: ${e.getMessage}"))
      catch { case _: Exception => () }
    }
}

object JobServer {
  /** Façade wired to the real engine job: dates+jobId → MarketJob.run
    * on `spark` over `datasetPath`, outputs under `outputRoot`. */
  def forDataset(spark: org.apache.spark.sql.SparkSession,
      datasetPath: String, outputRoot: String,
      scheduleDelayMillis: Long = 60000L): JobServer =
    new JobServer(
      (init, fin, jobId) =>
        MarketJob.run(spark, init, fin, jobId, datasetPath, outputRoot),
      scheduleDelayMillis)
}
