package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Bench
import graft.io.Csv
import graft.jobs.{JobServer, MarketJob}
import graft.ops.Versioned
import graft.report.HtmlReport

/** One closed-loop workload run over a plan made by `perfbench/gen.py`.
  *
  * {{{
  * Harness <plan.tsv> <dataDir> <runDir> <workload> <seconds> <trace 0|1> <cpus> <setups> <out.json>
  * }}}
  *
  * Set-up is repeated `setups` times (fresh session and fresh state each
  * time); the last one serves the measured window. Operations run until
  * `seconds` have passed (or the plan is used up). Every operation's
  * latency and outcome, the set-up phases and the end-of-run probes go to
  * `out.json`; with tracing on, so do the spans, the per-job Spark counters
  * and the Catalyst phase times. `perfbench/run.py` turns them into
  * metrics. */
object Harness {

  final case class Op(kind: String, req: String, start: Double, end: Double,
      ok: Boolean)
  final case class Setup(sessionS: Double, initS: Double, warmS: Double,
      memoS: Double)

  final class Run(val plan: Seq[Array[String]], val dataDir: String,
      val runDir: String, val workload: String, val seconds: Double,
      val trace: Boolean, val cpus: Int, val setups: Int) {
    val tracer = new Tracer(trace)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probes = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val lakeRows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Double)]]()
    var counters: Counters = _
    var planning: Planning = _
    var windowStart, windowEnd = 0.0
    def fail(msg: String): Unit = {
      failures.add(msg)
      System.err.println(s"perfbench FAIL $msg")
    }
  }

  def session(r: Run): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${r.cpus}]")
      .appName(s"perfbench-${r.workload}")
      .config("spark.sql.shuffle.partitions", r.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${r.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${r.runDir}/warehouse")
    if (r.workload == "lake-churn")
      b.config("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this JVM has used so far, all threads. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Live heap as a full collection leaves it; the second collection
    * follows Spark's ContextCleaner releasing what the first one queued. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val Array(planFile, dataDir, runDir, workload, seconds, trace, cpus,
      setups, outFile) = args
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))
    val r = new Run(plan, dataDir, runDir, workload, seconds.toDouble,
      trace == "1", cpus.toInt, setups.toInt)
    val w: Workload = workload match {
      case "analytic-mix" => new MixWorkload(r)
      case "lake-churn" => new LakeWorkload(r)
    }
    var spark: SparkSession = null
    val setupRecs = (1 to r.setups).map { k =>
      if (spark != null) { w.teardown(); spark.stop() }
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(r)
      val sessionS = secs(t0)
      val (init, warm, memo) = w.setup(spark, k)
      Setup(sessionS, init, warm, memo)
    }
    r.probes.put("setup_failures", r.failures.size.toDouble)
    if (r.trace) {
      r.counters = new Counters
      r.planning = new Planning
      spark.sparkContext.addSparkListener(r.counters)
      spark.listenerManager.register(r.planning)
      r.tracer.sc = Some(spark.sparkContext)
    }
    val tmpDirs = Seq(System.getProperty("java.io.tmpdir"), s"$runDir/local")
    val tmpBefore = tmpDirs.map(dirBytes).sum
    val cpu0 = cpuS
    r.windowStart = Clock.ms
    w.measure(spark, r.windowStart + r.seconds * 1000)
    r.windowEnd = Clock.ms
    r.probes.put("window_cpu_s", cpuS - cpu0)
    w.teardown()
    if (r.trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    r.probes.put("tmp_bytes_growth", (tmpDirs.map(dirBytes).sum - tmpBefore).toDouble)
    r.probes.put("cached_relations_end", spark.sparkContext.getPersistentRDDs.size.toDouble)
    if (r.trace) w.probe(spark)
    r.probes.put("retained_heap_mb", retainedHeapMb())
    Files.writeString(Paths.get(outFile), Json.result(r, setupRecs, w.extraJson))
    spark.stop()
    // JobServer's HTTP executor threads are not daemons and outlive stop()
    System.exit(0)
  }
}

/** One workload: set-up (repeatable on a fresh session), the measured
  * closed loop, and optional end-of-run probes. */
trait Workload {
  /** Returns (init seconds, warm-up seconds, memo-build seconds). */
  def setup(spark: SparkSession, rep: Int): (Double, Double, Double)
  def measure(spark: SparkSession, deadlineMs: Double): Unit
  def teardown(): Unit = ()
  def probe(spark: SparkSession): Unit = ()
  def extraJson: String = "{}"
}

// ------------------------------------------------------------------ report
/** The reference's user path: `POST /api/submit` to a JobServer running
  * MarketJob on the shared session, then two charts of the job's
  * daily_returns output, checked against a plain-Scala model. */
class ReportClient(r: Harness.Run) {
  import Harness._
  private val csvPath = s"${r.dataDir}/market.csv"
  private val outRoot = s"${r.runDir}/out"
  private val market = MarketModel.load(csvPath)
  private var server: JobServer = _
  private var port = 0
  // window key -> (request id, submit span id); window key -> job id
  private val pending = new ConcurrentHashMap[String, (String, Long)]()
  private val jobOf = new ConcurrentHashMap[String, String]()
  private val runnerStart = new ConcurrentHashMap[String, Double]()

  def start(spark: SparkSession): Unit = {
    server = new JobServer((init, fin, jobId) => {
      val key = s"$init|$fin"
      val (req, parent) = Option(pending.get(key)).getOrElse(("setup", 0L))
      jobOf.put(key, jobId)
      runnerStart.put(key, Clock.ms)
      r.tracer.span("jobs.market_job", req, parent) {
        MarketJob.run(spark, init, fin, jobId, csvPath, outRoot)
      }
    })
    port = server.start(0)
  }

  private def post(init: String, fin: String): Int = {
    val c = new URI(s"http://127.0.0.1:$port/api/submit").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val body = s"""{"initial_date":"$init","final_date":"$fin","email":"bench@example.com"}"""
    c.getOutputStream.write(body.getBytes(UTF_8))
    c.getOutputStream.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    if (in != null) { in.readAllBytes(); in.close() }
    c.disconnect()
    code
  }

  /** One request of a plan line (kind, index, initial date, final date,
    * chart asset 1, chart asset 2): POST, then two charts. Returns the
    * job id. */
  def request(spark: SparkSession, req: String, q: Array[String]): String = {
    val Array(init, fin, a1, a2) = q.slice(2, 6)
    val key = s"$init|$fin"
    r.tracer.span("client.request", req) {
      val code = r.tracer.span("jobs.submit", req) {
        pending.put(key, (req, r.tracer.current))
        val t0 = Clock.ms
        val c = post(init, fin)
        Option(runnerStart.get(key)).foreach(s =>
          r.tracer.record("jobs.wait", req, r.tracer.current, t0, s))
        c
      }
      require(code == 200, s"POST /api/submit returned $code for $key")
      val jobId = jobOf.get(key)
      val chartDir = s"$outRoot/charts/$req"
      Seq(a1, a2).zipWithIndex.foreach { case (a, i) =>
        r.tracer.span("report.chart", req) {
          val df = Csv.readInferred(spark, s"$outRoot/$jobId/daily_returns")
          HtmlReport.saveGraph(df, "Date", s"${a}_Retorno", s"$a daily returns",
            s"chart$i.html", chartDir)
        }
      }
      jobId
    }
  }

  /** Recompute the job's outputs in plain Scala from the generated CSV;
    * false (and a failure recorded) on any difference. */
  def check(req: String, jobId: String, q: Array[String]): Boolean = {
    val Array(init, fin) = q.slice(2, 4)
    var ok = true
    def fail(msg: String): Unit = { ok = false; r.fail(msg) }
    def lines(dir: String) = {
      val f = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".csv")).head
      Files.readAllLines(f.toPath, UTF_8).asScala.toSeq
    }
    val (rows, expected) = market.expected(init, fin)
    val got = lines(s"$outRoot/$jobId/daily_returns").size - 1
    if (got != rows) fail(s"$req: daily_returns has $got rows, expected $rows")
    val avg = lines(s"$outRoot/$jobId/average_daily_return")
    val names = avg.head.split(",", -1)
    val vals = avg(1).split(",", -1)
    if (names.length != expected.size)
      fail(s"$req: average has ${names.length} columns, expected ${expected.size}")
    names.zip(vals).foreach { case (n, v) =>
      val e = expected.get(n)
      val g = if (v.isEmpty) None else Some(v.toDouble)
      val same = (g, e.flatten) match {
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (None, None) => e.isDefined
        case _ => false
      }
      if (!same) fail(s"$req: $n = $v, expected ${e.flatten}")
    }
    Seq("chart0.html", "chart1.html").foreach { c =>
      if (!new File(s"$outRoot/charts/$req/$c").isFile) fail(s"$req: missing $c")
    }
    if (ok) deleteTree(new File(s"$outRoot/charts/$req"))
    ok
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def stop(): Unit = if (server != null) { server.stop(); server = null }
}

/** Plain-Scala model of the reference's returns pipeline over the
  * generated market CSV: NULL becomes 0, a zero lag gives NULL, averages
  * skip NULL, and the first row of a window has no lag. */
final class MarketModel(val dates: Array[String], val names: Array[String],
    val prices: Array[Array[Double]]) {
  /** (row count, average column name -> average, None when all NULL). */
  def expected(init: String, fin: String): (Int, Map[String, Option[Double]]) = {
    val idx = dates.indices.filter(i => dates(i) >= init && dates(i) <= fin)
    val avgs = names.indices.map { a =>
      var sum = 0.0
      var n = 0
      idx.zip(idx.drop(1)).foreach { case (p, c) =>
        val prev = prices(p)(a)
        if (prev != 0.0) { sum += (prices(c)(a) / prev - 1.0) * 100.0; n += 1 }
      }
      s"Media_${names(a).replace("&", "")}_Retorno" -> (if (n == 0) None else Some(sum / n))
    }
    (idx.size, avgs.toMap)
  }
}

object MarketModel {
  def load(path: String): MarketModel = {
    val ls = Files.readAllLines(Paths.get(path), UTF_8).asScala.toArray
    val names = ls.head.split(",", -1).drop(1)
    val rows = ls.drop(1).map(_.split(",", -1))
    new MarketModel(rows.map(_(0)), names,
      rows.map(_.drop(1).map(v => if (v.isEmpty) 0.0 else v.toDouble)))
  }
}

// ------------------------------------------------------------ analytic mix
/** Registry rows and JobServer report requests run one at a time in
  * seeded pass orders, with the cache cleared between them as graft.Bench
  * does. */
class MixWorkload(r: Harness.Run) extends Workload {
  import Harness._
  private val rows = r.plan.filter(_(0) == "row").map(a => a(1) -> a(2))
  private val category = rows.toMap
  private val registry = graft.SparkEntry.queries
  private val report = new ReportClient(r)
  private val reportLines = r.plan.filter(l => l(0) == "report" || l(0) == "reportwarm")
    .map(l => (l(0), l(1)) -> l).toMap
  private var tables = ""
  private val oracleDir = s"${r.runDir}/oracle"

  private def memoTotal: Double =
    graft.queries.Memo.buildLog.values.sum + graft.queries.LakeFixtures.buildLog.values.sum

  /** Set-up: table registration and a JobServer, then one warm-up pass.
    * Each set-up uses its own copy of the tables, so per-directory memos
    * are built again by every set-up. The first set-up writes each row's
    * output for the DuckDB oracle instead of hashing it. */
  def setup(spark: SparkSession, rep: Int): (Double, Double, Double) = {
    tables = s"${r.dataDir}/tables$rep"
    val t0 = System.nanoTime()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(graft.io.Tables.load(spark, tables, _))
    report.start(spark)
    val initS = secs(t0)
    val memo0 = memoTotal
    val t1 = System.nanoTime()
    rows.foreach { case (n, _) =>
      spark.catalog.clearCache()
      try {
        if (n == "report") {
          val q = reportLines(("reportwarm", rep.toString))
          report.check(s"setup$rep", report.request(spark, s"setup$rep", q), q)
        } else {
          val df = registry(n)(spark, tables)
          if (rep == 1) df.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$n")
          else Bench.timedAction(df)
        }
      } catch { case e: Throwable => r.fail(s"warm $n: ${e.getClass.getName}: ${e.getMessage}") }
    }
    (initS, secs(t1), memoTotal - memo0)
  }

  override def teardown(): Unit = report.stop()

  def measure(spark: SparkSession, deadlineMs: Double): Unit = {
    val passes = r.plan.filter(_(0) == "pass").iterator
    while (Clock.ms < deadlineMs && passes.hasNext) {
      val p = passes.next()
      p.drop(2).foreach { n =>
        spark.catalog.clearCache()
        val req = s"p${p(1)}-$n"
        val cat = category(n)
        val layer = if (cat == "text" || cat == "streaming") s"$cat.rows" else s"queries.$cat"
        val t0 = Clock.ms
        try {
          if (n == "report") {
            val q = reportLines(("report", p(1)))
            val jobId = report.request(spark, req, q)
            val t1 = Clock.ms
            r.ops.add(Harness.Op(s"query:$cat:$n", req, t0, t1, report.check(req, jobId, q)))
          } else {
            r.tracer.span(layer, req) {
              val df = r.tracer.span("queries.build", req)(registry(n)(spark, tables))
              r.tracer.span("queries.action", req)(Bench.timedAction(df))
            }
            r.ops.add(Harness.Op(s"query:$cat:$n", req, t0, Clock.ms, ok = true))
          }
        } catch { case e: Throwable =>
          r.fail(s"$req: ${e.getClass.getName}: ${e.getMessage}")
          r.ops.add(Harness.Op(s"query:$cat:$n", req, t0, Clock.ms, ok = false))
        }
      }
    }
  }

  override def extraJson: String = {
    val oracle = graft.SparkEntry.oracleSql
    rows.filter(_._1 != "report")
      .map { case (n, _) => s"${Json.q(n)}:${oracle.get(n).map(Json.q).getOrElse("null")}" }
      .mkString(s"""{"oracle_dir":${Json.q(oracleDir)},"tables":${Json.q(tables)},"oracle_sql":{""", ",", "}}")
  }
}

// -------------------------------------------------------------- lake churn
/** Commits beside reads on one versioned table: each cycle is one commit,
  * one DataFrame read and one SQL read of the current snapshot, plus the
  * plan's time-travel reads; every read returns the state the model
  * expects (count, exact price sum, updated-row count). */
class LakeWorkload(r: Harness.Run) extends Workload {
  import Harness._
  private var path = ""
  private val versions = ArrayBuffer[Long]()
  private var schema: StructType = _

  private def sqlRead(spark: SparkSession, req: String, v: Option[Long]): DataFrame =
    r.tracer.span("sources.sql_analyze", req) {
      spark.sql(s"SELECT * FROM lake.`$path`" + v.fold("")(x => s" VERSION AS OF $x"))
    }

  /** The timed read. Like Bench.timedAction it hashes every column into
    * one collected sum, so no column is pruned; the same aggregate returns
    * the checked state: (row count, exact o_totalprice sum in cents, rows
    * with status 'U'). */
  private def readState(df: DataFrame): Seq[Long] = {
    val all = df.schema.fields.map(f => df.col(s"`${f.name}`"))
    val row = df.agg(sum(xxhash64(struct(all: _*))), count(lit(1)),
      sum(col("o_totalprice").cast("decimal(18,2)")),
      sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))).collect().head
    Seq(row.getLong(1),
      Option(row.getDecimal(2)).map(_.movePointRight(2).longValueExact).getOrElse(0L),
      Option(row.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  private def check(what: String, got: Seq[Long], expected: Seq[Long]): Boolean = {
    if (got != expected) r.fail(s"$what: (count, cents, updated) = $got, expected $expected")
    got == expected
  }

  private val lines = r.plan.filter(l => l(0) == "commit" || l(0) == "tt").toIndexedSeq
  private var next = 0

  /** Set-up: a fresh table, then the plan's first cycles (one of each
    * commit kind) as an untimed warm-up; the measured loop continues the
    * same commit sequence on this table. */
  def setup(spark: SparkSession, rep: Int): (Double, Double, Double) = {
    path = s"${r.runDir}/lake/t$rep"
    versions.clear()
    next = 0
    val init = spark.read.parquet(s"${r.dataDir}/lake_init.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast(TimestampType))
    val t0 = System.nanoTime()
    versions += Versioned.init(init, path)
    val initS = secs(t0)
    schema = Versioned.read(spark, path).schema
    val expected = r.plan.find(_(0) == "init").get.drop(1).map(_.toLong).toSeq
    val t1 = System.nanoTime()
    check(s"setup$rep df", readState(Versioned.read(spark, path)), expected)
    check(s"setup$rep sql", readState(sqlRead(spark, "setup", None)), expected)
    val warm = r.plan.find(_(0) == "warm_cycles").get(1).toInt
    (1 to warm).foreach(_ => cycle(spark, timed = false))
    (initS, secs(t1), 0.0)
  }

  private def batch(spark: SparkSession, keys: Seq[Long], commit: Int,
      status: String): DataFrame = {
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val rows = keys.map { k =>
      val cents = 100000L + (k * 7919L + commit * 104729L) % 49900000L
      Row(k, k % 15000L, status, cents / 100.0,
        new java.sql.Timestamp((9131L + k % 2000L) * 86400000L), prio((k % 5).toInt))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def pred(a: Array[String]): org.apache.spark.sql.Column = {
    val Array(m, rem, lo, hi) = a.map(_.toLong)
    pmod(col("o_orderkey"), lit(m)) === rem && col("o_orderkey").between(lo, hi)
  }

  private def commit(spark: SparkSession, req: String, i: Int, op: Array[String]): Long =
    r.tracer.span(s"ops.versioned.${op(0)}", req) {
      op(0) match {
        case "merge" =>
          val Array(start, stride, n) = op.drop(1).map(_.toLong)
          val keys = (0L until n).map(j => start + j * stride)
          Versioned.merge(batch(spark, keys, i, "M"), path, Seq("o_orderkey"))
        case "append" =>
          val Array(start, n) = op.drop(1).map(_.toLong)
          Versioned.append(batch(spark, start until start + n, i, "O"), path)
        case "delete" =>
          Versioned.deleteVectored(spark, path, pred(op.drop(1))).version
        case "update" =>
          Versioned.updateVectored(spark, path, pred(op.drop(1)),
            Map("o_orderstatus" -> lit("U"),
              "o_totalprice" -> (col("o_totalprice") + lit(1.0)))).version
        case "compact" =>
          Versioned.compact(spark, path, r.cpus)
      }
    }

  /** Traced only: manifest shape, live files, deletion-vector rows and
    * the bytes a commit added against its batch written as plain parquet. */
  private def shape(spark: SparkSession, i: Int, op: Array[String],
      bytesAdded: Long): Unit = {
    val (top, segs) = Versioned.manifestShape(spark, path)
    val dv = Versioned.deletionVector(spark, path).map(_.count()).getOrElse(0L)
    val plain = op(0) match {
      case "merge" | "append" =>
        val keys = if (op(0) == "merge") {
          val Array(start, stride, n) = op.drop(1).map(_.toLong)
          (0L until n).map(j => start + j * stride)
        } else { val Array(start, n) = op.drop(1).map(_.toLong); start until start + n }
        val p = s"${r.runDir}/plain/b$i"
        batch(spark, keys, i, "M").coalesce(1).write.mode("overwrite").parquet(p)
        dirBytes(p).toDouble
      case _ => 0.0
    }
    r.lakeRows.add(Seq("manifest_rows" -> top.toDouble, "segment_refs" -> segs.toDouble,
      "live_files" -> Versioned.files(spark, path).size.toDouble, "dv_rows" -> dv.toDouble,
      "bytes_added" -> bytesAdded.toDouble, "batch_bytes" -> plain))
  }

  def measure(spark: SparkSession, deadlineMs: Double): Unit =
    while (Clock.ms < deadlineMs && next < lines.size && cycle(spark, timed = true)) {}

  /** One cycle: the next commit, a DataFrame read and a SQL read of the
    * new snapshot, and the commit's time-travel reads. Returns false once
    * an operation throws. */
  private def cycle(spark: SparkSession, timed: Boolean): Boolean = {
    val c = lines(next)
    val i = c(1).toInt
    val expected = c.slice(2, 5).map(_.toLong).toSeq
    val op = c.drop(5)
    val tts = lines.drop(next + 1).takeWhile(_(0) == "tt")
    next += 1 + tts.size
    val req = if (timed) s"cycle$i" else "setup"
    val t0 = Clock.ms
    try {
      val before = dirBytes(path)
      val (df, sql, travel) = r.tracer.span("client.cycle", req) {
        // a delete or update that matches no row commits nothing (-1)
        val v = commit(spark, req, i, op)
        versions += (if (v < 0) versions.last else v)
        val d = r.tracer.span("ops.versioned.read", req)(readState(Versioned.read(spark, path)))
        val s = sqlRead(spark, req, None)
        val q = r.tracer.span("sources.sql_read", req)(readState(s))
        val tt = tts.map { t =>
          val v = versions(t(2).toInt)
          r.tracer.span("ops.versioned.time_travel", req) {
            val a = readState(Versioned.read(spark, path, Some(v)))
            val s = sqlRead(spark, req, Some(v))
            (t, v, a, r.tracer.span("sources.sql_read", req)(readState(s)))
          }
        }
        (d, q, tt)
      }
      val t1 = Clock.ms
      var good = check(s"$req df", df, expected) & check(s"$req sql", sql, expected)
      travel.foreach { case (t, v, a, b) =>
        val exp = t.slice(3, 6).map(_.toLong).toSeq
        good = check(s"$req v$v df", a, exp) & check(s"$req v$v sql", b, exp) & good
      }
      if (timed && r.trace) shape(spark, i, op, dirBytes(path) - before)
      if (timed) r.ops.add(Harness.Op(s"cycle:${op(0)}", req, t0, t1, good))
      true
    } catch { case e: Throwable =>
      r.fail(s"$req commit $i: ${e.getClass.getName}: ${e.getMessage}")
      if (timed) r.ops.add(Harness.Op(s"cycle:${op(0)}", req, t0, Clock.ms, ok = false))
      false
    }
  }

  override def probe(spark: SparkSession): Unit = {
    val p = s"${r.runDir}/plain/live"
    Versioned.read(spark, path).write.mode("overwrite").parquet(p)
    r.probes.put("storage_ratio", dirBytes(path).toDouble / dirBytes(p))
  }
}

/** Hand-rolled JSON for the harness output. */
object Json {
  def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(r: Harness.Run, setups: Seq[Harness.Setup], extra: String): String = {
    val sb = new StringBuilder
    sb ++= s"""{"workload":${q(r.workload)},"trace":${r.trace},"cpus":${r.cpus},"""
    sb ++= s""""window":[${n(r.windowStart)},${n(r.windowEnd)}],"""
    sb ++= setups.map(s => s"""{"session_s":${n(s.sessionS)},"init_s":${n(s.initS)},"warm_s":${n(s.warmS)},"memo_s":${n(s.memoS)}}""")
      .mkString(""""setups":[""", ",", "],")
    sb ++= r.ops.asScala.toSeq.sortBy(_.start).map(o =>
      s"""{"kind":${q(o.kind)},"req":${q(o.req)},"start":${n(o.start)},"end":${n(o.end)},"ok":${o.ok}}""")
      .mkString(""""ops":[""", ",", "],")
    sb ++= r.failures.asScala.map(q).mkString(""""failures":[""", ",", "],")
    sb ++= r.probes.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${n(v)}" }
      .mkString(""""probes":{""", ",", "},")
    sb ++= r.tracer.spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"req":${q(s.req)},"start":${n(s.start)},"end":${n(s.end)}}""")
      .mkString(""""spans":[""", ",", "],")
    val jobs = Option(r.counters).map(_.jobs.values.toSeq.sortBy(_.jobId)).getOrElse(Nil)
    sb ++= jobs.map(j =>
      s"""{"job":${j.jobId},"req":${q(j.req)},"span":${j.span},"callsite":${q(j.callSite)},"start":${j.start},"end":${j.end},"stages":${j.stages},"tasks":${j.tasks},"tasks_failed":${j.tasksFailed},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},"input_bytes":${j.inputBytes},"shuffle_read_bytes":${j.shuffleRead},"shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill},"max_task_ms_sum":${j.maxTaskMsSum},"task_ms_sum":${j.taskMsSum}}""")
      .mkString(""""jobs":[""", ",", "],")
    val plan = Option(r.planning).map(_.recs.asScala.toSeq).getOrElse(Nil)
    sb ++= plan.map { case (t, s) => s"[$t,${n(s)}]" }.mkString(""""planning":[""", ",", "],")
    sb ++= r.lakeRows.asScala.map(_.map { case (k, v) => s"${q(k)}:${n(v)}" }.mkString("{", ",", "}"))
      .mkString(""""lake":[""", ",", "],")
    sb ++= s""""extra":$extra}"""
    sb.toString
  }
}
