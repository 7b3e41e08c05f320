package graft.perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on one clock for
  * spans and samples (Spark's listener events carry whole epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, req: String,
    start: Double, end: Double)

/** In-memory span recorder. A span's parent is the innermost open span of
  * the calling thread unless given explicitly (a JobServer runner thread
  * parents its span on the client's submit span). While a span is open
  * its id and request id are the thread's Spark job properties, so the
  * listener attributes every Spark job to the span that caused it.
  * Disabled, it records nothing and sets no properties. */
class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile var sc: Option[SparkContext] = None

  def current: Long = open.get.headOption.map(_._1).getOrElse(0L)

  private def mark(): Unit = sc.foreach { c =>
    val (id, req) = open.get.headOption.getOrElse((0L, null))
    c.setLocalProperty(Tracer.SpanProp, if (id == 0L) null else id.toString)
    c.setLocalProperty(Tracer.ReqProp, req)
  }

  def span[T](name: String, req: String, parent: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val p = if (parent >= 0) parent else current
    open.set((id, req) :: open.get)
    mark()
    val t0 = Clock.ms
    try body
    finally {
      done.add(Span(id, p, name, req, t0, Clock.ms))
      open.set(open.get.tail)
      mark()
    }
  }

  /** A span whose interval was measured elsewhere (e.g. queueing). */
  def record(name: String, req: String, parent: Long, start: Double,
      end: Double): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), parent, name, req, start, end))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"
}

/** Per Spark job: attribution and the work its stages and tasks did. */
final class JobRec(val jobId: Int, val req: String, val span: Long,
    val callSite: String, val start: Long) {
  @volatile var end: Long = -1L
  var stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  var maxTaskMsSum, taskMsSum = 0L
}

/** Counts Spark jobs, stages and tasks with their executor time and
  * bytes moved, attributing each job through the caller's thread-local
  * job properties set by [[Tracer]]. */
class Counters extends SparkListener {
  val jobs = TrieMap[Int, JobRec]()
  private val stageJob = TrieMap[Int, Int]()
  private val stageMax = TrieMap[Int, Long]()
  private val stageSum = TrieMap[Int, Long]()

  private def prop(p: Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(prop(e.properties, Tracer.SpanProp)).map(_.toLong).getOrElse(0L)
    // the result stage is named after the job's short call site
    val site = Option(prop(e.properties, "callSite.short"))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, prop(e.properties, Tracer.ReqProp), span,
      site, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.tasksFailed += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageMax.put(e.stageId, math.max(stageMax.getOrElse(e.stageId, 0L), m.executorRunTime))
        stageSum.put(e.stageId, stageSum.getOrElse(e.stageId, 0L) + m.executorRunTime)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    stageJob.get(sid).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      j.maxTaskMsSum += stageMax.getOrElse(sid, 0L)
      j.taskMsSum += stageSum.getOrElse(sid, 0L)
    }
    stageMax.remove(sid)
    stageSum.remove(sid)
  }
}

/** Catalyst phase times (parsing, analysis, optimization, planning) of
  * every query execution: (start epoch ms, seconds). */
class Planning extends QueryExecutionListener {
  val recs = new ConcurrentLinkedQueue[(Long, Double)]()
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      recs.add((ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}
