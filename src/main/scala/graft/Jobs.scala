package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge

/** The one job listener: what the Spark jobs a block starts cost, as
  * counted by the scheduler. */
object Jobs {

  /** The jobs a block started: each job's call site (the name of its
    * last stage), and the stages and tasks that completed. A stage the
    * scheduler skipped (its shuffle output already existed) is not
    * counted. */
  final case class Counts(sites: Seq[String], stages: Int, tasks: Int) {
    def jobs: Int = sites.size
  }

  private val Tag = "graft.jobs.during"

  /** `body`'s result and the [[Counts]] of the jobs it started on the
    * calling thread. Jobs are matched by a local property, so a job
    * another thread runs at the same time is left out; the listener
    * bus is drained before the counts are read. */
  def during[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val tag = java.util.UUID.randomUUID().toString
    val sites = new ConcurrentLinkedQueue[String]()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val (stages, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Tag) == tag)) {
          sites.add(j.stageInfos.maxBy(_.stageId).name)
          j.stageIds.foreach(stageIds.add(_))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(s.stageInfo.stageId)) {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      Bridge.drainListeners(sc)
      (r, Counts(sites.asScala.toSeq, stages.get, tasks.get))
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
