package org.apache.spark.graftspec

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Lets a spec wait until every queued listener event has been
  * delivered before it reads what its listener counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the call sites of the Spark jobs it started
    * on this thread (the name of each job's last stage). */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val tag = s"graftspec-${java.util.UUID.randomUUID()}"
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.spec.probe") == tag))
          sites.add(j.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.probe", tag)
    try {
      val r = body
      drain(sc)
      (r, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.spec.probe", null)
      sc.removeSparkListener(listener)
    }
  }
}
