package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the harness wait until every queued listener event has been
  * delivered before it reads the counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
