package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Lets a spec wait until every queued listener event has been
  * delivered before it reads what its listener counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
