package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a layer's counters are
  * read only after every event its jobs posted has been handled. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
