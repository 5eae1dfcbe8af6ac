package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread. A traced op waits for
  * that queue to empty before its counters are read, so every event of the
  * op is attributed to it. Lives in Spark's package because the queue is
  * private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
