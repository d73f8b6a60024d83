package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the tracer needs one call on it:
  * wait until every event posted so far has reached the listeners, so a
  * span's counters are read only after its last job's events arrived. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
