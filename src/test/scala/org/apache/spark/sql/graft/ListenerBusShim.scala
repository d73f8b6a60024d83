package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a spec counting Spark jobs needs
  * one call on it: wait until every event posted so far has reached the
  * listeners, so a count read afterwards holds every job that ran. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
