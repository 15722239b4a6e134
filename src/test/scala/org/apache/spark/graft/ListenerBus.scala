// Inside the org.apache.spark package hierarchy because SparkContext's
// listener bus is private[spark].
package org.apache.spark.graft

import org.apache.spark.SparkContext

object ListenerBus {
  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
