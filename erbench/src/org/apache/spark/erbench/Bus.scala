package org.apache.spark.erbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the tracer drains it at op
  * boundaries so every event of an op is counted before the next op
  * starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
