// Inside the org.apache.spark package hierarchy because an RDD's creation
// site is private[spark].
package org.apache.spark.graft

import org.apache.spark.rdd.RDD

object RddSite {
  /** The call stack that created `rdd`, innermost frame first. */
  def of(rdd: RDD[_]): String = rdd.creationSite.longForm
}
