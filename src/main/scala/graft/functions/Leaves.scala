// Inside the org.apache.spark.sql package hierarchy because a checkpoint
// leaf's LogicalRDD statistics and Dataset.ofRows are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint leaves (`localCheckpoint`ed frames) as what they hold. */
object Leaves {

  /** `leaf` sized by its own `rows`.
    *
    * A checkpoint keeps the size estimate of the plan that computed it,
    * so two leaves holding the same rows are planned differently
    * downstream when they came from different plans (a cogroup's estimate
    * is the product of its inputs'). Sized from its rows, a leaf plans the
    * same whatever produced it. Any other frame is returned unchanged. */
  def sized(leaf: DataFrame, rows: Long): DataFrame = leaf.queryExecution.analyzed match {
    case r: LogicalRDD =>
      val session = leaf.sparkSession.asInstanceOf[classic.SparkSession]
      val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
      classic.Dataset.ofRows(session, r.copy()(session, Some(stats), None))
    case _ => leaf
  }

  /** Up to `n` rows of the string columns `cols` of `leaf`, read from its
    * materialized rows: no query is planned, so no class is generated. */
  def strings(leaf: DataFrame, cols: String*)(n: Int): Array[Array[String]] =
    leaf.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val at = cols.map(c => r.output.indexWhere(_.name == c)).toArray
        require(!at.contains(-1), s"$cols not all in ${r.output}")
        r.rdd.map(row => at.map(i => if (row.isNullAt(i)) null else row.getUTF8String(i).toString))
          .take(n)
      case other => throw new IllegalArgumentException(s"not a checkpoint leaf: $other")
    }
}
