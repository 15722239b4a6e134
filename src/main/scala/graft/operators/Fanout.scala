package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan-parallelism floor for CPU-heavy map stages.
  *
  * A small parquet file is one row group, so its scan is ONE task no
  * matter how many cores the session has — `maxPartitionBytes` splits
  * files, but a parquet split only yields rows for whole row groups, so
  * splitting cannot parallelize a single-row-group file. Every per-row
  * kernel downstream of such a scan (tokenize → shingle → 128-hash
  * MinHash signatures, regex chains, gram explodes) then runs on one
  * core while the rest idle: the guide §2.5 "input skew — one huge
  * unsplittable file … repartition immediately after the read" case, in
  * miniature.
  *
  * `Fanout(df)` round-robin-repartitions to the session default
  * parallelism ONLY when the source has fewer partitions — at production
  * scale a corpus scan already carries ≥ cores splits and this is a
  * no-op (no Exchange added), so the floor cannot become a scale
  * regression. Round-robin repartition is deterministic under retry
  * (sortBeforeRepartition, on by default — SPARK-23207). Callers apply
  * it to slim (id, text) projections of a SCAN, BEFORE the expensive
  * kernel — never to wide payloads, never to a derived frame with an
  * exchange below it (under AQE the `.rdd` probe materializes the final
  * plan, running every upstream shuffle once for the probe and again for
  * the action) — and only where downstream aggregation is exact
  * (counts, min/max, integer sums) so partial-agg ORDER cannot perturb
  * rounded floating-point outputs. */
object Fanout {
  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
