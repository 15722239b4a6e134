package graft.streaming

import graft.Pipeline
import graft.model.Turn
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a clustered corpus: every micro-batch of
  * newly ingested turns is applied as ONE [[Pipeline.runIncremental]]
  * cycle over the evolving [[Pipeline.IncrementState]] — the streaming
  * twin of the batch ingestion loop, for deployments that keep the
  * entity clustering CONTINUOUSLY current instead of re-running a
  * nightly increment. Work per micro-batch is the increment's O(delta)
  * bound; the base corpus is never re-detected, re-keyed, re-grouped, or
  * re-clustered.
  *
  * State discipline: `foreachBatch` is the right Structured-Streaming
  * primitive here because the "state" is four TABLES (mentions / keyed /
  * reps / clusters), not per-key values — flatMapGroupsWithState state
  * lives per key inside one query, while an increment needs cross-key
  * joins against all four tables. In production each batch APPENDS the
  * delta tables and MERGEs the cluster upserts into Iceberg (exactly
  * [[Pipeline.applyIncrement]]'s contract) and restart-safety comes from
  * the sink's idempotent writes keyed by `batchId` plus the source
  * checkpoint; this in-memory runner materializes the merged clusters
  * per batch (the MERGE analogue) so scan cost per cycle stays O(corpus)
  * flat instead of accumulating one anti-join per processed batch.
  *
  * Increments must be conversation-complete (coref inheritance reaches
  * only within a batch — route a conversation's turns into one batch,
  * e.g. session-gap windowing upstream); this is [[Pipeline.runIncremental]]'s
  * documented contract, inherited verbatim. `dictionary` picks broadcast
  * or distributed-dimension detection, as for [[Pipeline.runIncremental]].
  */
class StreamingMaintain(dictionary: Pipeline.Dictionary,
                        initial: Pipeline.IncrementState,
                        cfg: Pipeline.Config = Pipeline.Config()) {

  @volatile private var current: Pipeline.IncrementState = initial

  /** The state after all processed batches (thread-safe snapshot). */
  def state: Pipeline.IncrementState = current

  /** Apply one conversation-complete batch of new turns. Public so batch
    * callers (a scheduled job) and tests drive the same code path the
    * stream does. */
  def applyBatch(newTurns: Dataset[Turn]): Unit = synchronized {
    if (!newTurns.isEmpty) {
      val inc = Pipeline.runIncremental(newTurns, dictionary, current, cfg)
      val rolled = Pipeline.applyIncrement(current, inc)
      // materialize the merged clusters (MERGE INTO analogue) — bounds
      // the per-cycle plan at one merge instead of a growing chain
      current = rolled.copy(clusters = rolled.clusters.localCheckpoint(true))
    }
  }

  /** Apply one batch of FORGET requests (conversation ids) — the
    * streaming right-to-be-forgotten path, symmetric to [[applyBatch]]:
    * each micro-batch of retraction requests runs ONE
    * [[Pipeline.runRetraction]] repair (O(affected-cluster) work over
    * the state's edge table) and rolls the
    * carved state forward. Appends only MERGE clusters and retractions
    * only SPLIT them, so interleaving the two streams converges to the
    * from-scratch clustering over (ingested − forgotten) regardless of
    * arrival order — gated in StreamingMaintainSpec. */
  def applyRetractBatch(rconvs: Dataset[String]): Unit = synchronized {
    if (!rconvs.isEmpty) {
      val ret = Pipeline.runRetraction(rconvs.toDF("conv_id"), current, cfg)
      current = ret.newState.copy(
        clusters = ret.newState.clusters.localCheckpoint(true))
    }
  }

  /** Start maintaining from an append stream of turns. */
  def start(turns: Dataset[Turn],
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    turns.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Turn], _: Long) => applyBatch(batch) }
      .start()

  /** Start consuming a stream of forget requests (conversation ids).
    * Runs against the same synchronized state as [[start]], so an
    * ingestion stream and a retraction stream can maintain one corpus
    * concurrently (micro-batches serialize on the state lock). */
  def startRetractions(rconvs: Dataset[String],
                       trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    rconvs.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[String], _: Long) => applyRetractBatch(batch) }
      .start()
}
