package graft

import graft.model.Turn
import graft.sources.TranscriptGen
import org.apache.spark.sql.functions._

/** State-compaction gate: Pipeline.compactState must preserve every state
  * table row-for-row, leave increments and retractions over the compacted
  * state identical to the original, and physically deliver the bucketed
  * promise — a sort-merge join probing a compacted table on its bucket key
  * exchanges ONLY the probe side. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 150, nConvs = 300)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim)
  lazy val dictBc = spark.sparkContext.broadcast(dict)
  lazy val vecsBc = spark.sparkContext.broadcast(vecs)

  private def assign(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("mention_id", "cluster_id").as[(String, String)].collect().toMap

  private lazy val convs: Seq[String] =
    turns.select("conv_id").distinct().as[String].collect().sorted.toSeq

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("compaction preserves every state table row-for-row") {
    val base = turns.where(col("conv_id") < convs(convs.size / 2)).as[Turn]
    val state = Pipeline.bootstrapState(Pipeline.allMentions(base, dictBc, vecsBc))
    val compact = Pipeline.compactState(state, tmp("graft-compact"), buckets = 4,
                                        label = "rows")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(rows(compact.mentions) == rows(state.mentions))
    assert(rows(compact.keyed) == rows(state.keyed))
    assert(rows(compact.reps) == rows(state.reps))
    assert(rows(compact.clusters) == rows(state.clusters))
    assert(compact.edges.isDefined)
    assert(rows(compact.edges.get) == rows(state.edges.get))
  }

  test("re-compacting the same root reads epoch N while writing N+1 — no self-overwrite") {
    val base = turns.where(col("conv_id") < convs(convs.size / 2)).as[Turn]
    val state = Pipeline.bootstrapState(Pipeline.allMentions(base, dictBc, vecsBc))
    val root = tmp("graft-recompact")
    val c1 = Pipeline.compactState(state, root, buckets = 4, label = "re")
    // second compaction over the FIRST compaction's frames, same root —
    // the fixed-layout version DROPped and overwrote the very tables c1
    // is reading from
    val c2 = Pipeline.compactState(c1, root, buckets = 4, label = "re")
    assert(c2.mentions.count() == state.mentions.count())
    assert(c2.clusters.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
           state.clusters.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // and c1 is still readable after c2 wrote (distinct epochs on disk)
    assert(c1.mentions.count() == state.mentions.count())
    val epochs = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("epoch_"))
    assert(epochs.toSet == Set("epoch_1", "epoch_2"))
  }

  test("increment over a compacted state == over the original == from-scratch") {
    val split = convs(convs.size * 3 / 4)
    val base = turns.where(col("conv_id") < split).as[Turn]
    val delta = turns.where(col("conv_id") >= split).as[Turn]
    val state = Pipeline.bootstrapState(Pipeline.allMentions(base, dictBc, vecsBc))
    val compact = Pipeline.compactState(state, tmp("graft-compact"), buckets = 4,
                                        label = "inc")
    val dictionary = Pipeline.Dictionary.Broadcast(dict, vecs)
    val incC = Pipeline.runIncremental(delta, dictionary, compact)
    val incO = Pipeline.runIncremental(delta, dictionary, state)
    val scratch = assign(Pipeline.run(turns.as[Turn], dict, vecs))
    assert(assign(incC.clusters) == scratch)
    assert(assign(incO.clusters) == scratch)
  }

  test("retraction over a compacted state takes the edge fast path and == from-scratch") {
    val retract = convs.zipWithIndex.collect { case (c, i) if i % 4 == 0 => c }
    val state = Pipeline.bootstrapState(
      Pipeline.allMentions(turns.as[Turn], dictBc, vecsBc))
    val compact = Pipeline.compactState(state, tmp("graft-compact"), buckets = 4,
                                        label = "retr")
    assert(compact.edges.isDefined, "compaction must carry the edge table through")
    val ret = Pipeline.runRetraction(retract.toDF("conv_id"), compact)
    val remaining = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    assert(assign(ret.clusters) == assign(Pipeline.run(remaining, dict, vecs)))
  }

  test("join probing a compacted table on its bucket key exchanges only the probe side") {
    val base = turns.where(col("conv_id") < convs(convs.size / 2)).as[Turn]
    val state = Pipeline.bootstrapState(Pipeline.allMentions(base, dictBc, vecsBc))
    val compact = Pipeline.compactState(state, tmp("graft-compact"), buckets = 4,
                                        label = "plan")
    val probe = state.clusters.select(col("mention_id")).limit(5000)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the payload-attach shape: corpus-sized mentions probed by a pair-id
      // set too big to broadcast
      val j = compact.mentions.join(probe, Seq("mention_id"), "left_semi")
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected exactly one Exchange (probe side only), got $exchanges:\n$plan")
      // the un-compacted original shuffles BOTH sides under the same plan
      val j0 = state.mentions.join(probe, Seq("mention_id"), "left_semi")
      j0.count()
      val plan0 = j0.queryExecution.executedPlan.toString
      val exchanges0 = "Exchange hashpartitioning".r.findAllIn(plan0).length
      assert(exchanges0 >= 2,
        s"control: un-bucketed join should exchange both sides:\n$plan0")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
