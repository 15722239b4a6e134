package graft

import graft.model.{Candidate, Mention, Turn}
import graft.sources.TranscriptGen
import org.apache.spark.graft.{ListenerBus, RddSite}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Retraction-maintenance gate: forgetting conversations via
  * Pipeline.runRetraction must reproduce the from-scratch clustering over
  * the remaining turns (splits included), re-mint supernode reps whose
  * representative left, touch only affected clusters in its upserts, and
  * leave a state that chains with later increments. */
class RetractionSpec extends SparkSpec {
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

  private def stateOf(ts: org.apache.spark.sql.Dataset[Turn]): Pipeline.IncrementState =
    Pipeline.bootstrapState(Pipeline.allMentions(ts, dictBc, vecsBc))

  test("retraction == from-scratch over the remaining turns; upserts touch only affected clusters") {
    val retract = convs.zipWithIndex.collect { case (c, i) if i % 4 == 0 => c }
    val state = stateOf(turns.as[Turn])
    val ret = Pipeline.runRetraction(retract.toDF("conv_id"), state)

    val remaining = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    val scratch = Pipeline.run(remaining, dict, vecs)
    assert(assign(ret.clusters) == assign(scratch))

    // upsert-bound: every upsert row survives, sat in an affected
    // cluster, and actually changed its assignment
    val retractSet = retract.toSet
    val baseAssign = state.clusters
      .select("mention_id", "conv_id", "cluster_id")
      .as[(String, String, String)].collect()
    val affectedCids = baseAssign.collect {
      case (_, c, cid) if retractSet.contains(c) => cid
    }.toSet
    val byId = baseAssign.map { case (m, c, cid) => m -> ((c, cid)) }.toMap
    val ups = ret.clusterUpserts.select("mention_id", "cluster_id")
      .as[(String, String)].collect()
    assert(ups.nonEmpty)
    ups.foreach { case (m, newCid) =>
      val (c, oldCid) = byId(m)
      assert(!retractSet.contains(c), s"upsert rewrote a retracted row $m")
      assert(affectedCids.contains(oldCid), s"upsert touched unaffected cluster $oldCid")
      assert(oldCid != newCid, s"upsert rewrote an unchanged assignment $m")
    }

    // no retracted row survives anywhere in the merged view or state
    assert(ret.clusters.where(col("conv_id").isInCollection(retract)).isEmpty)
    assert(ret.newState.mentions.where(col("conv_id").isInCollection(retract)).isEmpty)
  }

  // a chain A–B–C where only B bridges: same norm, context, and no ED
  // resolution; candidate priors overlap A∩B and B∩C but not A∩C, so
  // score(A,B)=score(B,C)=0.50 (= threshold) and score(A,C)=0.35
  private def bridgeMention(conv: String, cands: Seq[(String, Double)]): Mention = {
    val ctx = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    Mention(s"$conv:000000:000000", conv, 0, 0, 2, "Acme Corp", "acme corp",
      cands.map { case (e, p) => Candidate(e, p) }.toArray, ctx, "", 0.0)
  }

  test("retracting the bridging mention SPLITS the cluster, matching from-scratch") {
    val a = bridgeMention("ca", Seq("e1" -> 1.0))
    val b = bridgeMention("cb", Seq("e1" -> 1.0, "e2" -> 1.0))
    val c = bridgeMention("cc", Seq("e2" -> 1.0))
    val state = Pipeline.bootstrapState(Seq(a, b, c).toDS())
    // precondition: one chained cluster through B
    assert(assign(state.clusters).values.toSet == Set("ca:000000:000000"))

    val ret = Pipeline.runRetraction(Seq("cb").toDF("conv_id"), state)
    val scratch = Pipeline.bootstrapState(Seq(a, c).toDS()).clusters
    assert(assign(ret.clusters) == assign(scratch))
    assert(assign(ret.clusters) ==
      Map("ca:000000:000000" -> "ca:000000:000000",
          "cc:000000:000000" -> "cc:000000:000000"))
  }

  test("retracting a group's representative re-mints the rep as the surviving group-min") {
    val retract = Seq(convs.head)
    val state = stateOf(turns.as[Turn])
    val ret = Pipeline.runRetraction(retract.toDF("conv_id"), state)

    val remaining = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    val scratchState = stateOf(remaining)
    val gotReps = ret.newState.reps
      .select("norm", "resolved", "rep_id").as[(String, String, String)]
      .collect().toSet
    val wantReps = scratchState.reps
      .select("norm", "resolved", "rep_id").as[(String, String, String)]
      .collect().toSet
    assert(gotReps == wantReps)
    // the retracted conversation did hold at least one representative,
    // so the repair path was actually exercised
    val retractedIds = state.clusters
      .where(col("conv_id").isInCollection(retract))
      .select("mention_id").as[String].collect().toSet
    val oldReps = state.reps.select("rep_id").as[String].collect().toSet
    assert(retractedIds.intersect(oldReps).nonEmpty,
      "fixture too weak: no representative retracted")
    assert(assign(ret.clusters) == assign(Pipeline.run(remaining, dict, vecs)))
  }

  test("retract-then-increment chains: newState supports a later append") {
    val third = convs.length / 3
    val (early, late) = convs.splitAt(2 * third)
    val retract = early.zipWithIndex.collect { case (c, i) if i % 5 == 0 => c }

    val state0 = stateOf(turns.where(col("conv_id").isInCollection(early)).as[Turn])
    val ret = Pipeline.runRetraction(retract.toDF("conv_id"), state0)
    val inc = Pipeline.runIncremental(
      turns.where(col("conv_id").isInCollection(late)).as[Turn],
      Pipeline.Dictionary.Broadcast(dict, vecs), ret.newState)

    val finalTurns = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    assert(assign(inc.clusters) == assign(Pipeline.run(finalTurns, dict, vecs)))
  }

  test("edge-table fast path == re-scoring slow path == from-scratch") {
    val retract = convs.zipWithIndex.collect { case (c, i) if i % 3 == 0 => c }
    val state = stateOf(turns.as[Turn])
    assert(state.edges.isDefined, "bootstrapState must capture the edge table")
    val fast = Pipeline.runRetraction(retract.toDF("conv_id"), state)
    val remaining = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    val scratch = assign(Pipeline.run(remaining, dict, vecs))
    assert(assign(fast.clusters) == scratch)
    assert(fast.newState.edges.isDefined)
  }

  test("a state without the edge table is rejected before any job runs") {
    val state = stateOf(turns.where(col("conv_id").isInCollection(convs.take(8))).as[Turn])
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val err = try intercept[IllegalArgumentException] {
      Pipeline.runRetraction(convs.take(1).toDF("conv_id"), state.copy(edges = None))
    } finally { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
    assert(err.getMessage.contains("build the state with bootstrapState"))
    assert(jobs.get == 0)
  }

  test("star-regime hub retraction: orphaned spokes re-link via the new hub (both paths)") {
    // 6 same-norm mentions in one block; forced star regime (hub-spoke
    // pairs only). Retracting the hub's conversation must NOT split the
    // cluster — repair re-derives the block with a NEW hub.
    val starCfg = Pipeline.Config(tau = 2, starThreshold = 4, starK = 1)
    val ms = (1 to 6).map(i => bridgeMention(f"c$i%02d", Seq("e1" -> 1.0)))
    val state = Pipeline.bootstrapState(ms.toDS(), starCfg)
    assert(assign(state.clusters).values.toSet.size == 1, "precondition: one star cluster")

    val scratch = assign(Pipeline.bootstrapState(ms.tail.toDS(), starCfg).clusters)
    assert(scratch.values.toSet == Set("c02:000000:000000"),
      "from-scratch over the survivors re-links them via a new hub")
    val fast = Pipeline.runRetraction(Seq("c01").toDF("conv_id"), state, starCfg)
    assert(assign(fast.clusters) == scratch)
    // one dirty side (the hub's block): the fresh edges are that side's
    // scoring leaf itself, not a second checkpoint of it
    val parts = Pipeline.retractionParts(Seq("c01").toDF("conv_id"), state, starCfg)
    val leaf = CacheTracker.leafRdd(parts.freshEdges)
    def caller(site: String) = site.linesIterator.find(_.startsWith("graft.")).getOrElse("")
    assert(leaf.exists(r => caller(RddSite.of(r)).contains("scoreRegionPairs")),
      leaf.map(RddSite.of).getOrElse("fresh edges read no leaf"))
  }

  test("spoke retraction of a star block re-derives ZERO fresh edges (clean-block carve)") {
    // 6 same-norm mentions, forced star regime, hub = min id c01.
    // Retracting a NON-hub spoke leaves every block clean (hubs retained,
    // still star-sized): the repair must be pure edge subtraction — no
    // pair re-derivation, no re-scoring at all.
    val starCfg = Pipeline.Config(tau = 2, starThreshold = 4, starK = 1)
    val ms = (1 to 6).map(i => bridgeMention(f"c$i%02d", Seq("e1" -> 1.0)))
    val state = Pipeline.bootstrapState(ms.toDS(), starCfg)
    val parts = Pipeline.retractionParts(Seq("c05").toDF("conv_id"), state, starCfg)
    assert(parts.freshEdges.isEmpty,
      "no hub left and the regime held — nothing may be re-scored")
    assert(!parts.freshEdges.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD]),
      "with no dirty block the fresh edges read no leaf: no scoring plan over state.keyed")

    val survivors = ms.zipWithIndex.collect { case (m, i) if i != 4 => m }
    val scratchState = Pipeline.bootstrapState(survivors.toDS(), starCfg)
    val ret = Pipeline.runRetraction(Seq("c05").toDF("conv_id"), state, starCfg)
    assert(assign(ret.clusters) == assign(scratchState.clusters))
    // the maintained edge table equals the from-scratch edge set exactly
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").as[(String, String)].collect().toSet
    assert(edgeSet(ret.newState.edges.get) == edgeSet(scratchState.edges.get))
  }

  test("chained retractions maintain the edge table: second retract still == from-scratch") {
    val r1 = convs.zipWithIndex.collect { case (c, i) if i % 5 == 0 => c }
    val r2 = convs.zipWithIndex.collect { case (c, i) if i % 5 == 1 => c }
    val state = stateOf(turns.as[Turn])
    val ret1 = Pipeline.runRetraction(r1.toDF("conv_id"), state)
    val ret2 = Pipeline.runRetraction(r2.toDF("conv_id"), ret1.newState)
    val remaining = turns
      .where(!col("conv_id").isInCollection(r1 ++ r2)).as[Turn]
    assert(assign(ret2.clusters) == assign(Pipeline.run(remaining, dict, vecs)))
  }

  test("checkpointed retraction: staged rerun reproduces the clustering and from-scratch") {
    val root = java.nio.file.Files.createTempDirectory("graft-retr").toString
    val retract = convs.zipWithIndex.collect { case (c, i) if i % 6 == 0 => c }
    val state = stateOf(turns.as[Turn])
    val stage = Pipeline.Stager.Checkpointed(root, "retr:v1")
    val r1 = Pipeline.runRetraction(retract.toDF("conv_id"), state, stage = stage)
    Seq("retract_reps", "retract_keyed", "retract_upserts",
        "retract_edges").foreach { s =>
      assert(stage.done(s), s"stage $s not staged with the run fingerprint")
    }
    // second call with the same fingerprint resumes from the staged
    // artifacts (stage tables are pure reads) — identical output
    val r2 = Pipeline.runRetraction(retract.toDF("conv_id"), state, stage = stage)
    assert(assign(r2.clusters) == assign(r1.clusters))
    val remaining = turns.where(!col("conv_id").isInCollection(retract)).as[Turn]
    assert(assign(r1.clusters) == assign(Pipeline.run(remaining, dict, vecs)))
    // a changed fingerprint recomputes: retracting nothing under "retr:v2"
    // must leave the clustering untouched, not replay the staged upserts
    val none = Pipeline.runRetraction(Seq.empty[String].toDF("conv_id"), state,
      stage = Pipeline.Stager.Checkpointed(root, "retr:v2"))
    assert(none.clusterUpserts.isEmpty)
  }

  test("retracting everything empties the clustering; retracting nothing changes nothing") {
    val slice = convs.take(8)
    val state = stateOf(turns.where(col("conv_id").isInCollection(slice)).as[Turn])
    val all = Pipeline.runRetraction(slice.toDF("conv_id"), state)
    assert(all.clusters.isEmpty)
    assert(all.newState.keyed.isEmpty)
    assert(all.newState.reps.isEmpty)

    val none = Pipeline.runRetraction(Seq.empty[String].toDF("conv_id"), state)
    assert(none.clusterUpserts.isEmpty)
    assert(assign(none.clusters) == assign(state.clusters))
  }
}
