package graft

import graft.model.Turn
import graft.sources.TranscriptGen
import org.apache.spark.sql.functions._

/** Incremental maintenance gate: appending new conversations via
  * Pipeline.runIncremental over the IncrementState base tables must
  * reproduce the from-scratch clustering on the F1 fixtures
  * (clean-scorer corpora), with pair work delta-bound and every upsert
  * row accounted for (delta rows + merged-cluster rewrites only). */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 150, nConvs = 300)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val gold = TranscriptGen.goldMentions(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim)
  lazy val dictBc = spark.sparkContext.broadcast(dict)
  lazy val vecsBc = spark.sparkContext.broadcast(vecs)
  lazy val dictionary = Pipeline.Dictionary.Broadcast(dict, vecs)
  lazy val full = Pipeline.run(turns, dict, vecs).cache()

  private def assign(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("mention_id", "cluster_id").as[(String, String)].collect().toMap

  private def convSlice(convs: Seq[String]) =
    turns.where(col("conv_id").isInCollection(convs)).as[Turn]

  private def stateOf(convs: Seq[String]): Pipeline.IncrementState =
    Pipeline.bootstrapState(Pipeline.allMentions(convSlice(convs), dictBc, vecsBc))

  private lazy val convs: Seq[String] =
    turns.select("conv_id").distinct().as[String].collect().sorted.toSeq

  test("one increment reproduces the from-scratch clustering; pair work is delta-bound") {
    val (oldConvs, newConvs) = convs.splitAt((convs.length * 0.6).toInt)
    val state = stateOf(oldConvs)

    val inc = Pipeline.runIncremental(convSlice(newConvs), dictionary, state)
    assert(assign(inc.clusters) == assign(full))

    // delta-bound: every newly scored edge touches a delta mention
    val deltaIds = inc.deltaMentions.select("mention_id").as[String].collect().toSet
    assert(deltaIds.nonEmpty)
    val newEdges = inc.newEdges.select("src", "dst").as[(String, String)].collect()
    assert(newEdges.nonEmpty)
    assert(newEdges.forall { case (s, d) => deltaIds.contains(s) || deltaIds.contains(d) },
      "an incremental edge re-scored a historical pair")

    // upsert-bound: every upsert row is a delta mention or a historical
    // row whose cluster id actually changed
    val baseAssign = assign(state.clusters)
    val ups = inc.clusterUpserts.select("mention_id", "cluster_id")
      .as[(String, String)].collect()
    assert(ups.nonEmpty)
    assert(ups.forall { case (m, c) =>
      deltaIds.contains(m) || baseAssign.get(m).exists(_ != c)
    }, "an upsert row rewrote an unchanged historical assignment")
  }

  test("chained increments equal from-scratch and pass the F1 gate") {
    val third = convs.length / 3
    val (a, rest) = convs.splitAt(third)
    val (b, c) = rest.splitAt(third)

    val state0 = stateOf(a)
    val inc1 = Pipeline.runIncremental(convSlice(b), dictionary, state0)
    // chain: roll the delta tables into the state (what production
    // appends/merges into the Iceberg base tables)
    val state1 = Pipeline.applyIncrement(state0, inc1)
    val inc2 = Pipeline.runIncremental(convSlice(c), dictionary, state1)

    assert(assign(inc2.clusters) == assign(full))
    val f1 = Pipeline.pairwiseF1(inc2.clusters, gold, dict)
    info(f"chained-increment F1=${f1.f1}%.4f (tp=${f1.tp} fp=${f1.fp} fn=${f1.fn})")
    assert(f1.f1 >= 0.99)
  }

  test("increment == from-scratch under forced triangle/star pair regimes") {
    // tiny tau/starThreshold route real blocks through the salted and
    // star paths, so candidatePairsDelta's hot/star branches run inside
    // the actual pipeline (the Blocking property test covers them on
    // synthetic keys; this covers them in situ)
    val starCfg = Pipeline.Config(tau = 4, starThreshold = 8, starK = 3)
    val fullStar = Pipeline.run(turns, dict, vecs, starCfg)
    val (oldConvs, newConvs) = convs.splitAt((convs.length * 0.6).toInt)
    val state = Pipeline.bootstrapState(
      Pipeline.allMentions(convSlice(oldConvs), dictBc, vecsBc, starCfg), starCfg)
    val inc = Pipeline.runIncremental(convSlice(newConvs), dictionary, state, starCfg)
    assert(assign(inc.clusters) == assign(fullStar))
  }

  test("backfill (delta ids sort BEFORE base): same partition, labels may differ") {
    // runIncremental documents the delta-after-base id assumption for
    // LABEL equality; backfilling older conversations must still produce
    // the same clustering AS A PARTITION (sticky base reps keep the edge
    // set connecting the same groups; only min-id labels can shift)
    def partition(df: org.apache.spark.sql.DataFrame): Set[Set[String]] =
      assign(df).groupBy(_._2).values.map(_.keySet).toSet
    val (early, late) = convs.splitAt((convs.length * 0.4).toInt)
    val state = stateOf(late) // base = LATER conv ids
    val inc = Pipeline.runIncremental(convSlice(early), dictionary, state)
    assert(partition(inc.clusters) == partition(full))
  }

  test("checkpointed bootstrap == in-memory bootstrap; rerun is a pure read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-boot").toString
    val (oldConvs, newConvs) = convs.splitAt((convs.length * 0.6).toInt)
    val mem = stateOf(oldConvs)
    val stage = Pipeline.Stager.Checkpointed(dir, "fp1")
    assert(!stage.done("mentions", "keyed", "edges", "clusters", "reps"))
    val ck = Pipeline.bootstrapState(
      dictionary.mentions(convSlice(oldConvs)), stage = stage)
    assert(stage.done("mentions", "keyed", "edges", "clusters", "reps"))
    assert(assign(ck.clusters) == assign(mem.clusters))
    assert(ck.keyed.count() == mem.keyed.count())
    assert(ck.reps.count() == mem.reps.count())
    // resume: same fingerprint, EMPTY turns — everything reads from disk
    val ck2 = Pipeline.bootstrapState(
      dictionary.mentions(spark.emptyDataset[Turn]), stage = stage)
    assert(assign(ck2.clusters) == assign(mem.clusters))
    // and an increment over the disk-backed state matches from-scratch
    val inc = Pipeline.runIncremental(convSlice(newConvs), dictionary, ck2)
    assert(assign(inc.clusters) == assign(full))
  }

  test("checkpointed increment == from-scratch; same-fingerprint rerun resumes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val (oldConvs, newConvs) = convs.splitAt((convs.length * 0.6).toInt)
    val state = stateOf(oldConvs)

    val stage = Pipeline.Stager.Checkpointed(dir, "fp1")
    val inc1 = Pipeline.runIncremental(
      convSlice(newConvs), dictionary, state, stage = stage)
    assert(assign(inc1.clusters) == assign(full))
    assert(stage.done("mentions_delta", "reps_delta", "keyed_delta",
                      "edges_delta", "cluster_upserts"))

    // resume proof: EMPTY new turns but the same fingerprint — the full
    // clustering must come back from the stage tables alone
    val inc2 = Pipeline.runIncremental(
      spark.emptyDataset[Turn], dictionary, state, stage = stage)
    assert(assign(inc2.clusters) == assign(full))
  }
}
