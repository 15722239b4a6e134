package graft

import graft.sources.TranscriptGen
import org.apache.spark.sql.SparkSession

/** Sample entrypoint: run the full ER pipeline (generate → block → score →
  * cluster → evaluate) on a small deterministic corpus and print what a
  * library user would check first. `sbt "runMain graft.Demo [nConvs]"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toInt).getOrElse(300)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = TranscriptGen.GenConfig(nEntities = 150, nConvs = nConvs)
    val turns = TranscriptGen.transcripts(spark, cfg).cache()
    val gold = TranscriptGen.goldMentions(spark, cfg).cache()
    println(s"turns=${turns.count()} gold_mentions=${gold.count()}")

    val dict = TranscriptGen.dict(cfg)
    val vecs = TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim)
    val dictionary = Pipeline.Dictionary.Broadcast(dict, vecs)
    // fitted-model artifact (SURVEY D6, full lifecycle): when no artifact
    // exists, FIT the scoring weights + threshold on the corpus's labeled
    // candidate pairs (train), persist the artifact, then load it — a
    // re-calibration is a job run that ships a new artifact file, never a
    // code change
    val artifact = "target/demo/score_config.json"
    if (!new java.io.File(artifact).exists()) {
      val ms = dictionary.mentions(turns).cache()
      val fit = graft.operators.Calibrate.fitAndSave(
        graft.operators.Calibrate.labeledFeaturesFromGold(ms, gold), artifact)
      println(f"calibrated: ${fit.pairs} labeled pairs (${fit.positives} pos) " +
              f"pair-F1=${fit.f1}%.4f holdout-F1=${fit.holdoutF1}%.4f " +
              f"threshold=${fit.cfg.threshold}%.4f")
      ms.unpersist(); ()
    }
    val score = graft.operators.Scoring.loadConfig(artifact)
    println(s"score config from artifact: threshold=${score.threshold}")
    val pcfg = Pipeline.Config(score = score)
    val clusters = Pipeline.run(turns, dict, vecs, pcfg).cache()
    println(s"mentions_clustered=${clusters.count()}")
    println("sample clusters (largest first):")
    clusters.groupBy("cluster_id").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"), org.apache.spark.sql.functions.asc("cluster_id"))
      .show(5, false)
    clusters.orderBy("cluster_id", "mention_id").show(10, false)

    val f1 = Pipeline.pairwiseF1(clusters, gold, dict)
    println(f"pairwise: tp=${f1.tp} fp=${f1.fp} fn=${f1.fn} " +
            f"P=${f1.precision}%.4f R=${f1.recall}%.4f F1=${f1.f1}%.4f")

    // incremental-maintenance lifecycle: bootstrap the IncrementState
    // base tables from the first 70% of conversations, apply the rest as
    // one O(delta) ingestion cycle, verify it reproduces the from-scratch
    // clustering exactly (what a deployment runs every cycle instead of
    // re-clustering the corpus)
    {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      // conversation-complete split as a pure function of conv_id — no
      // driver-side collect of the conversation universe. ORDERED, not
      // hashed: runIncremental assumes delta mention ids sort after
      // their group's base ids (Pipeline Scaladoc); TranscriptGen conv
      // ids are fixed-width c%08d so a lexicographic threshold is the
      // numeric 70% point.
      val isBase = col("conv_id") < lit(f"c${(nConvs * 0.7).toInt}%08d")
      val state = Pipeline.bootstrapState(
        dictionary.mentions(turns.where(isBase).as[graft.model.Turn], pcfg), pcfg)
      val inc = Pipeline.runIncremental(turns.where(!isBase).as[graft.model.Turn],
                                        dictionary, state, pcfg)
      val incAssign = inc.clusters.select("mention_id", "cluster_id")
        .as[(String, String)].collect().toMap
      val fullAssign = clusters.select("mention_id", "cluster_id")
        .as[(String, String)].collect().toMap
      println(s"increment: delta_mentions=${inc.deltaMentions.count()} " +
              s"upserts=${inc.clusterUpserts.count()} " +
              s"equals_from_scratch=${incAssign == fullAssign}")

      // forget lifecycle: retract 10% of the conversations from the
      // maintained state (right-to-be-forgotten / bad-source removal) and
      // verify the repaired clustering equals a from-scratch run over the
      // remaining turns — affected clusters split/re-min, nothing else
      // moves
      // COMPACT the rolled state before the retraction — the periodic
      // physical rewrite a deployment schedules between cycles: every
      // state table lands bucketed on its hot join key, so downstream
      // base-side joins exchange only their probe side
      // (Pipeline.compactState; plan-gated in CompactionSpec)
      val nextState = Pipeline.compactState(
        Pipeline.applyIncrement(state, inc), "target/demo/compacted")
      val retract = turns.select("conv_id").distinct()
        .where(graft.operators.Sampling.hashSample(col("conv_id"), 0.1, "demo-retract"))
      val ret = Pipeline.runRetraction(retract, nextState, pcfg)
      val retAssign = ret.clusters.select("mention_id", "cluster_id")
        .as[(String, String)].collect().toMap
      val scratchAssign = Pipeline.run(
          turns.join(retract, Seq("conv_id"), "left_anti").as[graft.model.Turn],
          dict, vecs, pcfg)
        .select("mention_id", "cluster_id").as[(String, String)].collect().toMap
      println(s"retraction: retracted_convs=${retract.count()} " +
              s"upserts=${ret.clusterUpserts.count()} " +
              s"equals_from_scratch=${retAssign == scratchAssign}")
    }
    spark.stop()
  }
}
