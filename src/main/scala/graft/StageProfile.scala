package graft

import graft.model.Turn
import graft.operators._
import graft.sources.TranscriptGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Per-stage scaling profile of the ER pipeline: wall time AND total task
  * (executor) time per stage, one JSON line per run. Running it at
  * several core counts on the SAME corpus decomposes the end-to-end
  * scaling efficiency stage by stage, and the task-time column separates
  * the two possible causes of sub-linear scaling:
  *
  *  - task_s roughly CONSTANT across core counts, wall_s ≈ task_s/cores →
  *    the stage scales; any end-to-end shortfall is elsewhere.
  *  - task_s INFLATES with core count for identical work → the cores are
  *    stalling on shared resources (single memory bus on this box), not
  *    on shuffle/driver serialization — per-task CPU includes the stalls.
  *
  * `sbt "runMain graft.StageProfile [nConvs] [cpus]"`; one JVM per level
  * (intra-JVM heap state skews a second run — see ScalingBench). */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toInt).getOrElse(5000)
    val cpus = args.lift(1).getOrElse("32")
    val spark = Bench.benchSession(cpus)
    import spark.implicits._
    val cfg = TranscriptGen.GenConfig(nEntities = 2000, nConvs = nConvs)
    val path = Bench.ensureCorpus(spark, cfg)
    val dict = TranscriptGen.dict(cfg)
    val vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)
    val turns = spark.read.parquet(path).as[Turn]

    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskMs.addAndGet(e.taskInfo.duration): Unit
    })
    val stages = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def time[T](name: String)(f: => T): T = {
      val tm0 = taskMs.get(); val t0 = System.nanoTime()
      val r = f
      // wall stops HERE — the listener-bus drain below is measurement
      // overhead, not stage time (it inflated every published r3 stage
      // by a constant ~0.3 s; only the task-time read needs the drain)
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener bus drain (task-time read only)
      val task = (taskMs.get() - tm0) / 1e3
      stages(name) = (wall, task)
      println(f"[stage] $name%-12s wall=$wall%8.2f s task=$task%9.1f s")
      r
    }

    val nTurns = time("read")(turns.count())
    println(s"turns=$nTurns")
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(vecs)
    // flagship mention stage: detect ∪ inherit in one conv-group shuffle
    val allMs = Coref.detectAndInherit(turns, dictBc, vecsBc).cache()
    println(s"all_mentions=${time("detect_inherit")(allMs.count())}")
    val pcfg = Pipeline.Config()
    // supernode internals, timed stage by stage
    val msDf = allMs.toDF()
    val eligible = msDf.where(col("resolved") =!= "" &&
      col("resolvedScore") >= pcfg.score.minMargin)
    val reps = eligible.groupBy("norm", "resolved").agg(min("mention_id").as("rep_id"))
    val withRep = eligible.join(reps, Seq("norm", "resolved"))
    val memberEdges = withRep.where(col("mention_id") =!= col("rep_id"))
      .select(col("rep_id").as("src"), col("mention_id").as("dst")).cache()
    println(s"memberEdges=${time("supernode")(memberEdges.count())}")
    val scoringMs = msDf
      .join(withRep.select(col("mention_id"), col("rep_id")), Seq("mention_id"), "left")
      .where(col("rep_id").isNull || col("rep_id") === col("mention_id"))
      .drop("rep_id").as[graft.model.Mention].cache()
    println(s"scoringMs=${time("scoring_set")(scoringMs.count())}")
    val keyed = Blocking.withBlockKeys(scoringMs, pcfg.lsh).cache()
    println(s"keyed=${time("blockkeys")(keyed.count())}")
    val pairIds = Blocking.candidatePairs(keyed, pcfg.tau, pcfg.blockMaxSize,
                                          pcfg.starThreshold, pcfg.starK).cache()
    println(s"pairs=${time("pairs")(pairIds.count())}")
    val es = Scoring.edges(Blocking.attachPayload(pairIds, scoringMs), pcfg.score).cache()
    println(s"edges=${time("score")(es.count())}")
    val assign = time("cc")(Clustering.connectedComponents(es, pcfg.ccMaxIter).cache())
    println(s"assign=${time("cc_cnt")(assign.count())}")
    // end-to-end single shot (what Bench times)
    val (secs, nT, n) = Bench.runPipeline(spark, path, cfg)
    println(f"[stage] end2end      $secs%8.2f s  ($nT turns, $n mentions, ${nT / secs}%.0f turns/s)")
    val stageJson = stages.map { case (k, (w, t)) =>
      f"""{"name":"$k","wall_s":$w%.2f,"task_s":$t%.1f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"stage_profile","cpus":$cpus,"n_convs":$nConvs,""" +
            f""""turns":$nTurns,"end2end_s":$secs%.2f,"turns_per_sec":${nT / secs}%.1f,""" +
            s""""stages":$stageJson}""")
    spark.stop()
  }
}
