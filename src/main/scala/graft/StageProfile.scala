package graft

import graft.sources.TranscriptGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

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
  * The stages are the pipeline's own [[Pipeline.PhaseTimer]] phases of
  * one `Pipeline.run` (`mentions` is detection ∪ coref). Each phase ends
  * in an eager checkpoint, so the time between two phase ends is the
  * later phase's own work (a nested phase is not counted twice). A second,
  * unprofiled run gives the end-to-end time.
  *
  * `sbt "runMain graft.StageProfile [nConvs] [cpus]"`; one JVM per level
  * (intra-JVM heap state skews a second run — see ScalingBench). */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toInt).getOrElse(5000)
    val cpus = args.lift(1).getOrElse("32")
    val spark = Bench.benchSession(cpus)
    val cfg = TranscriptGen.GenConfig(nEntities = 2000, nConvs = nConvs)
    val path = Bench.ensureCorpus(spark, cfg)

    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskMs.addAndGet(e.taskInfo.duration): Unit
    })
    import spark.implicits._
    val dict = TranscriptGen.dict(cfg)
    val vecs = TranscriptGen.entityVectors(cfg, operators.MentionDetect.CtxDim)
    val turns = spark.read.parquet(path).as[graft.model.Turn]
    val nTurns = turns.count()
    val stages = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    var (lastNs, lastTaskMs) = (System.nanoTime(), taskMs.get())
    Pipeline.PhaseTimer.sink = Some { (name, _) =>
      // wall stops HERE — the listener-bus drain below is measurement
      // overhead, not stage time (only the task-time read needs it)
      val wall = (System.nanoTime() - lastNs) / 1e9
      Thread.sleep(300)
      val task = (taskMs.get() - lastTaskMs) / 1e3
      stages += ((name, wall, task))
      println(f"[stage] $name%-12s wall=$wall%8.2f s task=$task%9.1f s")
      lastTaskMs = taskMs.get(); lastNs = System.nanoTime()
    }
    val nMentions =
      try Pipeline.run(turns, dict, vecs).count() finally Pipeline.PhaseTimer.sink = None
    println(s"turns=$nTurns mentions=$nMentions")
    // end-to-end single shot (what Bench times)
    val (secs, nT, n) = Bench.runPipeline(spark, path, cfg)
    println(f"[stage] end2end      $secs%8.2f s  ($nT turns, $n mentions, ${nT / secs}%.0f turns/s)")
    val stageJson = stages.map { case (k, w, t) =>
      f"""{"name":"$k","wall_s":$w%.2f,"task_s":$t%.1f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"stage_profile","cpus":$cpus,"n_convs":$nConvs,""" +
            f""""turns":$nTurns,"end2end_s":$secs%.2f,"turns_per_sec":${nT / secs}%.1f,""" +
            s""""stages":$stageJson}""")
    spark.stop()
  }
}
