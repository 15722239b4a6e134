package graft

import graft.model.Turn
import graft.sources.TranscriptGen
import org.apache.spark.sql.functions._

/** Delta-boundedness evidence for [[Pipeline.runIncremental]]: on one
  * corpus, time (a) the from-scratch flagship over 100% of the
  * conversations and (b) an increment applying the last `deltaFrac` of
  * conversations over IncrementState base tables built from the rest.
  * The claim under test is the maintenance story — an ingestion cycle
  * costs O(delta) detection, keying, pair work, and clustering, never a
  * from-scratch re-score — so the headline number is full_s / inc_s at
  * delta_frac.
  *
  * Protocol: one JVM (Bench JVM shape from build.sbt); the base
  * bootstrap runs FIRST and warms JIT/codegen for both timed runs; the
  * increment is timed before the full run so warm-up bias, if any,
  * favors the from-scratch side. Corpus via TranscriptGen
  * (deterministic, Zipf-hot mentions); conversation-complete split via
  * the deterministic md5 sampler (Sampling.hashSample on conv_id).
  *
  * `sbt "runMain graft.IncrementBench"`; GRAFT_INC_CONVS sizes the
  * corpus (default 200k convs ≈ 1.3M turns), GRAFT_INC_FRAC the delta
  * share (default 0.1). GRAFT_INC_JOINED=1 detects the delta with the
  * distributed dimension dictionary. GRAFT_INC_RETRACT=1 times the
  * forget path instead: [[Pipeline.runRetraction]] of GRAFT_INC_FRAC of
  * the base conversations (edge-carve repair over the bootstrapped
  * edge table), against from-scratch over the remaining ones.
  * GRAFT_INC_PROFILE=1 replaces the timed maintenance op with a phased
  * run that reports per-phase walls (with GRAFT_INC_RETRACT=1, the
  * retraction's [[Pipeline.PhaseTimer]] phases).
  *
  * Scaling protocol (the north-rule two-cluster-size criterion applied
  * to the steady-state maintenance job): set GRAFT_INC_STATE_DIR so the
  * base tables come from [[Pipeline.bootstrapState]] with a
  * [[Pipeline.Stager.Checkpointed]] stager — the first run builds and
  * stages them, every later run at any SPARK_GRAFT_CPUS
  * is a pure disk read (the realistic shape: production scans Iceberg
  * base tables, it does not hold them in the increment's JVM) — and
  * GRAFT_INC_SKIP_FULL=1 to time only the increment. Then interleave
  * fresh JVMs at 2 and 8 cores on the identical staged state and report
  * (thr_8/thr_2)/4.
  */
object IncrementBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val nConvs = sys.env.getOrElse("GRAFT_INC_CONVS", "200000").toInt
    val deltaFrac = sys.env.getOrElse("GRAFT_INC_FRAC", "0.1").toDouble
    val spark = Bench.benchSession(cpus)
    import spark.implicits._

    val cfg = TranscriptGen.GenConfig(nEntities = 2000, nConvs = nConvs)
    val path = Bench.ensureCorpus(spark, cfg)
    val turns = spark.read.parquet(path).as[Turn]
    val dict = TranscriptGen.dict(cfg)
    val vecs = TranscriptGen.entityVectors(cfg, operators.MentionDetect.CtxDim)

    val isBase = operators.Sampling.hashSample(col("conv_id"), 1.0 - deltaFrac, "incbench")
    val baseTurns = turns.where(isBase).as[Turn]
    // the delta arrives as its OWN table (production: the ingestion
    // cycle reads the new Iceberg partition, it never rescans the base
    // corpus to find its input) — stage it once, untimed
    val deltaPath = s"$path-delta-$deltaFrac"
    if (!new java.io.File(s"$deltaPath/_SUCCESS").exists()) {
      turns.where(!isBase).write.mode("overwrite").parquet(deltaPath)
    }
    val deltaTurns = spark.read.parquet(deltaPath).as[Turn]
    val nTurns = turns.count()
    val nDelta = deltaTurns.count()

    // base tables (untimed for the headline; this also warms JIT/codegen
    // for BOTH timed runs below)
    val stage = sys.env.get("GRAFT_INC_STATE_DIR")
      .fold[Pipeline.Stager](Pipeline.Stager.InMemory)(
        Pipeline.Stager.Checkpointed(_, s"incbench:$nConvs:$deltaFrac:v1"))
    val t0 = System.nanoTime()
    val state = Pipeline.bootstrapState(
      Pipeline.Dictionary.Broadcast(dict, vecs).mentions(baseTurns), stage = stage)
    val baseS = (System.nanoTime() - t0) / 1e9

    val profile = sys.env.get("GRAFT_INC_PROFILE").contains("1")

    // GRAFT_INC_JOINED=1: time the DISTRIBUTED-dimension increment
    // (Pipeline.Dictionary.Dimension) — dictionary and vectors read from
    // parquet dimension tables, no driver Map anywhere. This is the
    // 100-TB maintenance configuration; staging the dims is untimed
    // (production reads them from Iceberg).
    val joined = sys.env.get("GRAFT_INC_JOINED").contains("1")
    val dimsDir = s"$path-dims"
    if (joined && !new java.io.File(s"$dimsDir/dict/_SUCCESS").exists()) {
      dict.values.toSeq.sortBy(_.mention).toDS()
        .write.mode("overwrite").parquet(s"$dimsDir/dict")
      vecs.toSeq.toDF("entity", "vec")
        .write.mode("overwrite").parquet(s"$dimsDir/vecs")
    }
    val dictionary =
      if (joined)
        Pipeline.Dictionary.Dimension(
          spark.read.parquet(s"$dimsDir/dict").as[graft.model.DictEntry],
          spark.read.parquet(s"$dimsDir/vecs"), expectedDictKeys = dict.size.toLong)
      else Pipeline.Dictionary.Broadcast(dict, vecs)

    // GRAFT_INC_RETRACT=1: time the FORGET path instead — retract
    // deltaFrac of the BASE conversations via Pipeline.runRetraction
    // over the staged state (the retract list itself is an input in
    // production, so deriving it is untimed). The comparison leg is a
    // from-scratch run over the remaining conversations.
    val retractMode = sys.env.get("GRAFT_INC_RETRACT").contains("1")
    val retractConvs =
      if (retractMode)
        baseTurns.select(col("conv_id")).distinct()
          .where(operators.Sampling.hashSampleAt(col("conv_id"), deltaFrac, 6, "retrbench"))
          .localCheckpoint(true)
      else null
    val nRetract = if (retractMode) retractConvs.count() else -1L

    // timed: the increment (before the full run, so warm-up bias favors
    // the from-scratch side). In profile mode the phased run below IS the
    // increment — running both would leave the first run's checkpoint
    // blocks contaminating the second's phase attribution.
    val t1 = System.nanoTime()
    val (nUpserts, incS, nClusters) = if (profile) (-1L, -1.0, -1L) else if (retractMode) {
      val ret = Pipeline.runRetraction(retractConvs, state)
      val ups = ret.clusterUpserts.count()
      val secs = (System.nanoTime() - t1) / 1e9
      (ups, secs, ret.clusters.count())
    } else {
      val inc = Pipeline.runIncremental(deltaTurns, dictionary, state)
      val ups = inc.clusterUpserts.count()
      val secs = (System.nanoTime() - t1) / 1e9
      (ups, secs, inc.clusters.count())
    }

    // timed: from-scratch over 100% (retract mode: over the remaining
    // conversations — the run the retraction replaces); skippable for
    // scaling reps where only the maintenance op is under test
    val skipFull = sys.env.get("GRAFT_INC_SKIP_FULL").contains("1")
    val fullInput =
      if (retractMode)
        baseTurns.join(retractConvs, Seq("conv_id"), "left_anti").as[Turn]
      else turns
    val t2 = System.nanoTime()
    val nFull = if (skipFull) -1L else Pipeline.run(fullInput, dict, vecs).count()
    val fullS = if (skipFull) -1.0 else (System.nanoTime() - t2) / 1e9

    // ratios are only meaningful when BOTH legs were actually timed —
    // in profile mode incS is the -1.0 sentinel and an unguarded divide
    // would emit negative garbage into the bench-evidence jsonl
    val speedup = if (skipFull || profile || incS <= 0) 0.0 else fullS / incS
    // in retract mode the timed operation touches the RETRACTED turns,
    // not the increment delta — report the workload it actually measured
    val nWork =
      if (retractMode)
        baseTurns.join(retractConvs, Seq("conv_id"), "left_semi").count()
      else nDelta
    val deltaThr = if (profile || incS <= 0) 0.0 else nWork / incS
    val json =
      s"""{"metric":"increment_bench","convs":$nConvs,"turns":$nTurns,""" +
      s""""delta_frac":$deltaFrac,"delta_turns":$nWork,""" +
      s""""base_s":$baseS,"inc_s":$incS,"full_s":$fullS,""" +
      s""""speedup_vs_full":$speedup,""" +
      s""""delta_turns_per_sec":$deltaThr,""" +
      s""""upsert_rows":$nUpserts,"inc_rows":$nClusters,"full_rows":$nFull,""" +
      s""""joined":$joined,"retract":$retractMode,"retract_convs":$nRetract,""" +
      s""""ncpu":$cpus}"""
    println(json)

    // GRAFT_INC_PROFILE=1 + GRAFT_INC_RETRACT=1: attribute the retraction
    // repair wall via Pipeline.PhaseTimer (each stage ends in an eager
    // localCheckpoint, so per-stage walls are real compute)
    if (profile && retractMode) {
      val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      Pipeline.PhaseTimer.sink = Some((n, s) => phases.synchronized { phases += ((n, s)) })
      val tr = System.nanoTime()
      val ret = Pipeline.runRetraction(retractConvs, state)
      val ups = ret.clusterUpserts.count()
      val wall = (System.nanoTime() - tr) / 1e9
      Pipeline.PhaseTimer.sink = None
      val body = phases.map { case (n, s) => s""""$n":$s""" }.mkString(",")
      println(s"""{"metric":"retraction_profile","wall_s":$wall,""" +
        s""""upsert_rows":$ups,$body}""")
    }
    // GRAFT_INC_PROFILE=1: run the increment phase by phase in a clean
    // JVM (the headline run is skipped) and report where the wall goes
    else if (profile) {
      def timed[A](body: => A): (A, Double) = {
        val t = System.nanoTime(); val a = body; (a, (System.nanoTime() - t) / 1e9)
      }
      val cfgP = Pipeline.Config()
      // joined mode: attribute the dimension-join detection separately
      // from the (shared) increment tail — the tail is identical
      // machinery to the broadcast path, so any scaling gap between the
      // two configurations lives in this phase
      val (deltaMs, detectS) = timed {
        dictionary.mentions(deltaTurns, cfgP).toDF().localCheckpoint(true)
      }
      val (parts, partsS) = timed {
        Pipeline.incrementParts(deltaMs, state, cfgP)
      }
      val (memberEdges, memberS) = timed { parts.memberEdges.localCheckpoint(true) }
      val (newEdges, edgesS) = timed { parts.newEdges.localCheckpoint(true) }
      val (ups, upsertsS) = timed {
        Pipeline.incrementUpserts(deltaMs, parts.deltaReps, memberEdges,
                                  newEdges, state, cfgP).localCheckpoint(true)
      }
      val (_, mergeS) = timed { Pipeline.mergedClusters(state, ups).count() }
      println(s"""{"metric":"increment_profile","detect_s":$detectS,""" +
        s""""parts_s":$partsS,"member_s":$memberS,"edges_s":$edgesS,""" +
        s""""upserts_s":$upsertsS,"merge_s":$mergeS}""")
    }
    spark.stop()
  }
}
