package graft.erbench

import graft.{CacheTracker, Pipeline}
import graft.model.{DictEntry, Mention, Turn}
import graft.operators.{Blocking, Clustering, Coref, Dedup, MentionDetect, Scoring}
import graft.sources.TranscriptGen
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes and loop lengths of one benchmark scale. */
final case class Scale(batchConvs: Int, nearDupDocs: Int, setupReps: Int, loops: Boolean)

object Scale {
  val full = Scale(batchConvs = 400, nearDupDocs = 1000, setupReps = 3, loops = true)
  /** For the self-check only: every code path once. */
  val tiny = Scale(batchConvs = 80, nearDupDocs = 60, setupReps = 2, loops = false)
}

final case class Ctx(spark: SparkSession, seed: Long, scale: Scale,
                     cacheRoot: String, workDir: String, breakCheck: Boolean)

/** One workload: inputs built from the seed by `setup`, two op kinds run
  * in alternation by [[Main]], each op's output checked by `check`. */
abstract class Workload(val ctx: Ctx) {
  type Out
  /** The two op kinds, in the order they alternate. */
  def ops: Seq[String]
  /** Op kinds of one measured cycle, in order. */
  def cycle: Seq[Int] = Seq(0, 1)
  /** Fewest measured cycles, however short `--seconds` is. */
  def minCycles: Int
  /** Layer prefixes of [[Metrics.perLayer]] this workload's ops enter. */
  def layers: Set[String]
  /** Generates the inputs a run may cache between runs; untimed. */
  def stage(): Unit = ()
  /** Builds every input from the seed; timed as set-up. */
  def setup(): Unit
  /** Runs op `kind` and drains every output it would persist; timed. */
  def run(kind: Int, span: Spans): Out
  /** Checks one op's output; untimed. */
  def check(kind: Int, out: Out): Boolean
  /** End-of-run checks: (quality ratio, number of failed checks). */
  def finish(): (Double, Int)
  /** Per-layer metrics of one traced op, read from its spans. */
  def layerMetrics(kind: Int, span: Spans, tracer: Tracer): Map[String, Double]
  /** Traced runs only: per-layer metrics measured outside the op loop,
    * with the number of probe ops attempted and failed. */
  def probes(): (Map[String, Double], Int, Int) = (Map.empty, 0, 0)

  protected val spark: SparkSession = ctx.spark
  protected def genConfig(nConvs: Int): TranscriptGen.GenConfig =
    TranscriptGen.GenConfig(nEntities = 2000, nConvs = nConvs, zipfS = 1.2, seed = ctx.seed)

  /** First output of each kind is the reference the later ones must equal;
    * `--break-check` corrupts the reference of kind 0 so its ops fail. */
  private val refs = Array.fill[Option[Any]](2)(None)
  protected def sameAsFirst(kind: Int, value: Any, ref: Int = -1): Boolean = {
    val slot = if (ref >= 0) ref else kind
    val want = refs(slot).getOrElse { refs(slot) = Some(value); value }
    value == want && !(ctx.breakCheck && kind == 0)
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch" => new Batch(ctx)
    case "neardup" => new NearDup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `block`/`score`/`cc` timed on the materialized bootstrap state: the
    * public layer calls over `keyed`, the scored pairs and `edges`. Median
    * of three repetitions. */
  def blockScoreCc(state: Pipeline.IncrementState): Map[String, Double] = {
    val spark = state.mentions.sparkSession
    import spark.implicits._
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
    }
    val scoringIds = state.keyed.select(col("mid").as("mention_id")).distinct()
    val scoringMs = state.mentions.join(scoringIds, Seq("mention_id"), "left_semi").as[Mention]
    val reps = (1 to 3).map { _ =>
      CacheTracker.scoped {
        val (pairs, blockS) = timed { Blocking.candidatePairs(state.keyed).localCheckpoint(true) }
        val (edges, scoreS) = timed {
          Scoring.edges(Blocking.attachPayload(pairs, scoringMs)).localCheckpoint(true)
        }
        val (cc, ccS) = timed {
          Clustering.connectedComponents(state.edges.get).localCheckpoint(true)
        }
        val n = (pairs.count().toDouble, edges.count().toDouble,
                 cc.select("cluster_id").distinct().count().toDouble)
        CacheTracker.drainUnpersist()
        (n, blockS, scoreS, ccS)
      }
    }
    val (nPairs, nEdges, nClusters) = reps.last._1
    Map(
      "supernode.ratio" -> scoringIds.count().toDouble / state.mentions.count(),
      "block.keys" -> state.keyed.select("block_key").distinct().count().toDouble,
      "block.candidate_pairs" -> nPairs,
      "block.wall_s" -> Stats.median(reps.map(_._2)),
      "score.edges" -> nEdges,
      "score.yield" -> (if (nPairs > 0) nEdges / nPairs else 0.0),
      "score.wall_s" -> Stats.median(reps.map(_._3)),
      "cc.clusters" -> nClusters,
      "cc.wall_s" -> Stats.median(reps.map(_._4)))
  }

  def layerOf(span: Spans, tracer: Tracer, name: String, keep: String*): Map[String, Double] =
    span.layer(tracer, name, name).filter { case (k, _) => keep.exists(s => k == s"$name.$s") }
}

/** Full-corpus ER: `run` is [[Pipeline.run]] (broadcast dictionary),
  * `joined` is [[Pipeline.runJoined]] over parquet dictionary and vector
  * dimension tables. Traced runs also measure the `block`/`score`/`cc`
  * layers and incremental maintenance ([[Maintenance]]) on this corpus. */
final class Batch(ctx: Ctx) extends Workload(ctx) {
  type Out = DataFrame
  val ops = Seq("run", "joined")
  // One cycle outlasts --seconds. Its second `run` (passes 2 and 3 of `run`,
  // pass 2 of `joined`) is there because `run`'s pass-2 CPU varied most
  // (spread 0.22 over ten seeds); a second `joined` would cost 10 s a run.
  override val cycle = Seq(0, 1, 0)
  val minCycles = 1
  val layers = Set("detect", "detect_joined", "cluster", "supernode", "block", "score", "cc",
                   "increment", "retract")

  private val cfg = genConfig(ctx.scale.batchConvs)
  private var turns: Dataset[Turn] = _
  private var dict: Map[String, DictEntry] = _
  private var vecs: Map[String, Array[Float]] = _
  private var dictDf: Dataset[DictEntry] = _
  private var vecDf: DataFrame = _
  private var lastRun: DataFrame = _
  private var runPrint: (Long, Long) = _

  private var corpusDir: String = _

  override def stage(): Unit = corpusDir = Inputs.corpus(spark, cfg, ctx.cacheRoot)

  def setup(): Unit = {
    import spark.implicits._
    turns = spark.read.parquet(corpusDir).as[Turn]
    turns.count()
    dict = TranscriptGen.dict(cfg)
    vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)
    val dims = s"${ctx.workDir}/dims"
    dict.values.toSeq.sortBy(_.mention).toDS().write.mode("overwrite").parquet(s"$dims/dict")
    vecs.toSeq.toDF("entity", "vec").write.mode("overwrite").parquet(s"$dims/vecs")
    dictDf = spark.read.parquet(s"$dims/dict").as[DictEntry]
    vecDf = spark.read.parquet(s"$dims/vecs")
  }

  def run(kind: Int, span: Spans): DataFrame = {
    val sc = spark.sparkContext
    val out =
      if (!span.traced) {
        if (kind == 0) Pipeline.run(turns, dict, vecs)
        else Pipeline.runJoined(turns, dictDf, vecDf, expectedDictKeys = dict.size.toLong)
      } else CacheTracker.scoped {
        val ms =
          if (kind == 0) span("detect") {
            Pipeline.allMentions(turns, sc.broadcast(dict), sc.broadcast(vecs)).localCheckpoint(true)
          } else span("detect_joined") {
            MentionDetect.resolveJoined(
              Coref.detectAndInheritJoined(turns, dictDf, dict.size.toLong), vecDf)
              .localCheckpoint(true)
          }
        span.count("detect.mentions")(ms.count().toDouble)
        span("cluster")(Pipeline.cluster(ms))
      }
    span("cluster")(Inputs.drain(out))
    out
  }

  def check(kind: Int, out: DataFrame): Boolean = {
    val print = Inputs.fingerprint(out, "mention_id", "cluster_id")
    if (kind == 0) { lastRun = out; if (runPrint == null) runPrint = print }
    // `joined` must assign exactly the clusters `run` does: one reference
    sameAsFirst(kind, print, ref = 0)
  }

  def finish(): (Double, Int) = {
    val f1 = Pipeline.pairwiseF1(lastRun, TranscriptGen.goldMentions(spark, cfg), dict).f1
    (f1, if (f1 >= 0.99) 0 else 1)
  }

  def layerMetrics(kind: Int, span: Spans, tracer: Tracer): Map[String, Double] = {
    val detect =
      if (kind == 0)
        Workload.layerOf(span, tracer, "detect", "wall_s", "task_cpu_s", "shuffle_mb") ++
          span.counts
      else Workload.layerOf(span, tracer, "detect_joined", "wall_s", "task_cpu_s", "shuffle_mb")
    detect ++ Workload.layerOf(span, tracer, "cluster",
      "wall_s", "task_cpu_s", "shuffle_mb", "spill_mb", "task_skew")
  }

  override def probes(): (Map[String, Double], Int, Int) = {
    val m = new Maintenance(spark, cfg, turns, dict, vecs, ctx.workDir)
    val inc = m.increment()
    val ret = m.retract()
    val failed = m.check(runPrint)
    (Workload.blockScoreCc(m.state) ++ inc ++ ret, 2, failed)
  }
}

/** Incremental maintenance on the batch corpus (traced runs only). The
  * state is bootstrapped from the conversations with index < 0.9 N; the
  * delta is the rest, in ingestion order, so delta mention ids sort after
  * the base ids of their supernode group (the order
  * [[Pipeline.runIncremental]] assumes). `increment` appends the delta in
  * the phase split IncrementBench's profile mode uses; `retract` forgets a
  * seeded 10% of the base conversations with [[Pipeline.PhaseTimer]]
  * installed. Both start from the same state. */
final class Maintenance(spark: SparkSession, cfg: TranscriptGen.GenConfig,
                        all: Dataset[Turn], dict: Map[String, DictEntry],
                        vecs: Map[String, Array[Float]], workDir: String) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private val cutIdx = math.ceil(0.9 * cfg.nConvs).toLong
  private val cut = f"c$cutIdx%08d"
  private val base = all.where(col("conv_id") < cut).as[Turn]
  // the delta arrives as its own table
  all.where(col("conv_id") >= cut).write.mode("overwrite").parquet(s"$workDir/delta")
  private val delta = spark.read.parquet(s"$workDir/delta").as[Turn]
  private val retractConvs = (0L until cutIdx)
    .filter(i => Inputs.pick(Inputs.mix(cfg.seed, 0x61L, i), 10) == 0)
    .map(i => f"c$i%08d").toDF("conv_id")
  val state: Pipeline.IncrementState = Pipeline.bootstrapState(
    Pipeline.allMentions(base, sc.broadcast(dict), sc.broadcast(vecs)))
  private var upserts: DataFrame = _
  private var retraction: Pipeline.Retraction = _

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }

  def increment(): Map[String, Double] = CacheTracker.scoped {
    val pcfg = Pipeline.Config()
    val (deltaMs, detectS) = timed {
      Pipeline.allMentions(delta, sc.broadcast(dict), sc.broadcast(vecs)).toDF()
        .localCheckpoint(true)
    }
    val (parts, partsS) = timed(Pipeline.incrementParts(deltaMs, state, pcfg))
    val ((memberEdges, newEdges), edgesS) = timed {
      (parts.memberEdges.localCheckpoint(true), parts.newEdges.localCheckpoint(true))
    }
    val (ups, upsertsS) = timed {
      Pipeline.incrementUpserts(deltaMs, parts.deltaReps, memberEdges, newEdges, state, pcfg)
        .localCheckpoint(true)
    }
    // the four append tables and the MERGE rows: all an ingestion cycle persists
    val (_, drainS) = timed {
      Seq(deltaMs, parts.deltaKeyed, parts.deltaReps, newEdges, ups).foreach(Inputs.drain)
    }
    CacheTracker.drainUnpersist()
    val (_, mergeS) = timed(Inputs.drain(Pipeline.mergedClusters(state, ups)))
    upserts = ups
    Map("increment.detect_s" -> detectS, "increment.parts_s" -> partsS,
        "increment.edges_s" -> edgesS, "increment.upserts_s" -> upsertsS,
        "increment.drain_s" -> drainS, "increment.merge_s" -> mergeS,
        "increment.upsert_rows" -> ups.count().toDouble)
  }

  def retract(): Map[String, Double] = {
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Pipeline.PhaseTimer.sink = Some((n, s) => phases.synchronized {
      phases(n) = phases.getOrElse(n, 0.0) + s })
    try {
      retraction = Pipeline.runRetraction(retractConvs, state)
      Inputs.drain(retraction.clusterUpserts)
    } finally Pipeline.PhaseTimer.sink = None
    Metrics.retractPhases.map(p => s"retract.${p}_s" -> phases.getOrElse(p, 0.0)).toMap +
      ("retract.upsert_rows" -> retraction.clusterUpserts.count().toDouble)
  }

  /** Untimed: the merged increment equals the from-scratch clusters of the
    * whole corpus (`runPrint`, the checked `run` output) and the retraction
    * equals a from-scratch [[Pipeline.run]] over the remaining
    * conversations. Returns the number of failed checks. */
  def check(runPrint: (Long, Long)): Int = {
    def fp(df: DataFrame) = Inputs.fingerprint(df, "mention_id", "cluster_id")
    val incOk = fp(Pipeline.mergedClusters(state, upserts)) == runPrint
    val remaining = base.join(retractConvs, Seq("conv_id"), "left_anti").as[Turn]
    val retOk = fp(retraction.clusters) == fp(Pipeline.run(remaining, dict, vecs))
    if (!incOk) System.err.println("erbench: merged increment differs from the from-scratch run")
    if (!retOk) System.err.println("erbench: retraction differs from the from-scratch run")
    Seq(incOk, retOk).count(!_)
  }
}

/** Near-duplicate detection: `pairs` is [[Dedup.minhashPairs]] over every
  * document, `pairs_delta` is [[Dedup.minhashPairsDelta]] of the planted
  * copies against the originals. Both at word-3 shingles, k = 128,
  * Jaccard ≥ 0.6. */
final class NearDup(ctx: Ctx) extends Workload(ctx) {
  type Out = Set[(Long, Long)]
  val ops = Seq("pairs", "pairs_delta")
  // three cycles outlast --seconds: passes 2 to 4 of each kind are measured
  val minCycles = if (ctx.scale.loops) 3 else 1
  val layers = Set("dedup")

  private val Threshold = 0.6
  private val cfg = genConfig(ctx.scale.nearDupDocs)
  private var docs: DataFrame = _
  private var base: DataFrame = _
  private var delta: DataFrame = _
  private var texts: Map[Long, String] = _
  private var planted: Set[(Long, Long)] = _
  private var recall = 1.0
  private lazy val shingleSets: Map[Long, Set[String]] =
    texts.map { case (id, t) => id -> Dedup.shingles(t, 3).toSet }

  def setup(): Unit = {
    import spark.implicits._
    val (orig, copies, plantedPairs) = Inputs.nearDupDocs(cfg, ctx.scale.nearDupDocs, Threshold)
    val dir = s"${ctx.workDir}/docs"
    (orig ++ copies).toDF("id", "text").write.mode("overwrite").parquet(dir)
    docs = spark.read.parquet(dir)
    docs.count()
    base = docs.where(col("id") < ctx.scale.nearDupDocs)
    delta = docs.where(col("id") >= ctx.scale.nearDupDocs)
    texts = (orig ++ copies).toMap
    planted = plantedPairs.toSet
  }

  def run(kind: Int, span: Spans): Set[(Long, Long)] = CacheTracker.scoped {
    val rows = span("dedup") {
      (if (kind == 0) Dedup.minhashPairs(docs, "id", "text", 3, 128, Threshold)
       else Dedup.minhashPairsDelta(base, delta, "id", "text", 3, 128, Threshold)).collect()
    }
    CacheTracker.drainUnpersist()
    val out = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    span.count("dedup.pairs")(out.size.toDouble)
    out
  }

  private var full: Set[(Long, Long)] = _

  def check(kind: Int, out: Set[(Long, Long)]): Boolean = {
    val found = planted.count(out.contains).toDouble / planted.size
    recall = math.min(recall, found)
    val exact = out.forall { case (a, b) =>
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      (sa & sb).size.toDouble / (sa | sb).size >= Threshold
    }
    if (kind == 0) full = out
    // the delta op must report exactly the full pairs that touch a copy
    val agrees = kind == 0 || full != null &&
      out == full.filter { case (a, b) => math.max(a, b) >= ctx.scale.nearDupDocs }
    found == 1.0 && exact && agrees && sameAsFirst(kind, out)
  }

  def finish(): (Double, Int) = (recall, if (recall == 1.0) 0 else 1)

  def layerMetrics(kind: Int, span: Spans, tracer: Tracer): Map[String, Double] =
    if (kind == 1) Map.empty
    else {
      val shingles = shingleSets.valuesIterator.map(_.size.toDouble).sum
      Workload.layerOf(span, tracer, "dedup", "wall_s", "task_cpu_s", "shuffle_mb") ++
        span.counts ++ Map("dedup.shingles" -> shingles, "dedup.hash_evals" -> shingles * 128)
    }
}
