package graft

import graft.model._
import graft.operators._
import graft.sources.{TableIO, TranscriptGen}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Leaves

/** End-to-end ER pipeline: block → score → cluster (SURVEY.md §3).
  *
  * Stage A (map-only): detect mentions per turn with the broadcast p(e|m)
  *   dictionary, embed context, resolve (ED), derive blocking keys.
  * Stage B (1 shuffle + salted hot path): candidate pairs via self-join on
  *   block_key, pure-column pairwise features, threshold → edges.
  * Stage C (2 shuffles/round): large-star/small-star connected components.
  * Stage D: attach singletons, emit (mention, cluster_id).
  *
  * Lineage rule: every stage boundary is a checkpoint leaf
  * (`localCheckpoint(true)` in memory, a stage table on disk); `persist`
  * is only for a frame shared by branches of ONE plan. A persisted frame
  * carries its whole lineage into every later plan, which re-renders and
  * re-analyses it, and a lazy chain re-nests each subtree at every
  * reference (measured: a 2 GiB plan string on a 300-conversation
  * fixture). Leaves are released through [[CacheTracker]].
  */
object Pipeline {

  case class Config(
      lsh: Blocking.LshConfig = Blocking.LshConfig(),
      score: Scoring.ScoreConfig = Scoring.ScoreConfig(),
      tau: Int = 512,
      blockMaxSize: Int = 10000000,
      starThreshold: Int = 2048,
      starK: Int = 3,
      ccMaxIter: Int = 50,
      supernode: Boolean = true,
      coref: Boolean = true)

  /** Where the knowledge sources (p(e|m) dictionary + entity vectors)
    * live — the only thing that differs between the broadcast flagship
    * and the 100-TB distributed-dimension configuration. Everything after
    * [[mentions]] is shared machinery. */
  sealed trait Dictionary {
    /** Mention universe of `turns`: detected ∪ coref-inherited (or
      * detected only when `cfg.coref` is off), entity-disambiguated. */
    def mentions(turns: Dataset[Turn], cfg: Config = Config()): Dataset[Mention] = this match {
      case Dictionary.Broadcast(dict, vecs) =>
        val sc = turns.sparkSession.sparkContext
        allMentions(turns, sc.broadcast(dict), sc.broadcast(vecs), cfg)
      case Dictionary.Dimension(dictDf, vecDf, expectedDictKeys, bloomFpp) =>
        Coref.detectAndInheritJoined(turns, dictDf, expectedDictKeys, bloomFpp,
                                     vecDf = Some(vecDf), coref = cfg.coref)
    }
  }

  object Dictionary {
    /** Driver Maps shipped to executors as broadcasts. */
    final case class Broadcast(dict: Map[String, DictEntry],
                               vecs: Map[String, Array[Float]]) extends Dictionary

    /** Both dimension tables DISTRIBUTED — a REL-scale p(e|m) dictionary
      * (~10M surfaces × top-K candidates, several GB) and a
      * Wikipedia2Vec-scale vector table (tens of GB) fit in neither a
      * driver Map nor a broadcast. Detection (∪ inheritance when
      * `cfg.coref` is on) runs through Coref.detectAndInheritJoined for
      * both coref settings: one Bloom probe of the slim turn projection,
      * one dictionary join whose hits and candidate vectors regroup once
      * with the turns into exact per-conversation mini-dictionaries and
      * mini vector maps, identical `resolve`. Property-equal to
      * [[Broadcast]] on the same inputs (JoinedDetectSpec).
      *
      * `vecDf` schema: (entity: string, vec: array<float>). Pass
      * `expectedDictKeys` to skip the Bloom-sizing count scan. */
    final case class Dimension(dictDf: Dataset[DictEntry], vecDf: DataFrame,
                               expectedDictKeys: Long = 0L,
                               bloomFpp: Double = 0.01) extends Dictionary
  }

  /** Where stage outputs land. In memory a stage is its frame, unchanged;
    * checkpointed, each stage is a resumable table under `$root/<name>`
    * with a fingerprint manifest (TableIO.stage) — a killed run redoes
    * only unfinished stages and a finished one is a pure read. Stage
    * bodies are by-name: a stage already on disk never evaluates its
    * body. */
  sealed trait Stager {
    def apply(name: String)(df: => DataFrame): DataFrame = this match {
      case Stager.InMemory => df
      case Stager.Checkpointed(root, fingerprint) =>
        TableIO.stage(SparkSession.active, name, s"$root/$name", fingerprint)(df)
    }

    /** Whether every named stage is already written for this run. */
    def done(names: String*): Boolean = this match {
      case Stager.InMemory => false
      case Stager.Checkpointed(root, fingerprint) =>
        names.forall(n => TableIO.readFingerprint(s"$root/$n").contains(fingerprint))
    }
  }

  object Stager {
    case object InMemory extends Stager
    final case class Checkpointed(root: String, fingerprint: String) extends Stager
  }

  /** Flagship mention universe: detected ∪ coref-inherited (REL
    * with_coref — SURVEY §2.3 "union with the detected set downstream").
    * Inherited mentions occupy token positions detection left uncovered,
    * so the union is id-disjoint by construction. ONE shuffle of the slim
    * turn table: detection and inheritance run together per conversation
    * group (Coref.detectAndInherit), property-equal to the two-pass
    * detect-then-cogroup shape (PipelineSpec). */
  def allMentions(turns: Dataset[Turn],
                  dictBc: Broadcast[Map[String, DictEntry]],
                  vecsBc: Broadcast[Map[String, Array[Float]]],
                  cfg: Config = Config()): Dataset[Mention] =
    if (cfg.coref) Coref.detectAndInherit(turns, dictBc, vecsBc)
    else MentionDetect.run(turns, dictBc, vecsBc)

  /** mentions → (mention_id, conv_id, turn_idx, begin, end, surface, norm,
    * resolved, cluster_id). Singleton mentions keep their own id.
    *
    * Supernode collapse (cfg.supernode): mentions with identical
    * (norm, resolved) and a confident ED margin are guaranteed to score
    * above the edge threshold pairwise (jw = lev = 1, agree = 1 ⇒ score ≥
    * wJw + wLev + wAgree + wPrior·p_top − wCos ≥ threshold for the default
    * weights), so pairing inside such a group is pure O(n²) waste. Only
    * one representative (min id) per group enters blocking/scoring; group
    * members take their representative's cluster. This turns the
    * same-entity clique volume (quadratic in corpus size — fatal at 10^12
    * turns where a hot surface has 10^8 identical mentions) into one
    * linear member→rep lookup. Low-margin mentions are never collapsed.
    * The output is a checkpoint leaf; every other leaf of the run is
    * released. */
  def cluster(ms: Dataset[Mention], cfg: Config = Config()): DataFrame =
    CacheTracker.scoped { // per-run registry: concurrent runs can't drain each other
      val run = flagship(ms, cfg, Stager.InMemory)
      Seq(run.mentions, run.keyed, run.edges).foreach(CacheTracker.release)
      CacheTracker.drainUnpersist()
      run.clusters
    }

  /** The stage tables of one from-scratch run. */
  private case class Flagship(mentions: DataFrame, keyed: DataFrame,
                              edges: DataFrame, clusters: DataFrame)

  /** The stage sequence of [[cluster]] and [[bootstrapState]]: mentions →
    * scoring set → keyed → edges → CC/assemble, each a lineage-cut leaf,
    * so only the `mentions` job plans detection. Intermediate leaves go to
    * the caller's [[CacheTracker]] scope. Stage bodies are by-name and the
    * collapse is lazy: a stage already on disk builds no plan. */
  private def flagship(ms0: => Dataset[Mention], cfg: Config, stage: Stager): Flagship = {
    def leafStage(name: String)(df: => DataFrame): DataFrame =
      stage(name)(PhaseTimer.timed(name)(df.localCheckpoint(true)))
    // sized by its rows, not by the detection plan's estimate: every stage
    // after it plans (and generates classes) the same whichever dictionary
    // detected the mentions
    val msDf = {
      val leaf = leafStage("mentions")(ms0.toDF())
      Leaves.sized(leaf, CacheTracker.leafRdd(leaf).fold(0L)(_.count()))
    }
    val spark = msDf.sparkSession
    import spark.implicits._
    lazy val (scoringMs, toRep) = PhaseTimer.timed("supernode") {
      if (cfg.supernode) supernodeCollapse(msDf, cfg)
      else (msDf, msDf.select(metaCols.map(col) :+ col("mention_id").as("rep_id"): _*))
    }
    val keyed = leafStage("keyed")(Blocking.withBlockKeys(scoringMs.as[Mention], cfg.lsh))
    // the scored edges land BEFORE assemble so the edge table is
    // captured without a second scoring pass (CC consumes the
    // materialized frame)
    val edges = leafStage("edges") {
      val pairIds = Blocking.candidatePairs(keyed, cfg.tau, cfg.blockMaxSize,
                                            cfg.starThreshold, cfg.starK)
      Scoring.edges(Blocking.attachPayload(pairIds, scoringMs.as[Mention]), cfg.score)
    }
    val clusters = leafStage("clusters")(assemble(toRep, edges, cfg))
    Flagship(msDf, keyed, edges, clusters)
  }

  /** The columns of a mention that the cluster assignment carries. */
  private val metaCols = Seq("mention_id", "conv_id", "turn_idx", "begin", "end",
                             "surface", "norm", "resolved")

  /** CC over the SCORING graph only (representatives + low-margin
    * mentions — size ∝ distinct surface forms, not corpus rows); every
    * mention then takes the cluster of its scoring node (`rep_id`, itself
    * when it scores) in one join, a map-only broadcast of the components
    * when they are broadcast-sized. Because members sort after their rep
    * (rep = group min), the component min over scoring nodes is the
    * global min — cluster ids stay min-member. */
  private def assemble(toRep: DataFrame, scored: DataFrame, cfg: Config): DataFrame = {
    val assign = PhaseTimer.timed("cc") {
      Clustering.connectedComponents(scored, cfg.ccMaxIter)
    }
    toRep.join(assign, toRep("rep_id") === assign("node"), "left")
      .select(metaCols.map(col) :+
              coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"): _*)
  }

  /** Supernode eligibility: confidently resolved mentions collapse into
    * one representative per (norm, resolved) group. Shared by the
    * from-scratch collapse and the incremental sticky-rep attach so the
    * two paths can never drift. */
  private def eligibleCond(cfg: Config) =
    col("resolved") =!= "" && col("resolvedScore") >= cfg.score.minMargin

  /** The maintenance paths' attach test: [[eligibleCond]] when the
    * supernode collapse is on, no mention when it is off. */
  private def attachCond(cfg: Config) =
    if (cfg.supernode) eligibleCond(cfg) else lit(false)

  /** (norm, resolved, rep_id) supernode representatives — rep = group-min
    * mention_id over the ELIGIBLE members. Map-side partial min, no skew
    * exposure. This is the `reps` base table of [[IncrementState]]. */
  private def repsFrame(msDf: DataFrame, cfg: Config): DataFrame =
    msDf.where(eligibleCond(cfg))
      .groupBy("norm", "resolved")
      .agg(min("mention_id").as("rep_id"))

  /** Split mentions into the scoring set (representatives + low-margin
    * mentions) and every mention's scoring node: (metaCols, rep_id), a
    * checkpoint leaf.
    *
    * Shuffle discipline: the full Mention payload (context vector +
    * candidate list) never crosses a shuffle here. The rep join runs on
    * the payload-free columns (a hot surface form is ~13% of all rows —
    * shipping payloads through that key was measured as THE pipeline
    * bottleneck), and the scoring set is carved out of the payload table
    * with a broadcast semi-join on the (small) representative +
    * low-margin id set — map-only. */
  private def supernodeCollapse(msDf: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val reps = repsFrame(msDf, cfg)
      .select(col("norm").as("rep_norm"), col("resolved").as("rep_resolved"), col("rep_id"))
    // each mention's scoring node: its group rep if eligible, else itself
    // (reps hold eligible groups only, so only eligible mentions match)
    val toRep = CacheTracker.leaf(msDf
      .join(reps, col("norm") === col("rep_norm") && col("resolved") === col("rep_resolved") &&
                  eligibleCond(cfg), "left")
      .select(metaCols.map(col) :+ coalesce(col("rep_id"), col("mention_id")).as("rep_id"): _*))
    val scoringIds = toRep.where(col("mention_id") === col("rep_id")).select("mention_id")
    // broadcast the id set when it is broadcast-sized (the normal case:
    // #distinct surfaces + low-margin tail); degrade to a shuffled
    // semi-join on the uniform mention_id key otherwise. Cutoff 1M rows:
    // mention ids are ~25-byte strings, so 1M ≈ 25-50 MB serialized —
    // comfortably under executor broadcast budgets; 5M (round 1) risked
    // a 100-300 MB broadcast per executor. The ids are a subset of the
    // mentions, so they are counted only when the mentions leaf's row
    // count (its size estimate) is over the cutoff.
    val maxIds = 1000000L
    val fits = msDf.queryExecution.analyzed.stats.rowCount.exists(_ <= maxIds) ||
      scoringIds.count() <= maxIds
    val idSide = if (fits) broadcast(scoringIds) else scoringIds
    (CacheTracker.leaf(msDf.join(idSide, Seq("mention_id"), "left_semi")), toRep)
  }

  /** Full run from raw turns with a broadcast dictionary: detect
    * (∪ coref-inherit) → cluster. */
  def run(turns: Dataset[Turn],
          dict: Map[String, DictEntry],
          vecs: Map[String, Array[Float]],
          cfg: Config = Config()): DataFrame =
    cluster(Dictionary.Broadcast(dict, vecs).mentions(turns, cfg), cfg)

  /** [[run]] with both dimension tables distributed
    * ([[Dictionary.Dimension]]): neither table is collected to the driver;
    * only the dictionary's sketches (MentionDetect.dictSketches) are. */
  def runJoined(turns: Dataset[Turn],
                dictDf: Dataset[DictEntry],
                vecDf: DataFrame,
                cfg: Config = Config(),
                expectedDictKeys: Long = 0L,
                bloomFpp: Double = 0.01): DataFrame =
    cluster(Dictionary.Dimension(dictDf, vecDf, expectedDictKeys, bloomFpp)
              .mentions(turns, cfg), cfg)

  /** The five base tables an incrementally-maintained deployment keeps
    * (each an Iceberg table in production; appended/merged between
    * ingestion cycles, never recomputed):
    *
    *  - `mentions`: full Mention payload rows (ctx vector + candidates) —
    *    read only via semi-join carves, its payloads never cross a
    *    shuffle during an increment;
    *  - `keyed`: slim (block_key, mid) rows of the SCORING set — the
    *    increment probes it for members of delta-active blocks instead
    *    of re-running tokenize+MinHash over the corpus;
    *  - `reps`: (norm, resolved, rep_id) supernode representatives — a
    *    delta mention of a known surface group attaches here without any
    *    re-grouping of the base;
    *  - `clusters`: the previous full assignment (assemble's schema) —
    *    the increment contracts new edges onto it and emits upserts;
    *  - `edges`: the cumulative scored (src, dst) edge set (bootstrap
    *    edges + every increment's newEdges), one slim append per cycle.
    *    [[runRetraction]] repairs clusters by carving it and re-derives
    *    pairs only in blocks whose pair set the retraction changed.
    *    [[bootstrapState]] always fills it; [[runRetraction]] rejects a
    *    state without it. */
  case class IncrementState(mentions: DataFrame, keyed: DataFrame,
                            reps: DataFrame, clusters: DataFrame,
                            edges: Option[DataFrame])

  /** One incremental update's outputs. `deltaMentions`/`deltaKeyed`/
    * `deltaReps`/`newEdges` are APPEND rows for the corresponding
    * [[IncrementState]] tables; `clusterUpserts` is the MERGE INTO row
    * set for the clusters table (new delta rows + historical rows whose
    * cluster id changed by a merge); `clusters` is the convenience
    * merged view ([[mergedClusters]]). [[applyIncrement]] rolls all five
    * into the next cycle's state. */
  case class Increment(deltaMentions: DataFrame, deltaKeyed: DataFrame,
                       deltaReps: DataFrame, newEdges: DataFrame,
                       memberEdges: DataFrame, clusterUpserts: DataFrame,
                       clusters: DataFrame)

  /** From-scratch build of the [[IncrementState]] base tables — run once
    * to bootstrap incremental maintenance. The stage sequence of
    * [[cluster]], keeping the keyed/edges intermediates it computes, plus
    * the `reps` table.
    *
    * With a [[Stager.Checkpointed]] stager this is also the resumable
    * flagship and the production backfill: every state table lands as a
    * stage table under `$root/<name>` (mentions, keyed, edges, clusters,
    * reps), a killed bootstrap redoes only unfinished tables, a finished
    * one is a pure read, and the directories ARE the base tables later
    * [[runIncremental]] cycles scan. `ms0` is by-name: a resumed
    * bootstrap never builds the detection plan (whose joined form scans
    * the dictionary for its Bloom filter). */
  def bootstrapState(ms0: => Dataset[Mention], cfg: Config = Config(),
                     stage: Stager = Stager.InMemory): IncrementState =
    CacheTracker.scoped {
      val run = flagship(ms0, cfg, stage)
      val reps = stage("reps")(repsFrame(run.mentions, cfg).localCheckpoint(true))
      CacheTracker.drainUnpersist()
      IncrementState(run.mentions, run.keyed, reps, run.clusters, Some(run.edges))
    }

  /** MERGE INTO analogue: the base clusters table with an increment's
    * upsert rows applied. */
  def mergedClusters(state: IncrementState, upserts: DataFrame): DataFrame =
    state.clusters
      .join(upserts.select("mention_id"), Seq("mention_id"), "left_anti")
      .unionByName(upserts)

  /** Roll an increment into the state for the next ingestion cycle
    * (production: four Iceberg appends + one MERGE INTO). */
  def applyIncrement(state: IncrementState, inc: Increment): IncrementState =
    IncrementState(
      mentions = state.mentions.unionByName(inc.deltaMentions),
      keyed = state.keyed.unionByName(inc.deltaKeyed),
      reps = state.reps.unionByName(inc.deltaReps),
      clusters = mergedClusters(state, inc.clusterUpserts),
      edges = state.edges.map(_.unionByName(inc.newEdges)))

  /** Periodic STATE COMPACTION: rewrite the append-accumulated state
    * tables into bucketed, in-bucket-sorted layouts keyed by each
    * table's hot join column, returning a state whose frames read from
    * the compacted tables.
    *
    * Why this is the 100-TB follow-on to the O(delta) increment: the
    * increment's carves keep the DELTA side slim, but two base-side
    * joins remain whose big side is the corpus itself —
    *
    *  - the scoring-payload attach (`Blocking.attachPayload` probing
    *    `state.mentions` by pair id): once the cycle's pair-id set
    *    exceeds the broadcast guard, a shuffled join re-exchanges the
    *    payload table — the single largest table in the system — every
    *    cycle;
    *  - the merged-view anti-join (`mergedClusters` probing
    *    `state.clusters` by mention_id) with a large upsert batch.
    *
    * Bucketing `mentions`/`clusters`/`edges` by their join keys pre-pays
    * that Exchange once at compaction time: a sort-merge join against a
    * bucketed table shuffles ONLY the probe side (plan-gated in
    * CompactionSpec), so the corpus-sized side never crosses the wire
    * again no matter how many cycles run before the next compaction.
    * `keyed` buckets by `block_key` (the active-block gather key), and
    * `reps` by its rep-carve key. Appends between compactions union
    * plain delta frames on top — reads stay correct, the zero-exchange
    * property degrades gracefully to "exchange the (small) un-compacted
    * tail", and the next compaction folds the tail in. Production: the
    * same layout is an Iceberg `bucket(N, key)` partition transform and
    * compaction is `rewrite_data_files`; here the catalog-backed
    * bucketed write is the sandbox analogue (TableIO.writeBucketed).
    *
    * Output equality (increment and retraction over a compacted state ==
    * over the original) is spec-gated; table contents are preserved
    * row-for-row.
    *
    * EPOCH isolation: each compaction writes under `$root/epoch_N`
    * (N = 1 + the highest existing epoch) with epoch-suffixed catalog
    * names — never the path/table a PREVIOUS compaction's returned
    * frames are reading from. Re-compacting a state whose frames point
    * at epoch N therefore reads N while writing N+1; overwriting the
    * input mid-job (the self-destruct a fixed layout invites) cannot
    * happen. Old epoch directories are left on disk — reclaiming them
    * is a retention sweep, and in production the whole concern is
    * Iceberg `rewrite_data_files`, which is snapshot-isolated for free. */
  def compactState(state: IncrementState, root: String, buckets: Int = 32,
                   label: String = "state"): IncrementState = {
    val spark = state.mentions.sparkSession
    val app = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9_]", "_")
    // epoch discovery via Hadoop FileSystem, not java.io.File — File
    // returns null for any non-local root (hdfs://, s3a://), which made
    // `prior` empty and every compaction overwrite epoch_1: the exact
    // self-overwrite-while-reading hazard the epochs exist to prevent,
    // failing silently (round-5 ADVICE, medium).
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("epoch_"))
        .flatMap(n => scala.util.Try(n.stripPrefix("epoch_").toInt).toOption)
    val epoch = (prior :+ 0).max + 1
    // The five rewrites are INDEPENDENT jobs over already-materialized
    // frames (bootstrap/apply localCheckpoint their outputs) writing to
    // disjoint paths/table names — overlapped via TableIO.writeBucketedAll
    // (guide §2.6) instead of serializing five write barriers.
    val tables = Seq(
      ("mentions", state.mentions, "mention_id"),
      ("keyed", state.keyed, "block_key"),
      ("reps", state.reps, "rep_id"),
      ("clusters", state.clusters, "mention_id")) ++
      state.edges.map(e => ("edges", e, "src"))
    val written = tables.map(_._1).zip(sources.TableIO.writeBucketedAll(
      tables.map { case (n, df, key) =>
        (df, s"graft_${label}_${n}_e${epoch}_$app", s"$root/epoch_$epoch/$n", Seq(key), buckets)
      })).toMap
    IncrementState(
      mentions = written("mentions"), keyed = written("keyed"), reps = written("reps"),
      clusters = written("clusters"), edges = written.get("edges"))
  }

  /** Append-only INCREMENTAL maintenance of a clustered corpus — the
    * operation a 10¹²-turn deployment actually runs every ingestion
    * cycle: `newTurns` arrive and the update must cost O(delta) COMPUTE
    * and O(delta) SHUFFLE, never a from-scratch re-score — or re-detect,
    * re-key, re-group, or re-cluster — of the historical corpus.
    *
    * Per-stage cost discipline (delta = the new mentions):
    *
    *  1. detect ∪ coref-inherit over the new turns only — O(delta);
    *  2. supernode attach: delta mentions of a KNOWN (norm, resolved)
    *    group take the base representative from `state.reps` (sticky
    *    reps — the base is never re-grouped); unseen groups mint new
    *    reps by group-min over the delta. The reps probe is a semi-join
    *    carve on the delta's distinct surface keys: a map-only scan of
    *    the reps table when the key set broadcasts (the normal case),
    *    never a corpus shuffle;
    *  3. block keys (tokenize + MinHash) are computed for the delta
    *    scoring set only; base members of delta-active blocks are
    *    gathered from `state.keyed` by a semi-join on the delta's block
    *    keys — a slim map-only scan, zero re-hashing of the base;
    *  4. candidate pairs run over active blocks only (base ∪ delta
    *    members, so size regimes match a from-scratch run exactly) and
    *    are restricted to pairs touching a delta mention — historical
    *    pairs keep their base edges verbatim; scoring payloads are
    *    carved from `state.mentions` by pair-id semi-join (payload
    *    vectors never cross a shuffle);
    *  5. clustering CONTRACTS the new edges onto the existing
    *    assignment: each endpoint maps to its current cluster id (or
    *    itself if new) and connected components run over that O(delta)
    *    contracted graph — sound because contracting connected subsets
    *    preserves components, and min-member ids survive because each
    *    existing cluster id is already its component's min. The full
    *    edge set is never re-clustered.
    *
    * Semantics: EDGES ARE APPEND-ONLY — a pair once matched stays
    * matched even if a later increment changes which representative
    * would have been scored (the production-desirable behavior: clusters
    * never flap when data is appended, they only merge). On corpora
    * where the scorer separates entities cleanly (the F1 fixtures) the
    * result is EXACTLY the from-scratch clustering — property-tested in
    * IncrementalSpec across conversation-disjoint splits and chained
    * increments. Increments must be conversation-complete: coref
    * inheritance reaches only within the increment's own turns, so route
    * a conversation's late turns into the same increment. Re-feeding a
    * conversation whole is safe ONLY if it was never previously ingested
    * — state tables are append-only on mention_id, so re-feeding
    * already-ingested turns would insert duplicate mention rows
    * (round-4 ADVICE); late turns for an already-ingested conversation
    * need a compaction pass (rebuild that conversation's slice of the
    * base tables), not a re-feed. Delta mention ids are assumed to sort after
    * the base ids of their supernode group (true for time-ordered
    * ingestion of (conv_id, turn_idx)-keyed ids), keeping sticky base
    * reps identical to a from-scratch group-min.
    *
    * `dictionary` picks broadcast or distributed-dimension detection for
    * the delta; a [[Stager.Checkpointed]] stager lands the delta mention,
    * reps, keyed, edge and cluster-upsert tables resumably — exactly what
    * the caller appends/merges into the state before the NEXT increment. */
  def runIncremental(newTurns: Dataset[Turn],
                     dictionary: Dictionary,
                     state: IncrementState,
                     cfg: Config = Config(),
                     stage: Stager = Stager.InMemory): Increment = CacheTracker.scoped {
    val deltaMs = stage("mentions_delta") {
      dictionary.mentions(newTurns, cfg).toDF().localCheckpoint(true)
    }
    // incrementParts is EAGER (see its Scaladoc): lazy, so a fully-staged
    // rerun (the resume case) reads the tables and computes nothing
    lazy val parts = incrementParts(deltaMs, state, cfg)
    val deltaReps = stage("reps_delta")(parts.deltaReps)
    val deltaKeyed = stage("keyed_delta")(parts.deltaKeyed)
    // member and scored edges share one stage table, told apart by `kind`
    // (in memory the optimizer folds each filter back to its own frame)
    val edges = stage("edges_delta") {
      parts.memberEdges.localCheckpoint(true).withColumn("kind", lit("member"))
        .unionByName(parts.newEdges.localCheckpoint(true).withColumn("kind", lit("scored")))
    }
    val memberEdges = edges.where(col("kind") === "member").drop("kind")
    val newEdges = edges.where(col("kind") === "scored").drop("kind")
    val upserts = stage("cluster_upserts") {
      incrementUpserts(deltaMs, deltaReps, memberEdges, newEdges, state, cfg)
        .localCheckpoint(true)
    }
    CacheTracker.drainUnpersist()
    Increment(deltaMs, deltaKeyed, deltaReps, newEdges, memberEdges,
              upserts, mergedClusters(state, upserts))
  }

  private[graft] case class IncParts(deltaKeyed: DataFrame, deltaReps: DataFrame,
                              memberEdges: DataFrame, newEdges: DataFrame)

  /** Delta-side increment machinery — EAGER: every multiply-referenced
    * frame is `localCheckpoint(true)`d the moment it is defined (the
    * lineage rule on [[Pipeline]]). All of them are delta-sized, so the
    * materialization is O(delta) by construction, and the lineage
    * truncation is what keeps the query plans bounded. The intermediate
    * leaves are registered with [[CacheTracker]]: a caller checkpoints
    * `memberEdges`/`newEdges`, which read them, before its scope drains.
    * Every touch of a
    * base table is a slim semi-join carve (map-only scan when the
    * delta-derived probe side broadcasts, which AQE decides from its
    * measured size — never forced, so an unusually fat delta degrades to
    * a shuffled join instead of an executor OOM). */
  private[graft] def incrementParts(deltaMs: DataFrame, state: IncrementState,
                             cfg: Config): IncParts = {
    val spark = deltaMs.sparkSession
    import spark.implicits._
    val isEligible = attachCond(cfg)
    val slim = deltaMs.select(col("mention_id"), col("norm"), col("resolved"),
                              col("resolvedScore"))
    val eligible = slim.where(isEligible)

    // sticky supernode attach: carve the active reps (groups the delta
    // actually touches) out of the base reps table, then resolve each
    // eligible delta mention to its group rep — base rep if known,
    // delta group-min otherwise
    val deltaKeys = eligible.select("norm", "resolved").distinct()
    val activeReps = state.reps.join(deltaKeys, Seq("norm", "resolved"), "left_semi")
    val withRep = CacheTracker.leaf(
      eligible.join(activeReps, Seq("norm", "resolved"), "left"))
    val attachedEdges = withRep.where(col("rep_id").isNotNull)
      .select(col("rep_id").as("src"), col("mention_id").as("dst"))
    val fresh = withRep.where(col("rep_id").isNull).drop("rep_id")
    val deltaReps = fresh.groupBy("norm", "resolved")
      .agg(min("mention_id").as("rep_id"))
      .localCheckpoint(true)
    val freshEdges = fresh.join(deltaReps, Seq("norm", "resolved"))
      .where(col("mention_id") =!= col("rep_id"))
      .select(col("rep_id").as("src"), col("mention_id").as("dst"))
    val memberEdges = attachedEdges.unionByName(freshEdges)

    // delta scoring set: new reps + the low-margin/unresolved tail
    val scoringIds = CacheTracker.leaf(deltaReps.select(col("rep_id").as("mention_id"))
      .unionByName(slim.where(!isEligible).select(col("mention_id"))))
    val scoringDeltaMs = deltaMs.join(scoringIds, Seq("mention_id"), "left_semi")
      .as[Mention]

    // tokenize + MinHash over the DELTA only; base members of active
    // blocks come from the persisted keyed table
    val deltaKeyed = Blocking.withBlockKeys(scoringDeltaMs, cfg.lsh)
      .localCheckpoint(true)
    val activeKeys = deltaKeyed.select("block_key").distinct()
    val baseActive = state.keyed.join(activeKeys, Seq("block_key"), "left_semi")
    val keyedActive = CacheTracker.leaf(baseActive.unionByName(deltaKeyed))
    // delta-aware pair generation: O(d·n) per active block, never the
    // block's full O(n²) pair set — the output is delta-touching by
    // construction (regime decisions still follow the FULL block size,
    // so the pair set equals filtered candidatePairs exactly)
    val pairs = CacheTracker.leaf(Blocking.candidatePairsDelta(keyedActive,
        scoringIds.select(col("mention_id").as("mid")),
        cfg.tau, cfg.blockMaxSize, cfg.starThreshold, cfg.starK))
    // scoring payload only for pair participants — the base mention
    // table is scanned (semi-join carve), its payloads never shuffled
    val pairIds = pairs.select(col("a_id").as("mention_id"))
      .unionByName(pairs.select(col("b_id").as("mention_id"))).distinct()
    val payloadMs = CacheTracker.leaf(
      state.mentions.join(pairIds, Seq("mention_id"), "left_semi")
        .unionByName(deltaMs.join(pairIds, Seq("mention_id"), "left_semi")))
      .as[Mention]
    val newEdges = Scoring.edges(Blocking.attachPayload(pairs, payloadMs), cfg.score)
    IncParts(deltaKeyed, deltaReps, memberEdges, newEdges)
  }

  /** Cluster upsert rows for one increment: contract the new edges onto
    * the existing assignment, run CC over the O(delta) contracted graph,
    * and emit (a) historical rows of merged clusters with their new id,
    * (b) delta scoring mentions, (c) delta members via their rep's
    * cluster. Linear slim scans of `state.clusters` are the only base
    * touches; output is O(delta + affected-cluster membership). */
  private[graft] def incrementUpserts(deltaMs: DataFrame, deltaReps: DataFrame,
                               memberEdges: DataFrame, newEdges: DataFrame,
                               state: IncrementState, cfg: Config): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val deltaMeta = deltaMs.select(metaCols.map(col): _*)
    val baseAssign = state.clusters.select(col("mention_id").as("node"),
                                           col("cluster_id"))

    // contracted graph: endpoint → its current cluster (itself if new)
    val ends = newEdges.select(col("src").as("node"))
      .unionByName(newEdges.select(col("dst").as("node"))).distinct()
    val endAssign = CacheTracker.register(
      ends.join(baseAssign, Seq("node"), "left")
        .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cnode"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val contracted = newEdges
      .join(endAssign.withColumnRenamed("node", "src"), Seq("src"))
      .withColumnRenamed("cnode", "csrc")
      .join(endAssign.withColumnRenamed("node", "dst"), Seq("dst"))
      .withColumnRenamed("cnode", "cdst")
      .select(col("csrc").as("src"), col("cdst").as("dst"))
    // sound: contracting each existing cluster (a connected subset) to
    // one node preserves connected components; each existing cluster id
    // is already the min over its scoring members, so the component min
    // over contracted nodes IS the global min-member id
    val remap = Clustering.connectedComponents(contracted, cfg.ccMaxIter)
    val remapChanged = CacheTracker.register(
      remap.where(col("node") =!= col("cluster_id"))
        .select(col("node").as("old_cid"), col("cluster_id").as("new_cid"))
        .persist(StorageLevel.MEMORY_AND_DISK))

    // (a) historical rows of merged clusters
    val baseUpserts = state.clusters
      .join(remapChanged, state.clusters("cluster_id") === remapChanged("old_cid"))
      .select(metaCols.map(state.clusters(_)) :+
              remapChanged("new_cid").as("cluster_id"): _*)
    // (b) delta scoring mentions: own node id, remapped if merged
    val isEligible = attachCond(cfg)
    val scoringIds = deltaReps.select(col("rep_id").as("mention_id"))
      .unionByName(deltaMs.where(!isEligible).select(col("mention_id")))
    val scoringRows = deltaMeta.join(scoringIds, Seq("mention_id"), "left_semi")
      .join(remapChanged.withColumnRenamed("old_cid", "mention_id"),
            Seq("mention_id"), "left")
      .select(metaCols.map(col) :+
              coalesce(col("new_cid"), col("mention_id")).as("cluster_id"): _*)
    // (c) delta members: their rep's (possibly remapped) cluster
    val repAssign = memberEdges.select(col("src").as("rep_id")).distinct()
      .join(baseAssign.withColumnRenamed("node", "rep_id"), Seq("rep_id"), "left")
      .select(col("rep_id"), coalesce(col("cluster_id"), col("rep_id")).as("cid0"))
      .join(remapChanged.withColumnRenamed("old_cid", "cid0"), Seq("cid0"), "left")
      .select(col("rep_id"), coalesce(col("new_cid"), col("cid0")).as("rep_cid"))
    val memberRows = deltaMeta
      .join(memberEdges.select(col("dst").as("mention_id"), col("src").as("rep_id")),
            Seq("mention_id"))
      .join(repAssign, Seq("rep_id"))
      .select(metaCols.map(col) :+ col("rep_cid").as("cluster_id"): _*)

    baseUpserts.unionByName(scoringRows).unionByName(memberRows)
  }

  /** One retraction's outputs. `clusterUpserts` is the MERGE INTO row set
    * for the clusters table (surviving rows whose cluster id changed —
    * a split, or a re-min after the old min-member left); the retracted
    * rows themselves are DELETEs, expressed here as the anti-join carves
    * inside `newState`; `clusters` is the convenience merged view over
    * the remaining corpus. */
  case class Retraction(clusterUpserts: DataFrame, clusters: DataFrame,
                        newState: IncrementState)

  /** RETRACTION maintenance — forget a set of conversations from a
    * maintained clustering (the production drivers: right-to-be-forgotten
    * deletes, bad-source removal, eval-set contamination purges) without
    * a from-scratch re-run. The inverse of [[runIncremental]]: where an
    * increment can only MERGE clusters (edges are append-only), a
    * retraction can only SPLIT them (nodes are removed, never added), and
    * the repair work is bounded by the AFFECTED clusters — clusters that
    * contained a retracted mention — never the corpus.
    *
    * Per-stage cost discipline (affected = membership of clusters that
    * lost a mention; retract = the removed rows):
    *
    *  1. retracted ids and affected cluster ids come from slim scans of
    *     the clusters table filtered on the retract set — in production
    *     a partition-prunable `conv_id IN (...)` scan;
    *  2. a cluster is AFFECTED only if it lost a SCORING mention (one
    *     with keyed rows). Removing a non-scoring spoke leaves the
    *     scoring subgraph — hence the components — untouched, and the
    *     cluster id survives because the component min is always a
    *     scoring node (members sort after their group rep), so
    *     spoke-only clusters need nothing beyond the base-table carve.
    *     Survivors of affected clusters are then the ONLY rows whose
    *     assignment can change: an unaffected cluster's membership and
    *     min-member id are untouched, and no edge can connect it to an
    *     affected survivor (such an edge would have made them one
    *     cluster already);
    *  3. supernode repair is local by invariant: a (norm, resolved)
    *     group always lives inside one cluster (members attach to their
    *     rep's cluster), so a group that lost its representative has all
    *     its remaining members inside the affected-survivor set — the
    *     replacement rep is the group-min over eligible survivors,
    *     exactly the from-scratch group-min over the remaining corpus.
    *     Replacement reps get block keys computed from their own
    *     payloads (a member was never keyed);
    *  4. edges among the affected scoring survivors come from the
    *     state's edge table ([[IncrementState.edges]], filled by
    *     [[bootstrapState]] and maintained by [[applyIncrement]]): carve
    *     the surviving affected edges (slim anti/semi-joins, no
    *     payloads), then re-derive pairs with
    *     [[Blocking.candidatePairsDelta]] only in DIRTY blocks, those
    *     whose from-scratch pair set over the remaining corpus is not a
    *     subset of the old one (cold/triangle blocks emit full pair sets,
    *     so they are never dirty; star blocks are dirty on hub loss or a
    *     fall through starThreshold; oversized ones on re-entering
    *     pairing; rep-gaining blocks always — the per-regime proof is at
    *     the dirty-classification site below). Regime and hub decisions
    *     follow the block's NEW full size. Payloads are carved from the
    *     base mention table by pair-id semi-join and never shuffled. A
    *     state without the edge table is rejected before any job runs;
    *     build it with [[bootstrapState]];
    *  5. connected components run over that O(affected) subgraph only;
    *     min-member ids survive because members still sort after their
    *     (possibly replacement) group rep.
    *
    * Semantics: MONOTONE — retraction only removes nodes and the edges
    * through them; it never creates links between previously-separate
    * clusters. A from-scratch run over the remaining corpus could in
    * principle emit NEW pairs when a block shrinks across a regime
    * boundary (a purged block dropping under `blockMaxSize`, a star
    * block dropping to triangle); those pairs are deliberately not
    * re-scored — deleting data must never merge clusters (the mirror of
    * the increment's append-only-edges stance: appends only merge,
    * retractions only split, assignments never flap). On corpora where
    * the scorer separates entities cleanly the result is EXACTLY the
    * from-scratch clustering over the remaining turns — property-tested
    * in RetractionSpec, including a genuine split (the bridging mention
    * retracted) and rep re-minting.
    *
    * In production the `newState` carves are Iceberg `DELETE WHERE
    * conv_id IN (...)` (partition/file-level deletes) + one MERGE of
    * `clusterUpserts`; here they are anti-joins so chained
    * retract/increment cycles compose in-session. A
    * [[Stager.Checkpointed]] stager lands the replacement-rep, their
    * block-key, cluster-upsert and repair-edge artifacts resumably —
    * what the caller turns into DELETE/append/MERGE against the base
    * tables. */
  def runRetraction(retractConvs: DataFrame, state: IncrementState,
                    cfg: Config = Config(),
                    stage: Stager = Stager.InMemory): Retraction = CacheTracker.scoped {
    require(state.edges.isDefined,
      "runRetraction needs the state's edge table: build the state with bootstrapState")
    val rconvs = retractConvs.select(col("conv_id")).distinct()
      .localCheckpoint(true)
    // retractionParts is EAGER: lazy, so a fully-staged rerun computes nothing
    lazy val parts = retractionParts(rconvs, state, cfg)
    val staged = RetrParts(
      replacementReps = stage("retract_reps")(parts.replacementReps),
      replacementKeyed = stage("retract_keyed")(parts.replacementKeyed),
      upserts = stage("retract_upserts")(parts.upserts),
      freshEdges = stage("retract_edges")(parts.freshEdges))
    val out = retractionAssemble(rconvs, staged, state)
    CacheTracker.drainUnpersist()
    out
  }

  /** Opt-in wall-clock attribution for pipeline and maintenance stages:
    * when a sink is installed, stages wrapped in [[PhaseTimer.timed]]
    * report their wall seconds. The stages each end in an EAGER
    * localCheckpoint, so the measured wall is the stage's real compute,
    * not lazy-plan bleed into a later stage. Installed by the profilers
    * (IncrementBench's profile mode, [[StageProfile]]), the test suite's
    * codegen-cache probe, and erbench's traced retraction
    * (`Maintenance.retract`), which reports each retraction phase as the
    * metric `retract.<name>_s` (`Metrics.retractPhases`): renaming a
    * phase renames a benchmark metric. The library's own verbs never
    * install a sink — a None sink is a virtual call and nothing else. */
  private[graft] object PhaseTimer {
    @volatile var sink: Option[(String, Double) => Unit] = None
    def timed[A](name: String)(body: => A): A = sink match {
      case Some(f) =>
        val t0 = System.nanoTime()
        val a = body
        f(name, (System.nanoTime() - t0) / 1e9)
        a
      case None => body
    }
  }

  /** The retraction's four affected-region artifacts — each
    * retract-sized, each a checkpointable stage table. */
  private[graft] case class RetrParts(replacementReps: DataFrame,
                                      replacementKeyed: DataFrame,
                                      upserts: DataFrame,
                                      // edges re-scored in dirty blocks —
                                      // the APPEND rows for the edge
                                      // table (deduped against the
                                      // surviving carve at assemble
                                      // time); empty, with no plan over
                                      // the state, when no block is dirty
                                      freshEdges: DataFrame)

  private[graft] def retractionParts(rconvs: DataFrame, state: IncrementState,
                              cfg: Config): RetrParts = {
    val spark = state.clusters.sparkSession
    import spark.implicits._

    val slimClusters = state.clusters.select("mention_id", "conv_id", "cluster_id")
    val retracted = PhaseTimer.timed("retracted_carve") {
      CacheTracker.leaf(slimClusters.join(rconvs, Seq("conv_id"), "left_semi")
        .select("mention_id", "cluster_id"))
    }
    val retractIds = retracted.select("mention_id")
    // A cluster can change ONLY if it lost a SCORING mention (one with
    // keyed rows): non-scoring spokes hang off their supernode rep, so
    // removing them leaves the scoring subgraph — hence the components —
    // untouched, and the cluster id survives too because the component
    // min is always a scoring node (members sort after their group rep).
    // Spoke-only clusters therefore need ZERO repair beyond the base
    // carve; on a Zipf corpus they are the overwhelming majority of
    // clusters a random retraction touches, and dropping them here is
    // what bounds the affected region. The scoring-id probe is a
    // broadcast semi-join (map-only scan of the keyed table).
    val retractedScoringIds = state.keyed
      .join(retractIds.withColumnRenamed("mention_id", "mid"),
            Seq("mid"), "left_semi")
      .select(col("mid").as("mention_id")).distinct()
    val affectedCids = retracted
      .join(retractedScoringIds, Seq("mention_id"), "left_semi")
      .select("cluster_id").distinct()

    // survivors of affected clusters (meta + old assignment)
    val surv = PhaseTimer.timed("surv_carve") {
      CacheTracker.leaf(state.clusters
        .join(affectedCids, Seq("cluster_id"), "left_semi")
        .join(rconvs, Seq("conv_id"), "left_anti"))
    }
    val survIds = surv.select("mention_id")

    // supernode repair: groups whose representative was retracted re-mint
    // rep = min over eligible survivors (== from-scratch group-min)
    val isEligible = attachCond(cfg)
    val survMeta = PhaseTimer.timed("surv_meta_carve") {
      CacheTracker.leaf(state.mentions
        .join(survIds, Seq("mention_id"), "left_semi")
        .select(col("mention_id"), col("norm"), col("resolved"),
                col("resolvedScore")))
    }
    val brokenGroups = state.reps
      .join(retractIds.withColumnRenamed("mention_id", "rep_id"),
            Seq("rep_id"), "left_semi")
      .select("norm", "resolved")
    val replacementReps = PhaseTimer.timed("rep_repair") {
      survMeta.where(isEligible)
        .join(brokenGroups, Seq("norm", "resolved"), "left_semi")
        .groupBy("norm", "resolved")
        .agg(min("mention_id").as("rep_id"))
        .localCheckpoint(true)
    }
    val newRepsTable = state.reps
      .join(brokenGroups, Seq("norm", "resolved"), "left_anti")
      .unionByName(replacementReps.select("norm", "resolved", "rep_id"))

    // keyed repair: drop retracted rows, add keys for replacement reps
    // (from their own payloads — MinHash keys are per-mention)
    val replacementRepIds = replacementReps.select(col("rep_id").as("mention_id"))
    val newRepMs = state.mentions
      .join(replacementRepIds, Seq("mention_id"), "left_semi").as[Mention]
    val newRepKeyed = PhaseTimer.timed("rep_keying") {
      Blocking.withBlockKeys(newRepMs, cfg.lsh)
        .localCheckpoint(true)
    }
    // deliberately LAZY (never localCheckpointed): this is the whole
    // post-retraction keyed table — production reads it after the
    // DELETE; materializing it here would be an O(corpus) copy. The
    // repeated references below each re-scan the base table with the
    // slim anti-join, which is the intended discipline.
    val newKeyedAll = state.keyed
      .join(retractIds.withColumnRenamed("mention_id", "mid"),
            Seq("mid"), "left_anti")
      .unionByName(newRepKeyed)

    // scoring nodes of the affected region: surviving old scoring
    // mentions (they have keyed rows) + replacement reps
    val scoringSurvIds = PhaseTimer.timed("scoring_surv_ids") {
      CacheTracker.leaf(newKeyedAll
        .join(survIds.withColumnRenamed("mention_id", "mid"), Seq("mid"), "left_semi")
        .select(col("mid").as("mention_id")).distinct())
    }

    // score the region-restricted pair set of the given keyed rows,
    // deriving only pairs that touch `deltaMids`
    def scoreRegionPairs(keyedRows: DataFrame, deltaMids: DataFrame): DataFrame = {
      val pairs = CacheTracker.leaf(Blocking.candidatePairsDelta(keyedRows,
          deltaMids,
          cfg.tau, cfg.blockMaxSize, cfg.starThreshold, cfg.starK)
        .join(scoringSurvIds.withColumnRenamed("mention_id", "a_id"),
              Seq("a_id"), "left_semi")
        .join(scoringSurvIds.withColumnRenamed("mention_id", "b_id"),
              Seq("b_id"), "left_semi"))
      val pairIds = pairs.select(col("a_id").as("mention_id"))
        .unionByName(pairs.select(col("b_id").as("mention_id"))).distinct()
      val payloadMs = CacheTracker.leaf(state.mentions
        .join(pairIds, Seq("mention_id"), "left_semi"))
        .as[Mention]
      Scoring.edges(Blocking.attachPayload(pairs, payloadMs), cfg.score)
        .localCheckpoint(true)
    }

    // edge derivation for the affected-region CC: carve the surviving
    // edges of the affected region from the edge table (two slim
    // anti-joins + one semi-join — no payloads, no scoring) and
    // re-derive pairs ONLY in DIRTY blocks. Scoring is a pure function
    // of the two payloads, so a block whose from-scratch pair set over
    // the survivors is a SUBSET of its old pair set needs no re-scoring
    // at all — subtraction of retracted-touching edges is exact. Per
    // regime (Blocking.candidatePairs):
    //   cold/triangle — both emit the FULL pair set of the block, and
    //     shrinking n only moves between these two regimes ⇒ NEVER
    //     dirty;
    //   star — pairs are members × the starK min-id hubs, and removing
    //     non-hub members keeps the min-K set identical ⇒ dirty only if
    //     a hub was retracted, or the block fell through starThreshold
    //     (the triangle regime wants full pairs the star never scored);
    //   oversized — dropped from pairing ⇒ dirty only if the retraction
    //     brought it back under blockMaxSize;
    //   any block that GAINED a replacement rep ⇒ dirty.
    // On a Zipf corpus this is the whole game: every retraction touches
    // the hot star blocks, but their hubs survive with probability
    // ≈ 1 − retract_frac, so the saturating hub-spoke re-score (measured
    // flat 93–117 s on 20.8M turns regardless of retract size when every
    // touched block was re-scored — BENCH.md Round 5) almost never
    // re-runs. The naive "lost a member ⇒ dirty" criterion was measured
    // SLOWER than re-scoring every touched block (140.9 s vs ~117 s at
    // frac 0.003): it re-derived exactly the hot blocks the carve was
    // meant to skip, and paid the carve on top.
    //
    // Block stats WITHOUT materializing membership (a first cut
    // localCheckpointed the touched blocks' keyed rows and measured
    // SLOWER than re-scoring every touched block — on a Zipf corpus
    // the touched membership is most of the keyed table):
    //  - r (members lost) per block: broadcast semi-join on the
    //    retract-id set, then a map-side-partial count — slim;
    //  - n (old size) per block: one full slim aggregation of the
    //    keyed table, inner-joined to r so only touched blocks
    //    survive (the full agg's shuffle carries per-partition
    //    partial counts, never membership).
    val rCounts = state.keyed
      .join(retractIds.withColumnRenamed("mention_id", "mid"),
            Seq("mid"), "left_semi")
      .groupBy("block_key").agg(count(lit(1)).as("r"))
    val nCounts = state.keyed.groupBy("block_key").agg(count(lit(1)).as("n"))
    val stats = PhaseTimer.timed("dirty_stats") {
      CacheTracker.leaf(nCounts.join(rCounts, Seq("block_key")))
    }
    val regimeDirty = stats.where(
        (col("n") > cfg.blockMaxSize &&
         col("n") - col("r") <= cfg.blockMaxSize) ||
        (col("n") > cfg.starThreshold && col("n") <= cfg.blockMaxSize &&
         col("n") - col("r") <= cfg.starThreshold))
      .select("block_key")
    // star-hub retention check: the touched star blocks are FEW
    // (their key set broadcasts), so the hub scan is a map-only
    // carve of the keyed table + a min-K partial aggregation
    val starKeys = stats
      .where(col("n") > cfg.starThreshold && col("n") <= cfg.blockMaxSize)
      .select("block_key")
    val oldHubs = CacheTracker.leaf(Blocking.starHubs(
        state.keyed.join(broadcast(starKeys), Seq("block_key"), "left_semi")
          .select(col("block_key"), col("mid")), cfg.starK))
    val hubDirty = oldHubs
      .join(retractIds.withColumnRenamed("mention_id", "hub_id"),
            Seq("hub_id"), "left_semi")
      .select("block_key").distinct()
    // Two classes of dirty block, re-derived at DIFFERENT widths
    // (profile: full-width re-derivation of rep-gaining hot blocks
    // was 19.7 of the 53.1 s wall):
    //  - FULL-dirty (regime changed): the from-scratch pair set has
    //    pairs among untouched old members (star→triangle wants the
    //    full O(n²) set; oversized re-entry starts from zero) —
    //    re-derive everything in the block;
    //  - DELTA-dirty (hub lost and/or replacement rep gained, regime
    //    held): every pair the from-scratch run has and the carve
    //    lacks touches a NEW participant — a replacement rep (its
    //    pairs all touch it, including the all-members×rep set when
    //    its group-min id promotes it into the hub set: the delta
    //    pair generator derives delta-hub × all-members natively) or
    //    a PROMOTED hub (members × new-hub pairs all touch it).
    //    Extra retained edges to DEMOTED hubs were valid scored
    //    edges inside one old cluster — retaining them is the
    //    documented monotone stance (deleting data never merges).
    val fullDirty = CacheTracker.leaf(regimeDirty)
    val deltaDirty = hubDirty
      .unionByName(newRepKeyed.select("block_key"))
      .distinct()
      .join(fullDirty, Seq("block_key"), "left_anti")
    val newHubs = Blocking.starHubs(
        newKeyedAll.join(broadcast(hubDirty), Seq("block_key"), "left_semi")
          .select(col("block_key"), col("mid")), cfg.starK)
    val promotedMids = newHubs
      .join(oldHubs, Seq("block_key", "hub_id"), "left_anti")
      .select(col("hub_id").as("mid")).distinct()
    val deltaMids = CacheTracker.leaf(replacementRepIds
      .select(col("mention_id").as("mid"))
      .unionByName(promotedMids).distinct())
    val (keyedFullDirty, keyedDeltaDirty) = PhaseTimer.timed("dirty_classify") {
      (CacheTracker.leaf(
         newKeyedAll.join(broadcast(fullDirty), Seq("block_key"), "left_semi")),
       CacheTracker.leaf(
         newKeyedAll.join(broadcast(deltaDirty), Seq("block_key"), "left_semi")))
    }
    val freshEdges = PhaseTimer.timed("fresh_scoring") {
      // regime-change blocks are RARE (sizes must straddle a
      // threshold exactly where the retraction crossed it), and a
      // retraction that kept every hub and rep has no delta side —
      // skip either pass entirely in its empty case rather than
      // paying its fixed pair/payload/score stages; with no dirty
      // block at all nothing is planned. One side's leaf is kept
      // unregistered: newState.edges reads it after the scope drains
      Seq((keyedDeltaDirty, deltaMids),
          (keyedFullDirty, scoringSurvIds.select(col("mention_id").as("mid"))))
        .filter { case (rows, _) => !rows.isEmpty }
        .map { case (rows, mids) => scoreRegionPairs(rows, mids) } match {
        case Seq() => Seq.empty[(String, String)].toDF("src", "dst")
        case Seq(side) => side
        case sides =>
          sides.foreach(CacheTracker.register(_))
          sides.reduce(_ unionByName _).localCheckpoint(true)
      }
    }
    val edges = state.edges.get
      .join(retractIds.withColumnRenamed("mention_id", "src"),
            Seq("src"), "left_anti")
      .join(retractIds.withColumnRenamed("mention_id", "dst"),
            Seq("dst"), "left_anti")
      .join(scoringSurvIds.withColumnRenamed("mention_id", "src"),
            Seq("src"), "left_semi")
      .unionByName(freshEdges)

    // CC over the affected subgraph; singletons coalesce to themselves.
    // Members still sort after their group rep, so component min over
    // scoring nodes is the global min — same id semantics as assemble.
    val assign = PhaseTimer.timed("carve_cc") {
      CacheTracker.leaf(Clustering.connectedComponents(edges, cfg.ccMaxIter))
    }
    val scoringCid = scoringSurvIds
      .join(assign.withColumnRenamed("node", "mention_id"),
            Seq("mention_id"), "left")
      .select(col("mention_id"),
              coalesce(col("cluster_id"), col("mention_id")).as("cluster_id"))
    val memberCid = survMeta.where(isEligible)
      .join(newRepsTable, Seq("norm", "resolved"))
      .where(col("mention_id") =!= col("rep_id"))
      .join(assign.withColumnRenamed("node", "rep_id"), Seq("rep_id"), "left")
      .select(col("mention_id"),
              coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
    val newAssign = PhaseTimer.timed("assign_attach") {
      CacheTracker.leaf(scoringCid.unionByName(memberCid))
    }

    // MERGE rows: surviving affected rows whose assignment changed
    val upserts = PhaseTimer.timed("upserts") {
      surv
        .withColumnRenamed("cluster_id", "old_cid")
        .join(newAssign, Seq("mention_id"))
        .where(col("cluster_id") =!= col("old_cid"))
        .select(metaCols.map(col) :+ col("cluster_id"): _*)
        .localCheckpoint(true)
    }

    RetrParts(replacementReps, newRepKeyed, upserts, freshEdges)
  }

  /** Apply a retraction's artifacts: base-table carves (production:
    * Iceberg DELETE WHERE conv_id IN (...)) + the replacement-rep
    * appends + one MERGE of the upserts. */
  private def retractionAssemble(rconvs: DataFrame, parts: RetrParts,
                                 state: IncrementState): Retraction = {
    val retractIds = state.clusters
      .join(rconvs, Seq("conv_id"), "left_semi")
      .select("mention_id")
    val newClusters = state.clusters
      .join(rconvs, Seq("conv_id"), "left_anti")
      .join(parts.upserts.select("mention_id"), Seq("mention_id"), "left_anti")
      .unionByName(parts.upserts)
    val newState = IncrementState(
      mentions = state.mentions.join(rconvs, Seq("conv_id"), "left_anti"),
      keyed = state.keyed
        .join(retractIds.withColumnRenamed("mention_id", "mid"),
              Seq("mid"), "left_anti")
        .unionByName(parts.replacementKeyed),
      // rep rows whose representative was retracted are replaced by the
      // re-minted group-min rows (groups left with no eligible survivor
      // simply disappear)
      reps = state.reps
        .join(retractIds.withColumnRenamed("mention_id", "rep_id"),
              Seq("rep_id"), "left_anti")
        .select("norm", "resolved", "rep_id")
        .unionByName(parts.replacementReps.select("norm", "resolved", "rep_id")),
      clusters = newClusters,
      // edge-table maintenance: DELETE edges touching a retracted
      // mention, APPEND repair edges not already present (the fresh side
      // is retract-sized, so the dedupe anti-join broadcasts)
      edges = state.edges.map { e =>
        val surviving = e
          .join(retractIds.withColumnRenamed("mention_id", "src"),
                Seq("src"), "left_anti")
          .join(retractIds.withColumnRenamed("mention_id", "dst"),
                Seq("dst"), "left_anti")
        surviving.unionByName(
          parts.freshEdges.join(surviving, Seq("src", "dst"), "left_anti"))
      })
    Retraction(parts.upserts, newClusters, newState)
  }

  /** Pairwise P/R/F1 of a clustering vs gold entities, evaluated exactly on
    * the labeled pairs that share a blocking key (BASELINE.json metric).
    * Gold pairs and predicted pairs are both derived from the candidate
    * pair set, so the denominator matches the rule's definition. */
  case class PairF1(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    def f1: Double =
      if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
  }

  def pairwiseF1(clusters: DataFrame,
                 gold: Dataset[TranscriptGen.GoldMention],
                 dict: Map[String, DictEntry] = Map.empty,
                 cfg: Config = Config()): PairF1 = {
    // labeled pairs = candidate pairs (same blocking key) of gold mentions
    val goldWithId = gold.toDF()
      .withColumn("mention_id",
        concat(col("conv_id"), lit(":"), format_string("%06d", col("turn_idx")),
               lit(":"), format_string("%06d", col("begin"))))
    val pred = clusters.select(col("mention_id"), col("cluster_id"))
    val a = goldWithId.select(col("mention_id").as("a_id"), col("entity").as("a_e"))
    val b = goldWithId.select(col("mention_id").as("b_id"), col("entity").as("b_e"))
    val predA = pred.select(col("mention_id").as("a_id"), col("cluster_id").as("a_c"))
    val predB = pred.select(col("mention_id").as("b_id"), col("cluster_id").as("b_c"))
    val pairs = candidateGoldPairs(goldWithId, dict, cfg)
      .join(a, "a_id").join(b, "b_id")
      .join(predA, "a_id").join(predB, "b_id")
      .withColumn("is_match", col("a_e") === col("b_e"))
      .withColumn("same_cluster", col("a_c") === col("b_c"))
    val row = pairs.agg(
      sum(when(col("is_match") && col("same_cluster"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("is_match") && col("same_cluster"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("is_match") && !col("same_cluster"), 1L).otherwise(0L)).as("fn"))
      .head()
    PairF1(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Gold-mention pairs sharing a blocking key — exact normalized-surface
    * key plus the MinHash-LSH band keys of the surface, i.e. the same key
    * families the pipeline blocks on (the labeled-pair universe of the
    * BASELINE.json metric). */
  private def candidateGoldPairs(goldWithId: DataFrame,
                                 dict: Map[String, DictEntry],
                                 cfg: Config): DataFrame = {
    val spark = goldWithId.sparkSession
    import spark.implicits._
    val lsh = cfg.lsh
    val dictBc = spark.sparkContext.broadcast(dict)
    val keyed = goldWithId.select(col("mention_id"), col("surface"))
      .as[(String, String)]
      .flatMap { case (id, surface) =>
        val sig = graft.functions.MinHash.signature(
          graft.functions.MinHash.charNgrams(surface, lsh.charNgram), lsh.k)
        val entKeys = dictBc.value.get(surface)
          .map(_.candidates.map(c => "ent:" + c.entity).toSeq).getOrElse(Nil)
        val keys = ("nm:" + surface) +:
          (graft.functions.MinHash.bandKeys(sig, lsh.bands, lsh.rows).toSeq ++ entKeys)
        keys.distinct.map(k => (k, id))
      }.toDF("block_key", "mention_id")
    val l = keyed.select(col("block_key"), col("mention_id").as("a_id"))
    val r = keyed.select(col("block_key"), col("mention_id").as("b_id"))
    l.join(r, Seq("block_key"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }
}
