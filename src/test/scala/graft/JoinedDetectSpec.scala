package graft

import graft.model._
import graft.operators.MentionDetect
import graft.sources.TranscriptGen

/** Join-based (dimension-table) detection ≡ broadcast-Map detection — the
  * SURVEY D3 degrade-path property (round-2 verdict's top task). The
  * fixture corpus exercises cased, ALL-CAPS, typo'd, abbreviated and
  * ambiguous (multi-candidate) surfaces, so the equivalence covers the
  * whole preprocess_mention cascade and the ED resolution, not just exact
  * lowercase hits. */
class JoinedDetectSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 120, nConvs = 150)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)

  private def mentionKeys(ds: org.apache.spark.sql.Dataset[Mention]) =
    ds.map(m => (m.mention_id, m.begin, m.end, m.surface, m.norm,
                 m.resolved, math.round(m.resolvedScore * 1e9), m.ctx.toSeq))
      .collect().toSet

  private val noCoref = graft.Pipeline.Config(coref = false)

  test("join path emits exactly the broadcast path's mentions (full payload)") {
    // coref off, vector-less in-group resolution, then re-resolved
    // against the vector table
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val viaBroadcast = mentionKeys(
      MentionDetect.run(turns, spark.sparkContext.broadcast(dict), vecsBc))
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val viaJoin = mentionKeys(MentionDetect.resolveJoined(
      graft.operators.Coref.detectAndInheritJoined(turns, dictDf, coref = false), vecDf))
    assert(viaBroadcast.nonEmpty)
    val onlyB = viaBroadcast -- viaJoin
    val onlyJ = viaJoin -- viaBroadcast
    assert(onlyB.isEmpty, s"broadcast-only mentions: ${onlyB.take(3)}")
    assert(onlyJ.isEmpty, s"join-only mentions: ${onlyJ.take(3)}")
  }

  test("fully-joined path (dict AND entity vectors as dimension tables) ≡ broadcast") {
    // the embedding-side twin of the dictionary property: REL-scale
    // entity vectors can't broadcast either. The fixture's ambiguous
    // surfaces make ED depend on the context-vector cosine, so this
    // would fail if the gathered vectors differed at all.
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val viaBroadcast = mentionKeys(
      MentionDetect.run(turns, spark.sparkContext.broadcast(dict), vecsBc))
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val viaJoin = mentionKeys(
      graft.Pipeline.Dictionary.Dimension(dictDf, vecDf).mentions(turns, noCoref))
    assert(viaJoin == viaBroadcast)
    // resolution really used the vectors: ambiguous golds resolve with
    // sub-1.0 margins, which only happens when cosines were computed
    assert(viaJoin.exists(m => m._7 != 1000000000L && m._6.nonEmpty))
  }

  test("joined FLAGSHIP (detect ∪ coref-inherit, no driver Map) ≡ broadcast flagship") {
    // round-3 verdict task 1: the flagship mention universe — including
    // coref inheritance and its dictionary-hit rejector — computed with
    // the dictionary as a distributed dimension table only. Compared on
    // full payloads (modulo resolution, which the joined path fills via
    // resolveJoined and is covered by the next assertion).
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val viaBroadcast = mentionKeys(
      graft.Pipeline.allMentions(turns, dictBc, vecsBc))
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val viaJoin = mentionKeys(MentionDetect.resolveJoined(
      graft.operators.Coref.detectAndInheritJoined(turns, dictDf), vecDf))
    assert(viaJoin.nonEmpty)
    val onlyB = viaBroadcast -- viaJoin
    val onlyJ = viaJoin -- viaBroadcast
    assert(onlyB.isEmpty, s"broadcast-only mentions: ${onlyB.take(3)}")
    assert(onlyJ.isEmpty, s"join-only mentions: ${onlyJ.take(3)}")
  }

  test("Dimension.mentions runs the mention kernel once (one CoGroup) and ≡ broadcast") {
    // entity vectors regroup per conversation next to its mini-dictionary,
    // so resolution happens in-group; re-resolving through resolveJoined's
    // self-join executed the detect ∪ coref cogroup once per join side
    import org.apache.spark.sql.execution.CoGroupExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val ms = graft.Pipeline.Dictionary.Dimension(dictDf, vecDf).mentions(turns)
    val viaJoin = ms.collect().map(m => (m.mention_id, m.begin, m.end, m.surface,
      m.norm, m.resolved, math.round(m.resolvedScore * 1e9), m.ctx.toSeq)).toSet
    object Plans extends AdaptiveSparkPlanHelper
    val cogroups = Plans.collect(ms.queryExecution.executedPlan) { case c: CoGroupExec => c }
    assert(cogroups.size == 1, ms.queryExecution.executedPlan.toString)
    val viaBroadcast = mentionKeys(graft.Pipeline.allMentions(turns,
      spark.sparkContext.broadcast(dict), spark.sparkContext.broadcast(vecs)))
    assert(viaJoin.nonEmpty)
    assert(viaJoin == viaBroadcast)
  }

  test("Dimension.mentions plan: one probe pass over the slim turns, one dictionary join, one regroup") {
    import org.apache.spark.sql.execution.{AppendColumnsExec, CoGroupExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val ms = graft.Pipeline.Dictionary.Dimension(dictDf, vecDf).mentions(turns)
    ms.collect()
    object Plans extends AdaptiveSparkPlanHelper
    val plan = ms.queryExecution.executedPlan
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]) =
      Plans.collect(plan)(pf).size
    // the Bloom probe: one pass, reading only the slim turn columns
    val probes = Plans.collect(plan) { case m: MapPartitionsExec => m }
    assert(probes.size == 1, plan)
    val probeScans = Plans.collect(probes.head) {
      case s: InMemoryTableScanExec => s.output.map(_.name).toSet }
    assert(probeScans == Seq(Set("conv_id", "turn_idx", "text")), plan)
    // hits regroup once, on a column key: no collect_list, no key function
    assert(count { case _: ObjectHashAggregateExec => 1 } == 0, plan)
    assert(count { case _: AppendColumnsExec => 1 } == 0, plan)
    assert(count { case _: CoGroupExec => 1 } == 1, plan)
    // the dictionary join and the vector join
    assert(count { case _: BaseJoinExec => 1 } == 2, plan)
  }

  test("coref-off Dimension.mentions ≡ MentionDetect.run; plan: one probe, one regroup, no collect_list") {
    // detection alone takes the same one-regroup shape as detect ∪ inherit
    import org.apache.spark.sql.execution.{CoGroupExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val ms = graft.Pipeline.Dictionary.Dimension(dictDf, vecDf).mentions(turns, noCoref)
    val viaJoin = mentionKeys(ms)
    val viaBroadcast = mentionKeys(MentionDetect.run(turns,
      spark.sparkContext.broadcast(dict), spark.sparkContext.broadcast(vecs)))
    assert(viaBroadcast.nonEmpty)
    assert(viaJoin == viaBroadcast)
    ms.collect() // the final adaptive plan
    object Plans extends AdaptiveSparkPlanHelper
    val plan = ms.queryExecution.executedPlan
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]) =
      Plans.collect(plan)(pf).size
    assert(count { case _: MapPartitionsExec => 1 } == 1, plan)
    assert(count { case _: CoGroupExec => 1 } == 1, plan)
    assert(count { case _: ObjectHashAggregateExec => 1 } == 0, plan)
    assert(count { case _: SortMergeJoinExec => 1 } == 0, plan)
  }

  test("Dimension.mentions ≡ broadcast: missing vectors, shared candidates, hit-less convs, vecDf = None") {
    val sc = spark.sparkContext
    def vec(seed: Int) = Array.tabulate(MentionDetect.CtxDim)(i => math.sin(seed * (i + 1.0)).toFloat)
    val hand = Seq(
      DictEntry("barack obama", "barack obama", 50,
                Array(Candidate("Barack_Obama", 0.9), Candidate("Obama_Sr", 0.1))),
      DictEntry("obama", "obama", 80,
                Array(Candidate("Barack_Obama", 0.6), Candidate("Obama_Sr", 0.4))),
      DictEntry("michelle obama", "michelle obama", 20, Array(Candidate("Michelle_Obama", 1.0))),
      DictEntry("paris", "paris", 90, Array(Candidate("Paris", 0.7), Candidate("Paris_Texas", 0.3))),
      DictEntry("Paris", "paris", 95, Array(Candidate("Paris", 0.8), Candidate("Paris_Texas", 0.2))),
      DictEntry("zork", "zork", 5, Array(Candidate("Zork_Game", 0.5), Candidate("Zork_Novel", 0.5))),
      DictEntry("void", "void", 3, Array.empty[Candidate]))
    // Paris_Texas and both Zork entities have no vector
    val handVecs = Map("Barack_Obama" -> vec(1), "Obama_Sr" -> vec(2),
                       "Michelle_Obama" -> vec(3), "Paris" -> vec(4))
    def conv(id: String, texts: String*) =
      texts.zipWithIndex.map { case (t, i) => Turn(id, i, "user", t, null, null) }
    val handTurns = (conv("h1", "barack obama met michelle obama in paris",
                          "later obama flew to Paris with michelle", "obama and barack spoke") ++
                     conv("h2", "nothing to see here", "still nothing at all") ++
                     conv("h3", "zork is a game", "the zork novel came later") ++
                     conv("h4", "the void stares back", "void again") ++
                     conv("h5", "ZORK and PARIS tonight", "obama in paris texas")).toDS()

    // generated corpus with every third entity vector missing
    val sparseVecs = vecs.toSeq.sortBy(_._1).zipWithIndex.collect { case (ev, i) if i % 3 != 0 => ev }.toMap
    for ((ts, d, v) <- Seq((handTurns, hand.map(e => e.mention -> e).toMap, handVecs),
                           (turns, dict, sparseVecs))) {
      val dictDf = d.values.toSeq.toDS().repartition(3)
      val vecDf = v.toSeq.toDF("entity", "vec").repartition(2)
      def broadcastFlagship(vs: Map[String, Array[Float]]) =
        mentionKeys(graft.Pipeline.allMentions(ts, sc.broadcast(d), sc.broadcast(vs)))
      val expected = broadcastFlagship(v)
      assert(expected.nonEmpty)
      assert(mentionKeys(graft.Pipeline.Dictionary.Dimension(dictDf, vecDf).mentions(ts)) == expected)
      // vecDf = None resolves vector-less; re-resolving it is erbench's traced shape
      val noVecs = graft.operators.Coref.detectAndInheritJoined(ts, dictDf)
      assert(mentionKeys(noVecs) == broadcastFlagship(Map.empty))
      assert(mentionKeys(MentionDetect.resolveJoined(noVecs, vecDf)) == expected)
    }
    // the hand fixture really holds each case
    val handMs = graft.Pipeline.allMentions(handTurns, sc.broadcast(hand.map(e => e.mention -> e).toMap),
                                            sc.broadcast(handVecs)).collect()
    assert(!handMs.exists(_.conv_id == "h2"))
    assert(handMs.exists(m => m.norm == "void" && m.candidates.isEmpty))
    assert(handMs.exists(m => m.norm == "zork"))
    assert(handMs.count(m => m.conv_id == "h1" && m.candidates.exists(_.entity == "Barack_Obama")) >= 2)
  }

  test("Pipeline.runJoined clusters ≡ broadcast Pipeline.run clusters (F1 fixture)") {
    // end-to-end: the whole flagship (detect ∪ inherit → block → score →
    // cluster) with parquet dimension tables must assign every mention to
    // the same cluster as the driver-Map flagship — on the F1 fixture
    // corpus (cased/typo/ambiguous/coref-followup generators all active)
    val fcfg = TranscriptGen.GenConfig(nEntities = 120, nConvs = 200)
    val fturns = TranscriptGen.transcripts(spark, fcfg).cache()
    val fdict = TranscriptGen.dict(fcfg)
    val fvecs = TranscriptGen.entityVectors(fcfg, MentionDetect.CtxDim)
    val dir = java.nio.file.Files.createTempDirectory("graft-flagdim").toString
    fdict.values.toSeq.sortBy(_.mention).toDS()
      .write.mode("overwrite").parquet(s"$dir/dict")
    fvecs.toSeq.toDF("entity", "vec").write.mode("overwrite").parquet(s"$dir/vec")
    val dictDf = spark.read.parquet(s"$dir/dict").as[DictEntry]
    val vecDf = spark.read.parquet(s"$dir/vec")
    def assignments(df: org.apache.spark.sql.DataFrame) =
      df.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    val viaJoin = assignments(graft.Pipeline.runJoined(fturns, dictDf, vecDf))
    val viaBroadcast = assignments(graft.Pipeline.run(fturns, fdict, fvecs))
    assert(viaJoin == viaBroadcast)
    // and the joined flagship independently passes the F1 gate
    val gold = TranscriptGen.goldMentions(spark, fcfg)
    val f1 = graft.Pipeline.pairwiseF1(
      graft.Pipeline.runJoined(fturns, dictDf, vecDf), gold, fdict)
    info(f"joined flagship: tp=${f1.tp} fp=${f1.fp} fn=${f1.fn} F1=${f1.f1}%.4f")
    assert(f1.f1 >= 0.99, s"joined-flagship F1 ${f1.f1}")
  }

  test("joined-dictionary increment ≡ broadcast increment ≡ from-scratch") {
    // incremental maintenance at the 100-TB dimension-table configuration:
    // an increment detected through the dictionary/vector joins must land
    // exactly where the broadcast increment and the from-scratch run do
    import org.apache.spark.sql.functions.col
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted.toSeq
    val (baseC, newC) = convs.splitAt((convs.length * 0.6).toInt)
    def slice(cs: Seq[String]) = turns.where(col("conv_id").isInCollection(cs)).as[Turn]
    val state = graft.Pipeline.bootstrapState(
      graft.Pipeline.allMentions(slice(baseC), dictBc, vecsBc))
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    def assignments(df: org.apache.spark.sql.DataFrame) =
      df.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    val viaJoin = assignments(graft.Pipeline.runIncremental(
      slice(newC), graft.Pipeline.Dictionary.Dimension(dictDf, vecDf), state).clusters)
    val viaBroadcast = assignments(graft.Pipeline.runIncremental(
      slice(newC), graft.Pipeline.Dictionary.Broadcast(dict, vecs), state).clusters)
    val fromScratch = assignments(graft.Pipeline.run(turns, dict, vecs))
    assert(viaJoin == viaBroadcast)
    assert(viaJoin == fromScratch)
  }

  /** The resumable flagship: a checkpointed state bootstrap, whose
    * `clusters` is the flagship output. */
  private def checkpointedJoined(ts: org.apache.spark.sql.Dataset[Turn],
                                 dictionary: graft.Pipeline.Dictionary,
                                 root: String, fingerprint: String) =
    graft.Pipeline.bootstrapState(dictionary.mentions(ts),
      stage = graft.Pipeline.Stager.Checkpointed(root, fingerprint))

  test("checkpointed joined flagship ≡ runJoined; same-fingerprint rerun resumes") {
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val root = java.nio.file.Files.createTempDirectory("graft-joinedckpt").toString
    def assignments(df: org.apache.spark.sql.DataFrame) =
      df.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    val direct = assignments(graft.Pipeline.runJoined(turns, dictDf, vecDf))
    val ckpt = assignments(checkpointedJoined(turns,
      graft.Pipeline.Dictionary.Dimension(dictDf, vecDf), root, "fp1").clusters)
    assert(ckpt == direct)
    // resume proof: rerun with the SAME fingerprint but EMPTY inputs —
    // a recompute would emit nothing; a resume reads the stage tables
    val empty = graft.Pipeline.Dictionary.Dimension(
      spark.emptyDataset[DictEntry], vecDf.limit(0))
    val resumed = assignments(
      checkpointedJoined(spark.emptyDataset[Turn], empty, root, "fp1").clusters)
    assert(resumed == direct, "same-fingerprint rerun recomputed instead of resuming")
    // changed fingerprint ⇒ recompute (now over the empty inputs)
    val recomputed = assignments(
      checkpointedJoined(spark.emptyDataset[Turn], empty, root, "fp2").clusters)
    assert(recomputed.isEmpty)
  }

  test("joined flagship root reads back as a state that increments and retracts") {
    // regression: the flagship and the state bootstrap once wrote
    // different `edges` layouts under the same root — (src, dst, kind)
    // vs (src, dst) — so maintenance over the read-back state failed to
    // resolve `kind`. The flagship is now the state bootstrap itself.
    import org.apache.spark.sql.functions.col
    val dictDf = dict.values.toSeq.toDS().repartition(4)
    val vecDf = vecs.toSeq.toDF("entity", "vec").repartition(3)
    val joined = graft.Pipeline.Dictionary.Dimension(dictDf, vecDf)
    val root = java.nio.file.Files.createTempDirectory("graft-joinedstate").toString
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted.toSeq
    val (baseC, newC) = convs.splitAt((convs.length * 0.6).toInt)
    def slice(cs: Seq[String]) = turns.where(col("conv_id").isInCollection(cs)).as[Turn]
    def assignments(df: org.apache.spark.sql.DataFrame) =
      df.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    val flagship = checkpointedJoined(slice(baseC), joined, root, "fp1").clusters
    assert(assignments(flagship) ==
      assignments(graft.Pipeline.runJoined(slice(baseC), dictDf, vecDf)))

    // a later job reads the root back (pure read) as its maintenance state
    val state = checkpointedJoined(spark.emptyDataset[Turn],
      graft.Pipeline.Dictionary.Dimension(spark.emptyDataset[DictEntry], vecDf.limit(0)),
      root, "fp1")
    assert(state.edges.get.columns.toSet == Set("src", "dst"))
    val next = graft.Pipeline.applyIncrement(state,
      graft.Pipeline.runIncremental(slice(newC), joined, state))
    assert(assignments(next.clusters) ==
      assignments(graft.Pipeline.run(turns, dict, vecs)))

    val retract = baseC.zipWithIndex.collect { case (c, i) if i % 4 == 0 => c }
    val ret = graft.Pipeline.runRetraction(retract.toDF("conv_id"), state)
    assert(assignments(ret.clusters) ==
      assignments(graft.Pipeline.run(slice(baseC.diff(retract)), dict, vecs)))
  }

  test("equivalence survives a parquet round-trip and an aggressive bloom fpp") {
    // fpp = 0.5 floods the join with bloom false positives — they must all
    // die in the dictionary join, leaving the mention set unchanged; the
    // parquet round-trip pins the dimension-table storage contract
    val dir = java.nio.file.Files.createTempDirectory("graft-dictdim").toString
    dict.values.toSeq.sortBy(_.mention).toDS()
      .write.mode("overwrite").parquet(dir)
    val dictDf = spark.read.parquet(dir).as[DictEntry]
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val vecDf = vecs.toSeq.toDF("entity", "vec")
    val viaJoin = mentionKeys(graft.Pipeline.Dictionary.Dimension(dictDf, vecDf, bloomFpp = 0.5)
      .mentions(turns, noCoref))
    val viaBroadcast = mentionKeys(
      MentionDetect.run(turns, spark.sparkContext.broadcast(dict), vecsBc))
    assert(viaJoin == viaBroadcast)
  }
}
