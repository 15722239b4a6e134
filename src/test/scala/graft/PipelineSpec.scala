package graft

import graft.model.{DictEntry, Mention, Turn}
import graft.operators.{Coref, MentionDetect}
import graft.sources.TranscriptGen
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Golden end-to-end gate (BASELINE.md row 1): pairwise F1 ≥ 0.99 vs gold
  * entity clusters on labeled pairs sharing a blocking key, over the
  * deterministic synthetic transcript corpus (FIXTURES.md B1–B5). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 200, nConvs = 400)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val gold = TranscriptGen.goldMentions(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim)
  lazy val clusters = Pipeline.run(turns, dict, vecs).cache()

  /** The round-3 two-pass mention stage — map-only detection persisted,
    * then a turns ⋈ mentions cogroup for inheritance, then the union — as
    * the reference the one-shuffle flagship (Pipeline.allMentions) must
    * equal mention for mention. */
  private def twoPass(t: Dataset[Turn], dictBc: Broadcast[Map[String, DictEntry]],
                      vecsBc: Broadcast[Map[String, Array[Float]]]): Dataset[Mention] = {
    val det = MentionDetect.run(t, dictBc, vecsBc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    det.unionByName(Coref.inherited(t, det, dictBc, vecsBc))
  }

  test("detection finds the dictionary golds; detected ∪ inherited = ALL golds") {
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(vecs)
    val ms = MentionDetect.run(turns, dictBc, vecsBc).cache()
    // Mention.surface is the RAW text span (cased fixtures stay cased —
    // the cascade normalizes, it must not rewrite the observed surface);
    // gold stores the lowercase form, so compare case-folded.
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("conv_id"), col("turn_idx"), col("begin"), col("end"),
                lower(col("surface")).as("surface"))
        .as[(String, Int, Int, Int, String)].collect().toSet
    val goldAll = gold.collect()
      .map(g => (g.conv_id, g.turn_idx, g.begin, g.end, g.surface)).toSet
    // coref-only golds = surfaces absent from the dictionary (the odd
    // entities' bare base names); detection must find EXACTLY the rest
    val goldDict = goldAll.filter(g => dict.contains(g._5))
    val goldCoref = goldAll -- goldDict
    assert(goldCoref.nonEmpty, "fixture must exercise dict-absent follow-ups")
    val detected = keys(ms.toDF())
    assert((goldDict -- detected).isEmpty, s"missed: ${(goldDict -- detected).take(5)}")
    assert((detected -- goldDict).isEmpty, s"spurious: ${(detected -- goldDict).take(5)}")
    // every norm the cascade chose is a real dictionary key
    assert(ms.select(col("norm")).as[String].collect().forall(dict.contains))
    // the coref union recovers precisely the dict-absent follow-ups
    val all = keys(Pipeline.allMentions(turns, dictBc, vecsBc).toDF())
    assert(all == goldAll,
      s"union missed ${(goldAll -- all).take(5)}, spurious ${(all -- goldAll).take(5)}")
  }

  test("one-shuffle mention stage ≡ two-pass detect+cogroup shape (full payload)") {
    // the flagship mention stage must emit exactly the round-3 shape's
    // union — same ids, spans, norms, candidates, ctx vectors,
    // resolutions — or the scaling redesign silently changed semantics
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(vecs)
    def keys(ds: Dataset[Mention]) =
      ds.map(m => (m.mention_id, m.begin, m.end, m.surface, m.norm,
                   m.candidates.map(c => (c.entity, c.prior)).toSeq,
                   m.resolved, math.round(m.resolvedScore * 1e9), m.ctx.toSeq))
        .collect().toSet
    val oneShot = keys(Pipeline.allMentions(turns, dictBc, vecsBc))
    val twoPassKeys = keys(twoPass(turns, dictBc, vecsBc))
    assert(oneShot.nonEmpty)
    val onlyA = oneShot -- twoPassKeys
    val onlyB = twoPassKeys -- oneShot
    assert(onlyA.isEmpty, s"one-shot-only mentions: ${onlyA.take(3)}")
    assert(onlyB.isEmpty, s"two-pass-only mentions: ${onlyB.take(3)}")
  }

  test("shape equivalences hold across varied corpora (seed/skew/ambiguity/turn-length)") {
    // one-shot ≡ two-pass ≡ joined must not be a property of the default
    // fixture: re-assert on corpora with hot Zipf skew + dense mentions,
    // short sparse conversations, and ambiguity-heavy dictionaries
    val configs = Seq(
      TranscriptGen.GenConfig(nEntities = 80, nConvs = 120, seed = 7L,
                              zipfS = 1.8, mentionProb = 0.95),
      TranscriptGen.GenConfig(nEntities = 300, nConvs = 150, seed = 13L,
                              minTurns = 1, maxTurns = 4, mentionProb = 0.25),
      TranscriptGen.GenConfig(nEntities = 40, nConvs = 100, seed = 99L,
                              ambiguousPairs = 15))
    configs.foreach { c =>
      val t = TranscriptGen.transcripts(spark, c).cache()
      val d = TranscriptGen.dict(c)
      val v = TranscriptGen.entityVectors(c, MentionDetect.CtxDim)
      val dictBc = spark.sparkContext.broadcast(d)
      val vecsBc = spark.sparkContext.broadcast(v)
      def keys(ds: Dataset[Mention]) =
        ds.map(m => (m.mention_id, m.begin, m.end, m.norm, m.resolved,
                     math.round(m.resolvedScore * 1e9)))
          .collect().toSet
      val oneShot = keys(Pipeline.allMentions(t, dictBc, vecsBc))
      assert(oneShot.nonEmpty, s"empty mention set for $c")
      val twoPassKeys = keys(twoPass(t, dictBc, vecsBc))
      assert(oneShot == twoPassKeys, s"one-shot != two-pass for $c: " +
        s"onlyA=${(oneShot -- twoPassKeys).take(3)} onlyB=${(twoPassKeys -- oneShot).take(3)}")
      val dictDf = d.values.toSeq.toDS().repartition(3)
      val vecDf = v.toSeq.toDF("entity", "vec").repartition(2)
      val joined = keys(MentionDetect.resolveJoined(
        Coref.detectAndInheritJoined(t, dictDf), vecDf))
      assert(joined == oneShot, s"joined != broadcast for $c: " +
        s"onlyJ=${(joined -- oneShot).take(3)} onlyB=${(oneShot -- joined).take(3)}")
      val inGroup = keys(Coref.detectAndInheritJoined(t, dictDf, vecDf = Some(vecDf)))
      assert(inGroup == oneShot, s"in-group resolved joined != broadcast for $c: " +
        s"onlyJ=${(inGroup -- oneShot).take(3)} onlyB=${(oneShot -- inGroup).take(3)}")
      t.unpersist(); ()
    }
  }

  test("pairwise F1 >= 0.99 on labeled pairs sharing a blocking key") {
    val f1 = Pipeline.pairwiseF1(clusters, gold, dict)
    info(s"tp=${f1.tp} fp=${f1.fp} fn=${f1.fn} " +
         f"P=${f1.precision}%.4f R=${f1.recall}%.4f F1=${f1.f1}%.4f")
    assert(f1.f1 >= 0.99, s"pairwise F1 ${f1.f1} below 0.99 " +
      s"(tp=${f1.tp} fp=${f1.fp} fn=${f1.fn})")
  }

  test("per-turn text invariant: pipeline never mutates/reorders/drops turns") {
    // the pipeline consumes `turns` and emits side tables only; assert the
    // input is still byte-identical under stable (conv_id, turn_idx) order
    val before = turns.orderBy("conv_id", "turn_idx")
      .select(hash(col("conv_id"), col("turn_idx"), col("text"))).as[Int].collect()
    clusters.count() // run the full pipeline
    val after = turns.orderBy("conv_id", "turn_idx")
      .select(hash(col("conv_id"), col("turn_idx"), col("text"))).as[Int].collect()
    assert(before.sameElements(after))
    // and each (conv_id, turn_idx) is unique + contiguous from 0
    val bad = turns.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), min("turn_idx").as("lo"), max("turn_idx").as("hi"),
           countDistinct("turn_idx").as("d"))
      .where(col("lo") =!= 0 || col("hi") =!= col("n") - 1 || col("d") =!= col("n"))
    assert(bad.count() == 0)
  }

  test("clustering output is deterministic across runs and parallelism") {
    val again = Pipeline.run(turns.repartition(13), dict, vecs)
    val a = clusters.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    val b = again.select("mention_id", "cluster_id").as[(String, String)].collect().toSet
    assert(a == b)
  }

  test("forced star-pair regime still hits pairwise F1 >= 0.99") {
    // starThreshold far below the hot blocks → the zipf-hot entities go
    // through the O(n·K) star path; F1 must hold (spanning connectivity)
    val starCfg = Pipeline.Config(tau = 32, starThreshold = 64, starK = 3)
    val starClusters = Pipeline.run(turns, dict, vecs, starCfg)
    val f1 = Pipeline.pairwiseF1(starClusters, gold, dict, starCfg)
    info(f"star mode: tp=${f1.tp} fp=${f1.fp} fn=${f1.fn} F1=${f1.f1}%.4f")
    assert(f1.f1 >= 0.99, s"star-mode F1 ${f1.f1} (tp=${f1.tp} fp=${f1.fp} fn=${f1.fn})")
  }

  test("every gold mention lands in a cluster; ids are min-member") {
    val n = clusters.count()
    assert(n == gold.count())
    val bad = clusters.groupBy("cluster_id")
      .agg(min("mention_id").as("m"))
      .where(col("cluster_id") =!= col("m"))
    assert(bad.count() == 0)
  }
}
