package graft

import graft.model._
import graft.operators.{Coref, MentionDetect}
import graft.operators.MentionDetect.FirstTokenSketch
import graft.sources.TranscriptGen
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The first-token sketch every detection path prunes with: a superset
  * filter over the dictionary's keys (so detection with it equals
  * detection with no pruning at all, on every path), built identically on
  * the driver and by the distributed aggregate, and bounded in size
  * however many distinct first tokens the dictionary has. */
class FirstTokenSketchSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 120, nConvs = 150)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)
  private val ev: String => Array[Float] = e => vecs.getOrElse(e, Array.empty[Float])

  private def entry(m: String): DictEntry =
    DictEntry(m, m.toLowerCase, 100, Array(Candidate("e_" + m, 1.0)))
  private def dictOf(keys: String*): MentionDetect.Dict =
    keys.map(k => k -> entry(k)).toMap

  // MentionDetectSpec's hand dictionaries: lowercase n-grams, cased keys,
  // ALL-CAPS keys, accented keys
  private val hand = Seq(
    dictOf("new york", "new york times", "york", "times", "acme corp", "acme"),
    dictOf("Acme Corp", "acme corp", "Apple", "apple"),
    dictOf("IBM", "NEW YORK TIMES", "ACME", "Big Blue Machine Corp Ltd"),
    dictOf("zurich", "Zürich", "zürich café", "Émile Zola", "café de flore paris"))

  private def firstToken(k: String) = k.takeWhile(_ != ' ')
  private def tokenCount(k: String) = 1 + k.count(_ == ' ')

  test("superset: every key's token count is set in its first token's bucket, in any case") {
    for (d <- dict +: hand) {
      val sketch = FirstTokenSketch.of(d)
      for (k <- d.keys if tokenCount(k) <= MentionDetect.MaxNgram) {
        val bit = 1 << (tokenCount(k) - 1)
        val f = firstToken(k)
        for (probe <- Seq(f, f.toLowerCase, f.toUpperCase))
          assert((sketch.lengths(probe) & bit) != 0, s"$k via $probe")
      }
      // and per position, the exact map-based masks are a subset of it
      val exact = d.keys.filter(tokenCount(_) <= MentionDetect.MaxNgram)
        .groupMapReduce(k => firstToken(k).toLowerCase)(k => 1 << (tokenCount(k) - 1))(_ | _)
      val toks = exact.keys.toArray
      sketch.lengths(toks).zip(toks).foreach { case (got, t) =>
        assert((got & exact(t)) == exact(t), t)
      }
    }
  }

  private def key(m: Mention) = (m.mention_id, m.begin, m.end, m.surface, m.norm,
    m.resolved, math.round(m.resolvedScore * 1e9), m.ctx.toSeq)
  private def keys(ds: Dataset[Mention]) = ds.collect().map(key).toSet

  test("prune only: the built sketch detects exactly what a saturated sketch detects") {
    val local = turns.collect()
    val built = FirstTokenSketch.of(dict)
    // every bucket holds every token count: prunes nothing
    val all = new FirstTokenSketch(Array.fill(64)(((1 << MentionDetect.MaxNgram) - 1).toByte))
    // the kernel, turn by turn
    val detected = local.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, ev, all))
    assert(detected.nonEmpty)
    assert(local.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, ev, built)).map(key).toSet ==
           detected.map(key).toSet)
    val convs = local.groupBy(_.conv_id)
    val flagship = convs.toSeq.flatMap { case (c, ts) =>
      Coref.detectAndInheritOfConv(c, ts, dict, ev, all) }.map(key).toSet
    assert(flagship.size > detected.length, "nothing inherited")

    // every path with its own sketch against the unpruned references
    val sc = spark.sparkContext
    val (dictBc, vecsBc) = (sc.broadcast(dict), sc.broadcast(vecs))
    assert(keys(MentionDetect.run(turns, dictBc, vecsBc)) == detected.map(key).toSet)
    assert(keys(Pipeline.allMentions(turns, dictBc, vecsBc)) == flagship)
    val dimension = Pipeline.Dictionary.Dimension(
      dict.values.toSeq.toDS().repartition(4), vecs.toSeq.toDF("entity", "vec"))
    assert(keys(dimension.mentions(turns)) == flagship)
    assert(keys(dimension.mentions(turns, Pipeline.Config(coref = false))) ==
           detected.map(key).toSet)
  }

  test("the driver-built sketch and dictSketches' aggregate are byte-equal") {
    for (d <- dict +: hand) {
      val (_, aggregated) =
        MentionDetect.dictSketches(d.values.toSeq.toDS().repartition(3), 0L, 0.01)
      assert(aggregated.value.buckets.sameElements(FirstTokenSketch.of(d).buckets))
    }
  }

  test("bounded: 1M and 2M distinct first tokens broadcast sketches of one capped size") {
    def rangeDict(n: Long): Dataset[DictEntry] = spark.range(n)
      .select(concat(lit("tok"), col("id"), lit(" x")).as("mention"))
      .select(col("mention"), col("mention").as("lower"), lit(1L).as("freq"),
              typedLit(Array.empty[Candidate]).as("candidates"))
      .as[DictEntry]
    val sizes = Seq(1000000L, 2000000L).map { n =>
      val sketch = MentionDetect.dictSketches(rangeDict(n), n, 0.01)._2.value
      val occupied = sketch.buckets.count(_ != 0).toDouble / sketch.buckets.length
      info(f"$n%d keys: ${sketch.buckets.length}%d bytes, ${occupied * 100}%.1f%% of buckets occupied")
      // still a filter at the cap: most buckets stay empty
      assert(occupied < 0.5)
      assert((sketch.lengths(s"TOK${n - 1}") & 2) != 0)
      sketch.buckets.length
    }
    assert(sizes.distinct == Seq(1 << 22))
    // a small dictionary stays small
    assert(FirstTokenSketch.of(dict).buckets.length < (1 << 14))
  }
}
