package graft

import graft.functions.MinHash
import graft.model._
import graft.operators.MentionDetect
import graft.operators.MentionDetect.FirstTokenSketch
import org.scalatest.funsuite.AnyFunSuite

class MentionDetectSpec extends AnyFunSuite {

  def entry(m: String, ents: (String, Double)*): DictEntry =
    DictEntry(m, m.toLowerCase, 100, ents.map { case (e, p) => Candidate(e, p) }.toArray)

  val dict: MentionDetect.Dict = Seq(
    entry("new york", "e_nyc" -> 1.0),
    entry("new york times", "e_nyt" -> 1.0),
    entry("york", "e_york" -> 1.0),
    entry("times", "e_times" -> 1.0),
    entry("acme corp", "e_acme" -> 1.0),
    entry("acme", "e_acme" -> 1.0),
  ).map(d => d.mention -> d).toMap

  test("greedy longest-match picks the longest n-gram first") {
    val toks = "the new york times reported".split(" ")
    val spans = MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict))
    assert(spans.map(s => (s.begin, s.end, s.surface)) ==
      List((1, 4, "new york times")))
  }

  test("greedy is leftmost-first among equal lengths and non-overlapping") {
    val toks = "acme corp sued new york acme".split(" ")
    val spans = MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict))
    assert(spans.map(s => (s.begin, s.end, s.surface)) ==
      List((0, 2, "acme corp"), (3, 5, "new york"), (5, 6, "acme")))
  }

  test("shorter match fills the gap left by a longer one") {
    // "york times": "new york times" absent, "york" and "times" both match
    val toks = "york times".split(" ")
    val spans = MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict))
    assert(spans.map(_.surface) == List("york", "times"))
  }

  test("no dictionary hit → no mentions") {
    assert(MentionDetect.detect("completely unrelated words".split(" "), dict,
                                FirstTokenSketch.of(dict)).isEmpty)
  }

  test("normalization cascade: exact > recased > lower, by freq") {
    val d: MentionDetect.Dict = Map(
      "Acme Corp" -> entry("Acme Corp", "e1" -> 1.0).copy(freq = 10),
      "acme corp" -> entry("acme corp", "e1" -> 1.0).copy(freq = 1000))
    // lowercase alias is more frequent → cascade picks it
    assert(MentionDetect.normalizeMention("Acme Corp", d).contains("acme corp"))
    // ALL-CAPS recases to Title Case, which is present
    assert(MentionDetect.normalizeMention("ACME CORP", d).contains("acme corp"))
    assert(MentionDetect.normalizeMention("unknown", d).isEmpty)
  }

  test("modify_uppercase_phrase recases only ALL-CAPS phrases") {
    assert(MentionDetect.modifyUppercasePhrase("ACME CORP") == "Acme Corp")
    assert(MentionDetect.modifyUppercasePhrase("Acme Corp") == "Acme Corp")
    assert(MentionDetect.modifyUppercasePhrase("acme") == "acme")
  }

  test("context tokens exclude the mention span") {
    val toks = "a b c MENTION d e".toLowerCase.split(" ")
    val ctx = MentionDetect.contextTokens(toks, 3, 4)
    assert(ctx.toSeq == Seq("a", "b", "c", "d", "e"))
  }

  test("resolve: prior wins without context, context flips ambiguity") {
    val cands = Array(Candidate("eA", 0.7), Candidate("eB", 0.3))
    val vecA = MinHash.meanEmbedding(Seq("qtopica"), 32)
    val vecB = MinHash.meanEmbedding(Seq("qtopicb"), 32)
    val vecs = Map("eA" -> vecA, "eB" -> vecB)
    val noCtx = MentionDetect.resolve(cands, Array.empty[Float], vecs.getOrElse(_, Array.empty))
    assert(noCtx._1 == "eA")
    val ctxB = MinHash.meanEmbedding(Seq("qtopicb"), 32)
    val withCtx = MentionDetect.resolve(cands, ctxB, vecs.getOrElse(_, Array.empty),
                                        wPrior = 0.3, wCtx = 0.7)
    assert(withCtx._1 == "eB")
  }

  test("detection is a pure per-row function: same result at any split") {
    val text = "the new york times and acme corp reported acme numbers"
    val toks = MentionDetect.tokenize(text)
    val once = MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict))
    (1 to 5).foreach(_ => assert(MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict)) == once))
  }

  test("cascade is LIVE in detection: cased and ALL-CAPS surfaces hit a lower dict") {
    val toks = MentionDetect.tokenizeCased("New York and ACME CORP met Acme")
    val spans = MentionDetect.detect(toks, dict, FirstTokenSketch.of(dict))
    assert(spans.map(s => (s.begin, s.surface, s.entry.mention)) ==
      List((0, "New York", "new york"), (3, "ACME CORP", "acme corp"),
           (6, "Acme", "acme")))
  }

  test("cascade in detection picks the most frequent present form") {
    val d: MentionDetect.Dict = Map(
      "Apple" -> entry("Apple", "e_company" -> 1.0).copy(freq = 1000),
      "apple" -> entry("apple", "e_fruit" -> 1.0).copy(freq = 10))
    // raw cased form present and more frequent → exact wins
    val s1 = MentionDetect.detect(Array("Apple"), d, FirstTokenSketch.of(d))
    assert(s1.head.entry.mention == "Apple")
    // lowercase input: only the lower key matches (fast path)
    val s2 = MentionDetect.detect(Array("apple"), d, FirstTokenSketch.of(d))
    assert(s2.head.entry.mention == "apple")
  }

  test("unicode folding: accented surfaces tokenize and link") {
    assert(MentionDetect.tokenizeCased("Zürich café").toSeq == Seq("Zurich", "cafe"))
    assert(MentionDetect.tokenize("Zürich CAFÉ").toSeq == Seq("zurich", "cafe"))
    val d: MentionDetect.Dict = Map("zurich" -> entry("zurich", "e_zrh" -> 1.0))
    val spans = MentionDetect.detect(MentionDetect.tokenizeCased("In Zürich today"), d,
                                     FirstTokenSketch.of(d))
    assert(spans.map(_.surface) == List("Zurich"))
  }

  test("prerank: pool = prior-top-4 ∪ ctx-top-3 from a 30-candidate list") {
    // 30 candidates, priors strictly decreasing e00 > e01 > ... > e29
    val cands = Array.tabulate(30)(i => Candidate(f"e$i%02d", (30 - i) / 100.0))
    val ctx = MinHash.meanEmbedding(Seq("topicx"), 32)
    // e25 is a low-prior candidate whose vector matches the context
    val vecs = Map("e25" -> ctx)
    val ev: String => Array[Float] = vecs.getOrElse(_, Array.empty)
    val pool = MentionDetect.prerank(cands, ctx.map(_.toDouble), ev).map(_._1.entity)
    assert(pool.length <= MentionDetect.KeepPrior + MentionDetect.KeepCtx)
    // prior top-4 present
    assert(Seq("e00", "e01", "e02", "e03").forall(pool.contains))
    // ctx winner present despite prior rank 26
    assert(pool.contains("e25"))
    // a mid-prior zero-ctx candidate is preranked AWAY
    assert(!pool.contains("e10"))
    // and resolve picks the context winner from the pool
    val (best, margin) = MentionDetect.resolve(cands, ctx, ev)
    assert(best == "e25")
    assert(margin > 0)
    // without context the prior argmax wins
    assert(MentionDetect.resolve(cands, Array.empty[Float], ev)._1 == "e00")
    // short lists bypass prerank untouched
    val shortPool = MentionDetect.prerank(cands.take(5), ctx.map(_.toDouble), ev)
    assert(shortPool.map(_._1.entity).toSeq == cands.take(5).map(_.entity).toSeq)
  }
}
