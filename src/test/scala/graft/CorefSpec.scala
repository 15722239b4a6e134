package graft

import graft.model._
import graft.operators.{Coref, MentionDetect}
import graft.operators.MentionDetect.FirstTokenSketch
import java.sql.Timestamp

class CorefSpec extends SparkSpec {

  private val ts = Timestamp.valueOf("2024-01-01 00:00:00")
  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "user", text, null, ts)
  private def cand(e: String) = Array(Candidate(e, 1.0))
  private def entry(key: String, e: String, freq: Long = 10) =
    key -> DictEntry(key, key.toLowerCase, freq, cand(e))

  private val noVec: String => Array[Float] = _ => Array.empty[Float]

  private def detected(dict: MentionDetect.Dict, ts: Turn*): Array[Mention] =
    ts.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, noVec, FirstTokenSketch.of(dict))).toArray

  test("a later uncovered token inherits the earlier mention's candidates") {
    val dict: MentionDetect.Dict = Map(entry("barack obama", "e_bo"))
    val t0 = turn("c", 0, "we met barack obama today")
    val t1 = turn("c", 1, "obama spoke at length")
    val ms = detected(dict, t0, t1)
    assert(ms.length == 1) // only the full bigram is in the dictionary
    val inh = Coref.inheritedOfConv("c", Array(t0, t1), ms, dict, noVec)
    assert(inh.length == 1)
    val m = inh.head
    assert(m.turn_idx == 1 && m.begin == 0 && m.surface == "obama")
    assert(m.norm == "barack obama")
    assert(m.candidates.map(_.entity).toSeq == Seq("e_bo"))
    assert(m.resolved == "e_bo")
  }

  test("nearest preceding mention wins when several share the word") {
    val dict: MentionDetect.Dict =
      Map(entry("barack obama", "e_bo"), entry("michelle obama", "e_mo"))
    val t0 = turn("c", 0, "barack obama arrived")
    val t1 = turn("c", 1, "then michelle obama arrived")
    val t2 = turn("c", 2, "obama waved")
    val ms = detected(dict, t0, t1, t2)
    val inh = Coref.inheritedOfConv("c", Array(t0, t1, t2), ms, dict, noVec)
    assert(inh.length == 1)
    assert(inh.head.norm == "michelle obama")
    assert(inh.head.resolved == "e_mo")
  }

  test("no inheritance: same turn, covered positions, or dictionary hits") {
    val dict: MentionDetect.Dict =
      Map(entry("barack obama", "e_bo"), entry("obama", "e_solo"))
    // "obama" IS a dictionary key → detection owns it, coref must not fire
    val t0 = turn("c", 0, "barack obama met obama")
    val ms = detected(dict, t0)
    val inh = Coref.inheritedOfConv("c", Array(t0), ms, dict, noVec)
    assert(inh.isEmpty)
    // same-turn: the only mention is in t0's own turn → nothing earlier
    val dict2: MentionDetect.Dict = Map(entry("barack obama", "e_bo"))
    val inh2 = Coref.inheritedOfConv("c", Array(t0),
      detected(dict2, t0), dict2, noVec)
    assert(inh2.isEmpty)
  }

  test("inheritance does not chain and full surfaces are not substrings") {
    val dict: MentionDetect.Dict = Map(entry("barack obama", "e_bo"))
    val t0 = turn("c", 0, "barack obama spoke")
    val t1 = turn("c", 1, "obama nodded")
    val t2 = turn("c", 2, "obama left")
    val ms = detected(dict, t0, t1, t2)
    val inh = Coref.inheritedOfConv("c", Array(t0, t1, t2), ms, dict, noVec)
    // both later "obama"s inherit from the DETECTED mention (no chaining —
    // the t1 inherited mention is not a source, but t0's detected one is)
    assert(inh.map(_.turn_idx).sorted.toSeq == Seq(1, 2))
    assert(inh.forall(_.norm == "barack obama"))
    // a full repeat of the surface is detection's job, not coref's
    assert(Coref.containsRun(Array("barack", "obama"), Array("barack", "obama")) == false)
    assert(Coref.containsRun(Array("barack", "obama"), Array("obama")) == true)
    assert(Coref.containsRun(Array("barack", "obama"), Array("rack")) == false)
  }

  test("distributed inherited() matches the per-conversation function") {
    import spark.implicits._
    val dict: MentionDetect.Dict =
      Map(entry("barack obama", "e_bo"), entry("angela merkel", "e_am"))
    val turns = Seq(
      turn("c1", 0, "barack obama arrived"), turn("c1", 1, "obama spoke"),
      turn("c2", 0, "angela merkel arrived"), turn("c2", 1, "merkel and obama"),
      turn("c3", 0, "nothing here"))
    val dictBc = spark.sparkContext.broadcast(dict)
    val vecsBc = spark.sparkContext.broadcast(Map.empty[String, Array[Float]])
    val ms = turns.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, noVec, FirstTokenSketch.of(dict)))
    val got = Coref.inherited(turns.toDS(), ms.toDS(), dictBc, vecsBc)
      .collect().map(m => (m.conv_id, m.turn_idx, m.begin, m.norm)).toSet
    // c2 turn1: "merkel" inherits angela merkel; "obama" has no earlier
    // same-conversation mention (c1's do not leak across conversations)
    assert(got == Set(("c1", 1, 0, "barack obama"), ("c2", 1, 0, "angela merkel")))
  }
}
