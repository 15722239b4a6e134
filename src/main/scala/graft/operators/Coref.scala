package graft.operators

import graft.functions.MinHash
import graft.model._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}

/** Coreference-style candidate inheritance within a conversation — the
  * analogue of REL's `with_coref` / crel personal-entity resolution
  * (`src/REL/mention_detection.py::MentionDetectionBase.with_coref`,
  * `src/REL/crel/conv_el.py`, SURVEY.md §2.3 [M]): a surface that is a
  * word-boundary substring of an earlier mention in the same document
  * inherits that mention's candidate list, so abbreviated follow-up
  * surfaces ("Obama" after "Barack Obama") link even when absent from the
  * p(e|m) dictionary.
  *
  * Our adaptation to transcripts: for each turn, every UNCOVERED token
  * n-gram (not part of a detected mention, not itself a dictionary hit)
  * that equals a contiguous token run of a mention surface detected in an
  * EARLIER turn of the same conversation inherits that mention's
  * candidates and norm. Deterministic rule when several earlier mentions
  * match: nearest preceding wins (max (turn_idx, begin)), then smallest
  * norm. Longest n-grams first, leftmost-first (same greedy discipline as
  * detection). Inheritance does not chain (inherited mentions are not
  * inheritance sources), matching REL's single-hop substring rule.
  *
  * Scale shape: one shuffle of turns + one of detected mentions, both
  * keyed by conv_id; conversations are bounded (tens of turns), so the
  * per-group work is O(turn tokens × seen mentions) with no skew exposure
  * — there is no such thing as a hot conv_id at 10¹²-turn scale, only
  * more conversations.
  */
object Coref {

  /** Inherited mentions only (union with the detected set downstream).
    *
    * `maxSeen` bounds the inheritance-source list to the `maxSeen`
    * NEAREST preceding mentions (default unbounded). Streaming:
    * [[graft.streaming.StreamingLink]] runs the same scan
    * ([[inheritFrom]]) per micro-batch with the sources of the
    * conversation's earlier batches carried as state and capped at its
    * `MaxSeen`, so batch output equals streaming output by construction
    * when run with `maxSeen = StreamingLink.MaxSeen`; with the unbounded
    * default they can diverge on conversations carrying more than
    * MaxSeen detected mentions. */
  def inherited(turns: Dataset[Turn], mentions: Dataset[Mention],
                dictBc: Broadcast[MentionDetect.Dict],
                entityVecBc: Broadcast[Map[String, Array[Float]]],
                maxSeen: Int = Int.MaxValue): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    // Shuffle discipline: ONLY the fields inheritedOfConv actually reads
    // cross the conv_id shuffle. Shipping full Mention payloads (128-byte
    // ctx vector, ids, ED fields) and full Turn rows (role/tool/ts)
    // through the cogroup was profiled at 26M turns as ~10× the cost of
    // the detection stage itself — encode/shuffle/decode of fat objects,
    // not the per-turn scan, dominates. Context vectors and mention ids
    // of inherited mentions are recomputed inside the group from the
    // turn text, which is orders of magnitude cheaper than shipping
    // every detected mention's vector for the few that become sources.
    // `select` (not a typed map) so COLUMN PRUNING reaches the source:
    // the ctx array and the Timestamp are never even decoded.
    import org.apache.spark.sql.functions.col
    val slimTurns = turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
    val slimMs = mentions.select(col("conv_id"), col("turn_idx"), col("begin"),
        col("end"), col("surface"), col("norm"), col("candidates"))
      .as[(String, Int, Int, Int, String, String, Array[Candidate])]
    slimTurns.groupByKey(_._1)
      .cogroup(slimMs.groupByKey(_._1)) { (convId, ts, ms) =>
        val dict = dictBc.value
        val ev: String => Array[Float] =
          e => entityVecBc.value.getOrElse(e, Array.empty[Float])
        val turnArr = ts.map { case (_, idx, text) =>
          Turn(convId, idx, null, text, null, null)
        }.toArray
        val msArr = ms.map { case (_, idx, b, e2, surface, norm, cands) =>
          Mention(null, convId, idx, b, e2, surface, norm, cands,
                  Array.empty[Float], "", 0.0)
        }.toArray
        inheritedOfConv(convId, turnArr, msArr, dict, ev, maxSeen).iterator
      }
  }

  /** Detection AND inheritance for one conversation in one pass — the
    * flagship's mention universe (detected ∪ inherited) as a single pure
    * function. Detection is per-turn (MentionDetect.mentionsOfTurn, the
    * same function the map-only path runs); the detected set then feeds
    * [[inheritedOfConv]] directly, so the result is detected ∪ inherited
    * BY CONSTRUCTION — no separate detection job, no mention-side
    * shuffle, no cogroup. `sketch` is `dict`'s FirstTokenSketch. */
  def detectAndInheritOfConv(convId: String, ts: Array[Turn],
                             dict: MentionDetect.Dict,
                             entityVec: String => Array[Float],
                             sketch: MentionDetect.FirstTokenSketch,
                             maxSeen: Int = Int.MaxValue): Seq[Mention] =
    detectAndInheritFrom(convId, ts, dict, entityVec, sketch, maxSeen, Nil)._1

  /** [[detectAndInheritOfConv]] over the next turns of a conversation
    * whose earlier turns left the inheritance sources `seen0`; returns
    * detected ∪ inherited and the sources it ends with — the per-batch
    * step of [[graft.streaming.StreamingLink]]. */
  def detectAndInheritFrom(convId: String, ts: Array[Turn],
                           dict: MentionDetect.Dict,
                           entityVec: String => Array[Float],
                           sketch: MentionDetect.FirstTokenSketch, maxSeen: Int,
                           seen0: Seq[SeenMention]): (Seq[Mention], List[SeenMention]) = {
    val detected = ts.sortBy(_.turn_idx)
      .flatMap(t => MentionDetect.mentionsOfTurn(t, dict, entityVec, sketch))
    val (inh, seen) = inheritFrom(convId, ts, detected, dict, entityVec, maxSeen, seen0)
    (scala.collection.immutable.ArraySeq.unsafeWrapArray(detected) ++ inh, seen)
  }

  /** ONE-SHUFFLE flagship mention stage: group the slim turn table by
    * conv_id and emit detected ∪ inherited per conversation in-group.
    *
    * This replaces the round-3 shape (map-only detection persisted, then
    * a cogroup of slim turns AND slim detected mentions on conv_id, then
    * a union) whose mention-side shuffle + cogroup materialization was
    * the measured scaling bottleneck (flagship 0.70 at 2v8 cores, the
    * coref cogroup's task time inflating 2.3× with core count — round-3
    * VERDICT "What's wrong" #2). Here the ONLY shuffle is the slim
    * (conv_id, turn_idx, text) projection of the turn table; detection
    * runs post-shuffle inside the group (same total CPU, conversations
    * are bounded so per-group work is uniform — no skew exposure), the
    * detected set never crosses any shuffle, and the union is free.
    * Property-equal to detect ∪ [[inherited]] (CorefSpec / PipelineSpec).
    * The dictionary's FirstTokenSketch is built on the driver and
    * broadcast beside it. */
  def detectAndInherit(turns: Dataset[Turn],
                       dictBc: Broadcast[MentionDetect.Dict],
                       entityVecBc: Broadcast[Map[String, Array[Float]]],
                       maxSeen: Int = Int.MaxValue): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sketchBc = spark.sparkContext.broadcast(MentionDetect.FirstTokenSketch.of(dictBc.value))
    // grouped on the conv_id column, not by a key function: no
    // AppendColumns stage, and the turn side generates the same classes as
    // detectAndInheritJoined's, so the two paths share codegen cache entries
    turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .groupBy(col("conv_id")).as[String, (String, Int, String)]
      .flatMapGroups { (convId, it) =>
        val (dict, sketch) = (dictBc.value, sketchBc.value)
        val ev: String => Array[Float] =
          e => entityVecBc.value.getOrElse(e, Array.empty[Float])
        val ts = it.map { case (_, idx, text) =>
          Turn(convId, idx, null, text, null, null)
        }.toArray
        detectAndInheritOfConv(convId, ts, dict, ev, sketch, maxSeen).iterator
      }
  }

  /** [[detectAndInherit]] with the p(e|m) dictionary as a DISTRIBUTED
    * dimension table — the flagship mention stage at REL dictionary scale
    * (SURVEY D3; round-3 VERDICT "What's missing" #1: the join path
    * existed as an operator but coref still demanded a driver Map).
    *
    * Shape: one probe pass, one dictionary join, one regroup.
    *
    *  1. Probe (map-only, MentionDetect.probeForms): every
    *     ≤MaxNgram-token span of the slim (conv_id, turn_idx, text)
    *     projection that the dictionary's FirstTokenSketch admits probes
    *     its cascade forms against a Bloom of dictionary keys (both
    *     broadcast by MentionDetect.dictSketches, fixed in size by the key
    *     count); survivors leave as (conv_id, form) rows, deduped per
    *     conversation.
    *  2. Equi-join survivors against the dictionary on its key (one row
    *     per key on the dictionary side — no pair explosion; AQE skew
    *     handles Zipf-hot surfaces) and explode each hit into one slim
    *     side row per candidate entity, the hit itself riding on its first
    *     candidate's row (a candidate-less hit keeps one row). With
    *     `vecDf`, the side rows left-join it on entity, so each row
    *     carries its entity's vector.
    *  3. Cogroup slim turns with the side rows on the conv_id column: each
    *     group builds its MINI-DICTIONARY (and its FirstTokenSketch) and
    *     mini vector map and runs the IDENTICAL [[detectAndInheritOfConv]].
    *
    * Exactness (not approximate): every form the in-group code probes —
    * detection candidates AND the inheritance rejector's grams — is built
    * from the conversation's own tokens, so a form that is a real
    * dictionary key occurs in the conversation, survived the Bloom (no
    * false negatives), and is present in the mini-dictionary with its
    * true entry; a form that is NOT a dictionary key cannot be in the
    * mini-dictionary (Bloom false positives die in the inner join). The
    * mini-dictionary therefore answers every probe exactly as the full
    * broadcast Map would — property-tested in JoinedDetectSpec. Every
    * candidate any mention of the conversation can carry (detected or
    * inherited) comes from those hits, so the mini vector map resolves
    * exactly as the broadcast path's full one; an entity missing from
    * `vecDf` gets the empty vector. The mention kernel therefore runs
    * once; re-resolving afterwards (MentionDetect.resolveJoined) would
    * evaluate it twice, once per side of its self-join. With
    * `vecDf = None` resolution runs vector-less (span selection, norms,
    * candidates and ctx embeddings do not depend on entity vectors) and
    * callers may re-resolve.
    *
    * `coref = false` is detection alone (REL without `with_coref`): each
    * group runs only the per-turn MentionDetect.mentionsOfTurn over the
    * same mini-dictionary and mini vector map — exact for the same reason,
    * since every form a turn probes occurs in its conversation. */
  def detectAndInheritJoined(turns: Dataset[Turn], dictDf: Dataset[DictEntry],
                             expectedDictKeys: Long = 0L,
                             bloomFpp: Double = 0.01,
                             maxSeen: Int = Int.MaxValue,
                             vecDf: Option[DataFrame] = None,
                             coref: Boolean = true): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (bloomBc, sketchBc) = MentionDetect.dictSketches(dictDf, expectedDictKeys, bloomFpp)

    // one conv_id shuffle of the slim turns feeds both the probe and the
    // regroup: the turn scan is one stage, the same one the broadcast
    // path's detectAndInherit runs. The survivors are shuffled on conv_id
    // too, so their dedup and the (broadcast) dictionary and vector joins
    // keep the regroup's partitioning and the side rows need no shuffle
    val slimTurns = turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .repartition(col("conv_id"))
    val convForms = slimTurns.as[(String, Int, String)]
      .flatMap { case (conv, turn, text) =>
        MentionDetect.probeForms(text, bloomBc.value, sketchBc.value).map(f => (conv, turn, f))
      }.toDF("conv_id", "turn_idx", "form")
      .select(col("conv_id"), col("form")).repartition(col("conv_id")).distinct()
    val side = convForms.join(dictDf.toDF(), convForms("form") === dictDf("mention"))
      .select(col("conv_id"), struct(col("mention"), col("lower"), col("freq"),
                                     col("candidates")).as("hit"),
              posexplode_outer(col("candidates.entity")).as(Seq("pos", "entity")))
      .select(col("conv_id"), when(coalesce(col("pos"), lit(0)) === 0, col("hit")).as("hit"),
              col("entity"))
    val sideVecs = vecDf match {
      case Some(v) => side.join(v.select(col("entity"), col("vec")), Seq("entity"), "left")
      case None => side.withColumn("vec", lit(null).cast("array<float>"))
    }

    slimTurns.groupBy(col("conv_id")).as[String, (String, Int, String)]
      .cogroup(sideVecs.select(col("conv_id"), col("hit"), col("entity"), col("vec"))
        .groupBy(col("conv_id")).as[String, (String, DictEntry, String, Array[Float])]) {
        (convId, ts, sideRows) =>
          val rows = sideRows.toArray
          val mini: MentionDetect.Dict =
            rows.collect { case (_, h, _, _) if h != null => h.mention -> h }.toMap
          if (mini.isEmpty) Iterator.empty
          else {
            val sketch = MentionDetect.FirstTokenSketch.of(mini)
            val vecs = rows.collect { case (_, _, e, v) if v != null => e -> v }.toMap
            val ev: String => Array[Float] = e => vecs.getOrElse(e, Array.empty[Float])
            val turnArr = ts.map { case (_, idx, text) =>
              Turn(convId, idx, null, text, null, null)
            }.toArray
            if (coref) detectAndInheritOfConv(convId, turnArr, mini, ev, sketch, maxSeen).iterator
            else turnArr.iterator.flatMap(t => MentionDetect.mentionsOfTurn(t, mini, ev, sketch))
          }
      }
  }

  /** An inheritance source: a detected mention slimmed to what the scan
    * reads (no ctx vector, no ids) — also the per-conversation state
    * StreamingLink carries between micro-batches. */
  case class SeenMention(turnIdx: Int, begin: Int, norm: String,
                         surfaceLower: String, candidates: Array[Candidate])

  /** Pure per-conversation logic (unit-testable without Spark). */
  def inheritedOfConv(convId: String, ts: Array[Turn], ms: Array[Mention],
                      dict: MentionDetect.Dict,
                      entityVec: String => Array[Float],
                      maxSeen: Int = Int.MaxValue): Seq[Mention] =
    inheritFrom(convId, ts, ms, dict, entityVec, maxSeen, Nil)._1

  /** The inheritance scan — the one copy of the rule, run by both batch
    * paths and by streaming. Scans the turns `ts` (with `ms`, their
    * detected mentions) starting from the sources `seen0` and returns
    * the inherited mentions and the sources it ends with: nearest first,
    * at most `maxSeen`. `seen0` is what an earlier call over the same
    * conversation returned (Nil for a whole conversation).
    *
    * Turn-order rule: turns arrive in turn order within a conversation —
    * every turn of `ts` comes after every turn that produced `seen0`.
    * Out-of-order arrival is not detected; its output is unspecified. */
  def inheritFrom(convId: String, ts: Array[Turn], ms: Array[Mention],
                  dict: MentionDetect.Dict,
                  entityVec: String => Array[Float],
                  maxSeen: Int,
                  seen0: Seq[SeenMention]): (List[Mention], List[SeenMention]) = {
    val turnsSorted = ts.sortBy(_.turn_idx)
    val msSorted = ms.sortBy(m => (m.turn_idx, m.begin))
    val out = scala.collection.mutable.ListBuffer.empty[Mention]
    // sources, most recent first, each with its lowercased surface tokens
    var seenRev = seen0.iterator.map(s => (s, s.surfaceLower.split(" "))).toList
    // running max of seen surface token-lengths — O(1) per turn instead of
    // the full seenRev scan the round-5 shape paid per turn (O(T·M) on
    // long conversations; the sfDir fixtures carry thousands of mentions
    // per conversation, so the scan dominated the whole mention stage)
    var seenMaxLen = seenRev.foldLeft(0)((n, s) => math.max(n, s._2.length))
    // Conservative SUPERSET of the tokens occurring in seen surfaces: a
    // gram can only match a contiguous surface run if every gram token is
    // a surface token, so one hash probe per position rejects the
    // overwhelming majority (filler words) before any slice allocation,
    // dictionary probe or list scan. Never evicted on maxSeen turnover —
    // staying a superset keeps it purely an optimization; the
    // authoritative check is still the seenRev scan. Profiled: without
    // this guard the per-position slice+scan made coref 10× the cost of
    // detection itself at 26M turns (10.2k core-s → the round-3 scaling
    // session's dominant stage).
    val seenTokens = scala.collection.mutable.HashSet.empty[String]
    seenRev.foreach(_._2.foreach(seenTokens += _))
    var mi = 0
    turnsSorted.foreach { t =>
      // longest inheritable n-gram = longest seen surface minus one token
      val maxN = seenMaxLen - 1
      val toks = MentionDetect.tokenizeCased(if (t.text == null) "" else t.text)
      val lowerToks = toks.map(_.toLowerCase)
      // positions covered by detected mentions of THIS turn
      val taken = new Array[Boolean](toks.length)
      var j = mi
      while (j < msSorted.length && msSorted(j).turn_idx == t.turn_idx) {
        var p = msSorted(j).begin
        while (p < math.min(msSorted(j).end, toks.length)) { taken(p) = true; p += 1 }
        j += 1
      }
      if (maxN > 0) {
        var size = math.min(maxN, toks.length)
        while (size >= 1) {
          var i = 0
          while (i + size <= toks.length) {
            var free = true
            var p = i
            while (free && p < i + size) {
              if (taken(p) || !seenTokens.contains(lowerToks(p))) free = false
              p += 1
            }
            if (free) {
              val gramLower = lowerToks.slice(i, i + size)
              // not itself a dictionary hit (those are detection's job)
              val rawSurface = toks.slice(i, i + size).mkString(" ")
              if (MentionDetect.normalizeMention(rawSurface, dict).isEmpty) {
                seenRev.find { case (_, surfToks) =>
                  containsRun(surfToks, gramLower)
                } match {
                  case Some((src, _)) =>
                    val ctxToks = MentionDetect.contextTokens(toks, i, i + size)
                      .map(_.toLowerCase)
                    val ctx = MinHash.meanEmbedding(ctxToks, MentionDetect.CtxDim)
                    val (resolved, score) =
                      MentionDetect.resolve(src.candidates, ctx, entityVec)
                    out += Mention(Ids.mentionId(convId, t.turn_idx, i),
                                   convId, t.turn_idx, i, i + size, rawSurface,
                                   src.norm, src.candidates, ctx, resolved, score)
                    p = i
                    while (p < i + size) { taken(p) = true; p += 1 }
                    i += size - 1
                  case None =>
                }
              }
            }
            i += 1
          }
          size -= 1
        }
      }
      // this turn's detected mentions become inheritance sources for later
      // turns — prepended so the NEAREST preceding mention is found first
      val miStart = mi
      var newBlock = List.empty[(SeenMention, Array[String])]
      while (mi < msSorted.length && msSorted(mi).turn_idx == t.turn_idx) {
        val m = msSorted(mi)
        val surfaceLower = m.surface.toLowerCase
        val surfToks = surfaceLower.split(" ")
        surfToks.foreach(seenTokens += _)
        if (surfToks.length > seenMaxLen) seenMaxLen = surfToks.length
        newBlock = (SeenMention(m.turn_idx, m.begin, m.norm, surfaceLower, m.candidates),
                    surfToks) :: newBlock
        mi += 1
      }
      // deterministic nearest-first order: (turn_idx desc, begin desc,
      // norm asc); cap at the maxSeen nearest (streaming-parity bound —
      // see `inherited`). This turn's block sorts AS A WHOLE before every
      // already-seen mention (its turn_idx is strictly larger — the
      // turn-order rule), so sorting just the block and prepending IS the
      // full-list re-sort, minus the O(M log M)-per-turn cost the round-5
      // shape paid.
      if (mi != miStart) {
        seenRev = newBlock.sortBy { case (s, _) => (-s.begin, s.norm) } ::: seenRev
        if (maxSeen != Int.MaxValue) {
          seenRev = seenRev.take(maxSeen)
          // with a finite window the truncation can evict the longest
          // surface — recompute the kept-window max (O(maxSeen), only on
          // turns that added sources) so maxN is that of the kept window
          seenMaxLen =
            if (seenRev.isEmpty) 0
            else seenRev.iterator.map(_._2.length).max
        }
      }
    }
    (out.toList, seenRev.map(_._1))
  }

  /** True iff `run` occurs as a contiguous sub-array of `hay` AND is
    * shorter than hay (a full match is the mention itself, not a
    * substring). */
  def containsRun(hay: Array[String], run: Array[String]): Boolean = {
    if (run.length >= hay.length) return false
    var i = 0
    while (i + run.length <= hay.length) {
      var k = 0
      var ok = true
      while (ok && k < run.length) { if (hay(i + k) != run(k)) ok = false; k += 1 }
      if (ok) return true
      i += 1
    }
    false
  }
}
