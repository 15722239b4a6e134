package graft.streaming

import graft.functions.MinHash
import graft.model._
import graft.operators.{Coref, MentionDetect}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming mention linking (SURVEY.md §2.10, REL crel
  * `conv_el.py::ConvEL` analogue): transcripts arrive as an append stream
  * of turns; detection is stateless per turn, while coref candidate
  * inheritance is PER-CONVERSATION STATE carried across micro-batches
  * with `flatMapGroupsWithState` — the streaming twin of the batch
  * `Coref.inheritedOfConv` (same greedy discipline, same
  * nearest-preceding rule), so a conversation linked incrementally emits
  * exactly the mentions the batch pipeline emits on the completed
  * transcript WHEN the batch side runs with `maxSeen = MaxSeen` (gated by
  * StreamingLinkSpec, including a conversation with more than MaxSeen
  * sources); the batch default is unbounded, so conversations carrying
  * more than [[MaxSeen]] detected mentions can diverge from it.
  *
  * State discipline for 10¹²-turn scale: state per conv_id is the list of
  * inheritance-source mentions, capped at [[MaxSeen]] most-recent (a
  * conversation's working set — REL's coref window is likewise local),
  * and an idle conversation's state is dropped after
  * [[IdleTimeoutMs]] of processing time — state size is O(active
  * conversations), not O(all conversations ever seen).
  */
object StreamingLink {

  val MaxSeen = 64
  val IdleTimeoutMs: Long = 6 * 3600 * 1000L // 6h idle → conversation over

  /** Inheritance source kept in state (slim: no ctx vector, no ids). */
  case class SeenMention(turnIdx: Int, begin: Int, norm: String,
                         surfaceLower: String, candidates: Array[Candidate])
  case class ConvState(seen: Seq[SeenMention])

  /** Detect + coref-link the turns of one conversation micro-batch given
    * the seen-mention state; returns (emitted mentions, new state).
    * Turns are processed in turn_idx order; arrival across batches is
    * assumed turn-ordered per conversation (live transcript appends). */
  def processBatch(convId: String, batch: Array[Turn], seen0: Seq[SeenMention],
                   dict: MentionDetect.Dict,
                   entityVec: String => Array[Float]): (Seq[Mention], Seq[SeenMention]) = {
    var seen = seen0
    // token-membership guard — same optimization (and same conservative-
    // superset semantics) as Coref.inheritedOfConv's seenTokens
    val seenTokens = scala.collection.mutable.HashSet.empty[String]
    seen0.foreach(s => s.surfaceLower.split(" ").foreach(seenTokens += _))
    val out = scala.collection.mutable.ListBuffer.empty[Mention]
    batch.sortBy(_.turn_idx).foreach { t =>
      val detected = MentionDetect.mentionsOfTurn(t, dict, entityVec)
      out ++= detected
      // coref against state: earlier turns of THIS conversation only
      val maxN = if (seen.isEmpty) 0 else seen.iterator.map(_.surfaceLower.count(_ == ' ') + 1).max - 1
      if (maxN > 0) {
        val toks = MentionDetect.tokenizeCased(if (t.text == null) "" else t.text)
        val lowerToks = toks.map(_.toLowerCase)
        val taken = new Array[Boolean](toks.length)
        detected.foreach { m =>
          var p = m.begin
          while (p < math.min(m.end, toks.length)) { taken(p) = true; p += 1 }
        }
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
              val rawSurface = toks.slice(i, i + size).mkString(" ")
              if (MentionDetect.normalizeMention(rawSurface, dict).isEmpty) {
                val gram = lowerToks.slice(i, i + size)
                seen.find(s => Coref.containsRun(s.surfaceLower.split(" "), gram)) match {
                  case Some(src) =>
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
      // this turn's DETECTED mentions become sources for later turns
      detected.foreach(m => m.surface.toLowerCase.split(" ").foreach(seenTokens += _))
      seen = (seen ++ detected.map(m => SeenMention(m.turn_idx, m.begin, m.norm,
                                                    m.surface.toLowerCase, m.candidates)))
        .sortBy(s => (-s.turnIdx, -s.begin, s.norm)) // nearest-preceding first
        .take(MaxSeen)
    }
    (out.toList, seen)
  }

  /** Watermarked windowed aggregation over the mention stream: mentions
    * per (event-time window, surface form) — the SURVEY §2.10 "windowed
    * aggs + watermark" shape. Detection here is the stateless map; late
    * turns beyond the watermark are dropped by Spark, state is bounded by
    * open windows. */
  def mentionWindowCounts(turns: Dataset[Turn],
                          dictBc: Broadcast[MentionDetect.Dict],
                          watermark: String = "10 minutes",
                          windowLen: String = "1 minute")
      : org.apache.spark.sql.DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hits = turns.flatMap { t =>
      val dict = dictBc.value
      MentionDetect.detect(
        MentionDetect.tokenizeCased(if (t.text == null) "" else t.text), dict)
        .map(s => (t.ts, s.entry.mention))
    }.toDF("ts", "norm")
    hits.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("norm"))
      .count()
  }

  /** Streaming query body: turns stream → mention stream (append mode).
    * Use on a streaming Dataset[Turn] (`readStream` source).
    *
    * `timeout` defaults to ProcessingTimeTimeout so idle conversations'
    * state is dropped after [[IdleTimeoutMs]] (production setting; note
    * Spark keeps scheduling timeout-evaluation micro-batches while any
    * timeout is armed). Tests pass NoTimeout for bounded queries. */
  def mentions(turns: Dataset[Turn],
               dictBc: Broadcast[MentionDetect.Dict],
               entityVecBc: Broadcast[Map[String, Array[Float]]],
               timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val armTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, Mention](OutputMode.Append, timeout) {
        (convId, it, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val dict = dictBc.value
            val ev: String => Array[Float] =
              e => entityVecBc.value.getOrElse(e, Array.empty[Float])
            val seen0 = state.getOption.map(_.seen).getOrElse(Seq.empty)
            val (ms, seen) = processBatch(convId, it.toArray, seen0, dict, ev)
            state.update(ConvState(seen))
            if (armTimeout) state.setTimeoutDuration(IdleTimeoutMs)
            ms.iterator
          }
      }
  }

  /** One probe/hit row of the streaming joined path — a turn sentinel
    * (mention = "") or one dictionary hit of that turn. freq = -1 marks
    * no-hit; candidates ride as an (possibly empty) array so the row
    * stays null-free for the product encoder. */
  case class ProbeRow(conv_id: String, turn_idx: Int, text: String,
                      mention: String, lower: String, freq: Long,
                      candidates: Array[Candidate])

  /** [[mentions]] with the p(e|m) dictionary as a STATIC DIMENSION TABLE
    * instead of a broadcast Map — the streaming twin of
    * Pipeline.Dictionary.Dimension's Coref.detectAndInheritJoined (a
    * REL-scale dictionary is no more broadcastable to a streaming job
    * than to a batch one).
    *
    * Plan shape, all Structured-Streaming-legal:
    *
    *  1. Stateless stream map: each turn emits its Bloom-surviving
    *     candidate forms (MentionDetect.probeForms — the identical
    *     kernel the batch join path uses) PLUS one sentinel row, so
    *     hit-less turns still reach the stateful stage (they can inherit
    *     even when they detect nothing).
    *  2. STREAM-STATIC left outer join against the dictionary — per
    *     micro-batch, stateless, no watermark needed on the static side.
    *  3. groupByKey(conv_id) + flatMapGroupsWithState: rebuild the
    *     micro-batch's per-conversation MINI-dictionary from the joined
    *     hits and run the IDENTICAL [[processBatch]] kernel over the
    *     batch's turns with it. Exactness argument as in
    *     Coref.detectAndInheritJoined: every form the kernel probes
    *     (detection spans AND the inheritance rejector's grams) is built
    *     from the batch's own turn tokens, so a real dictionary key was
    *     emitted in step 1, survived the Bloom (no false negatives), and
    *     joined with its true entry; a non-key cannot enter the
    *     mini-dict (Bloom false positives die in the join). The
    *     mini-dict therefore answers every probe exactly like the
    *     broadcast Map — parity with [[mentions]] gated in
    *     StreamingLinkSpec across mid-conversation batch splits.
    *
    * The Bloom is built once at query-definition time from the static
    * dictionary (setup cost, not per-batch). Inheritance state is the
    * same capped [[ConvState]]; the mini-dict is NOT state — each
    * micro-batch brings its own. */
  def mentionsJoined(turns: Dataset[Turn], dictDf: Dataset[DictEntry],
                     entityVecBc: Broadcast[Map[String, Array[Float]]],
                     expectedDictKeys: Long = 0L, bloomFpp: Double = 0.01,
                     timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // first-token length masks prune the span enumeration exactly as in
    // the batch joined path (superset filter — survivor set unchanged)
    val (bloomBc, masksBc) = MentionDetect.dictSketches(dictDf, expectedDictKeys, bloomFpp)
    val probes = turns.flatMap { t =>
      val text = if (t.text == null) "" else t.text
      val fs = MentionDetect.probeForms(text, bloomBc.value, masksBc.value).toSeq
      ("" +: fs).map(f => (t.conv_id, t.turn_idx, text, f))
    }.toDF("conv_id", "turn_idx", "text", "form")
    val joined = probes
      .join(dictDf.toDF(), probes("form") === dictDf("mention"), "left_outer")
      .select(col("conv_id"), col("turn_idx"), col("text"),
              coalesce(col("mention"), lit("")).as("mention"),
              coalesce(col("lower"), lit("")).as("lower"),
              coalesce(col("freq"), lit(-1L)).as("freq"),
              coalesce(col("candidates"),
                       typedLit(Array.empty[Candidate])).as("candidates"))
      .as[ProbeRow]
    val armTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    joined.groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, Mention](OutputMode.Append, timeout) {
        (convId, it, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toArray
            val batch = rows.iterator.map(r => (r.turn_idx, r.text)).toSet
              .toArray.map { case (i, txt) => Turn(convId, i, null, txt, null, null) }
            val mini: MentionDetect.Dict = rows.iterator
              .filter(_.freq >= 0L)
              .map(r => r.mention -> DictEntry(r.mention, r.lower, r.freq, r.candidates))
              .toMap
            val ev: String => Array[Float] =
              e => entityVecBc.value.getOrElse(e, Array.empty[Float])
            val seen0 = state.getOption.map(_.seen).getOrElse(Seq.empty)
            val (ms, seen) = processBatch(convId, batch, seen0, mini, ev)
            state.update(ConvState(seen))
            if (armTimeout) state.setTimeoutDuration(IdleTimeoutMs)
            ms.iterator
          }
      }
  }
}
