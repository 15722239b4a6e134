package graft.streaming

import graft.model._
import graft.operators.{Coref, MentionDetect}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming mention linking (SURVEY.md §2.10, REL crel
  * `conv_el.py::ConvEL` analogue): transcripts arrive as an append stream
  * of turns; detection is stateless per turn, while coref candidate
  * inheritance is PER-CONVERSATION STATE carried across micro-batches
  * with `flatMapGroupsWithState`. Each micro-batch of a conversation runs
  * the batch kernel itself — Coref.detectAndInheritFrom, whose
  * inheritance scan is Coref.inheritFrom — starting from the sources its
  * earlier batches left, so a conversation linked incrementally emits
  * exactly the mentions the batch pipeline emits on the completed
  * transcript with `maxSeen = MaxSeen`, by construction. This holds under
  * the kernel's turn-order rule: a conversation's turns arrive in turn
  * order (a later micro-batch never carries an earlier turn). The batch
  * default is unbounded, so conversations carrying more than [[MaxSeen]]
  * detected mentions can diverge from it.
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

  case class ConvState(seen: Seq[Coref.SeenMention])

  /** Detect + coref-link the turns of one conversation micro-batch given
    * the sources its earlier batches left; returns (emitted mentions, new
    * sources). Turns are processed in turn_idx order; arrival across
    * batches is assumed turn-ordered per conversation (live transcript
    * appends). */
  def processBatch(convId: String, batch: Array[Turn], seen0: Seq[Coref.SeenMention],
                   dict: MentionDetect.Dict,
                   entityVec: String => Array[Float]): (Seq[Mention], Seq[Coref.SeenMention]) =
    Coref.detectAndInheritFrom(convId, batch, dict, entityVec,
                               MentionDetect.FirstTokenSketch.of(dict), MaxSeen, seen0)

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
    val sketchBc = spark.sparkContext.broadcast(MentionDetect.FirstTokenSketch.of(dictBc.value))
    val hits = turns.flatMap { t =>
      MentionDetect.detect(
        MentionDetect.tokenizeCased(if (t.text == null) "" else t.text),
        dictBc.value, sketchBc.value)
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
    * timeout is armed). Tests pass NoTimeout for bounded queries. The
    * dictionary's FirstTokenSketch is built on the driver and broadcast. */
  def mentions(turns: Dataset[Turn],
               dictBc: Broadcast[MentionDetect.Dict],
               entityVecBc: Broadcast[Map[String, Array[Float]]],
               timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Mention] = {
    val sketchBc = turns.sparkSession.sparkContext
      .broadcast(MentionDetect.FirstTokenSketch.of(dictBc.value))
    linkGroups(turns, (t: Turn) => t.conv_id, entityVecBc, timeout) { (_, ts) =>
      (ts.toArray, dictBc.value, sketchBc.value)
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
    *  3. groupByKey(conv_id) + flatMapGroupsWithState, the stateful
    *     stage of [[mentions]], with the micro-batch's per-conversation
    *     MINI-dictionary (and its FirstTokenSketch) rebuilt from the
    *     joined hits in place of the broadcast Map. Exactness argument as in
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
    * The Bloom and the FirstTokenSketch (MentionDetect.dictSketches) are
    * built once at query-definition time from the static dictionary
    * (setup cost, not per-batch). Inheritance state is the
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
    val (bloomBc, sketchBc) = MentionDetect.dictSketches(dictDf, expectedDictKeys, bloomFpp)
    val probes = turns.flatMap { t =>
      val text = if (t.text == null) "" else t.text
      val fs = MentionDetect.probeForms(text, bloomBc.value, sketchBc.value).toSeq
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
    linkGroups(joined, (r: ProbeRow) => r.conv_id, entityVecBc, timeout) { (convId, it) =>
      val rows = it.toArray
      val ts = rows.iterator.map(r => (r.turn_idx, r.text)).toSet
        .toArray.map { case (i, txt) => Turn(convId, i, null, txt, null, null) }
      val mini: MentionDetect.Dict = rows.iterator
        .filter(_.freq >= 0L)
        .map(r => r.mention -> DictEntry(r.mention, r.lower, r.freq, r.candidates))
        .toMap
      (ts, mini, MentionDetect.FirstTokenSketch.of(mini))
    }
  }

  /** The stateful stage of both queries: group `rows` by conversation and
    * run Coref.detectAndInheritFrom over each micro-batch group, with the
    * conversation's inheritance sources as state. `group` builds one
    * group's turns, dictionary and that dictionary's first-token sketch
    * from its rows — the only thing the two queries do differently. */
  private def linkGroups[R](rows: Dataset[R], convOf: R => String,
                            entityVecBc: Broadcast[Map[String, Array[Float]]],
                            timeout: GroupStateTimeout)(
      group: (String, Iterator[R]) => (Array[Turn], MentionDetect.Dict, MentionDetect.FirstTokenSketch))
      : Dataset[Mention] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val armTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    rows.groupByKey(convOf)
      .flatMapGroupsWithState[ConvState, Mention](OutputMode.Append, timeout) {
        (convId, it, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (ts, dict, sketch) = group(convId, it)
            val ev: String => Array[Float] =
              e => entityVecBc.value.getOrElse(e, Array.empty[Float])
            val seen0 = state.getOption.map(_.seen).getOrElse(Nil)
            val (ms, seen) =
              Coref.detectAndInheritFrom(convId, ts, dict, ev, sketch, MaxSeen, seen0)
            state.update(ConvState(seen))
            if (armTimeout) state.setTimeoutDuration(IdleTimeoutMs)
            ms.iterator
          }
      }
  }
}
