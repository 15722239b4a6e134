package graft.operators

import graft.functions.{MinHash, StringSim, TextFns}
import graft.model._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Greedy longest-match n-gram mention detection — the Spark re-expression
  * of REL's md-free Cmns tagger (`src/REL/ner/cmns.py::Cmns.predict`,
  * SURVEY.md §2.5 [M]): n-grams n=5→1 per unit, keep those present in the
  * p(e|m) dictionary, greedy non-overlapping longest-first, left-to-right.
  *
  * The whole detector is a pure per-row function over the token array
  * (ordered logic stays inside one row), so it is embarrassingly parallel,
  * deterministic across any partitioning, and runs as a typed flatMap with
  * a broadcast dictionary — the REL SQLite point-lookup becomes a broadcast
  * hash-map probe (SURVEY.md §2.3 row 1).
  */
object MentionDetect {

  /** Broadcast dictionary: normalized surface form → entry. */
  type Dict = Map[String, DictEntry]

  val MaxNgram = 5          // REL Cmns n=5..1 [M]
  // REL's get_ctxt uses ±100 words over document text [M]; transcript
  // turns are short and topic-dense, so a tight local window keeps the
  // context embedding informative instead of averaging in the whole turn.
  val CtxWindow = 4
  val CtxDim = 32           // hash-embedding dim for context vectors

  private val TokenRe = java.util.regex.Pattern.compile(TextFns.TokenPattern)
  private val CasedTokenRe = java.util.regex.Pattern.compile("[A-Za-z0-9]+")
  private val CombiningMarks = java.util.regex.Pattern.compile("\\p{M}+")

  def tokenize(text: String): Array[String] = {
    val m = TokenRe.matcher(TextFns.foldUnicode(text))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Accent-fold WITHOUT lowercasing — keeps case for the normalization
    * cascade ("Zürich" → "Zurich"). */
  def foldKeepCase(s: String): String = {
    var i = 0; var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s
    else CombiningMarks.matcher(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD))
      .replaceAll("")
  }

  /** Case-preserving tokens (accent-folded) — the detection path's input,
    * so the exact/recased/lower cascade can fire on real cased text
    * (round-1 verdict: lowercasing at tokenize made the cascade dead
    * code). On all-lowercase corpora this is identical to `tokenize`. */
  def tokenizeCased(text: String): Array[String] = {
    val m = CasedTokenRe.matcher(foldKeepCase(text))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Per-executor index: first token of a dictionary surface → bitmask of
    * entry lengths starting with it (bit n-1 = an n-token entry exists).
    * Lets `detect` skip the n-gram join+probe for the overwhelming
    * majority of positions (one array read instead of a string build +
    * hash probe per (position, size)). Cached per broadcast id. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Int]]()

  /** Masks are keyed by the LOWERCASED first token so a probe works for
    * raw cased input; dictionary keys themselves may be cased. */
  def firstTokenMasks(dict: Dict): Map[String, Int] =
    dict.keysIterator.foldLeft(Map.empty[String, Int]) { (acc, surface) =>
      val sp = surface.indexOf(' ')
      val first = (if (sp < 0) surface else surface.substring(0, sp)).toLowerCase
      val n = surface.count(_ == ' ') + 1
      if (n > MaxNgram) acc
      else acc.updated(first, acc.getOrElse(first, 0) | (1 << (n - 1)))
    }

  private[graft] def cachedMasks(dict: Dict, cacheKey: Long): Map[String, Int] =
    indexCache.computeIfAbsent(cacheKey, _ => firstTokenMasks(dict))

  /** The candidate dictionary-key forms of a raw surface — the
    * preprocess_mention cascade's probe set: exact, recased phrase,
    * lowercase alias. All-lowercase surfaces have a single form (the three
    * coincide), which keeps the hot detection loop at one probe. BOTH
    * detection paths (broadcast probe and dimension-table join) derive
    * their probes from this one function, so their semantics cannot
    * drift. */
  def cascadeForms(raw: String): Seq[String] = {
    var hasUpper = false
    var i = 0
    while (!hasUpper && i < raw.length) { if (raw.charAt(i).isUpper) hasUpper = true; i += 1 }
    if (!hasUpper) raw :: Nil
    else Seq(raw, modifyUppercasePhrase(raw), raw.toLowerCase).distinct
  }

  /** REL-style case-normalization cascade (preprocess_mention [M]):
    * try the exact form, then the recased phrase, then the lowercase
    * alias; among forms present in the dictionary pick the most frequent.
    * Our dictionary keys are lowercase, so for already-lower tokens this
    * is the identity — the cascade matters for raw (cased) surfaces. */
  def normalizeMention(raw: String, dict: Dict): Option[String] = {
    val forms = cascadeForms(raw)
    if (forms.lengthCompare(1) == 0)
      return if (dict.contains(raw)) Some(raw) else None
    val present = forms.filter(dict.contains)
    if (present.isEmpty) None
    else Some(present.maxBy(f => (dict(f).freq, f)))
  }

  /** REL utils.py::modify_uppercase_phrase [M]: ALL-CAPS phrases are
    * recased to Title Case; mixed-case strings pass through. */
  def modifyUppercasePhrase(s: String): String =
    if (s.nonEmpty && s == s.toUpperCase && s.exists(_.isLetter))
      s.split(" ").map(w =>
        if (w.isEmpty) w else w.charAt(0).toUpper + w.substring(1).toLowerCase)
        .mkString(" ")
    else s

  /** Detected span: token [begin, end) + dictionary entry. */
  final case class Span(begin: Int, end: Int, surface: String, entry: DictEntry)

  /** Greedy longest-match detection over a token array (cased or lower).
    * Deterministic: longer n-grams win, then leftmost-first. `masks`
    * (lowercased-first-token → length bitmask) prunes probes; pass None to
    * build it ad hoc.
    *
    * Each candidate surface is probed through the normalization cascade
    * (exact → recased → lower, most-frequent wins) — REL
    * preprocess_mention LIVE in the detection path, so cased input like
    * "TABLE HASH" or "Table hash" hits a lowercase dictionary entry. For
    * all-lowercase tokens the cascade degenerates to the plain probe. */
  def detect(tokens: Array[String], dict: Dict,
             masksOpt: Option[Map[String, Int]] = None): List[Span] = {
    val masks = masksOpt.getOrElse(firstTokenMasks(dict))
    val n = tokens.length
    // per-position length mask, one hash probe per token
    val posMask = new Array[Int](n)
    var p = 0
    while (p < n) { posMask(p) = masks.getOrElse(tokens(p).toLowerCase, 0); p += 1 }
    val taken = new Array[Boolean](n)
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var size = math.min(MaxNgram, n)    // REL Cmns: longest n first
    while (size >= 1) {
      val bit = 1 << (size - 1)
      var i = 0
      while (i + size <= n) {
        if ((posMask(i) & bit) != 0) {
          var free = true
          var j = i
          while (j < i + size) { if (taken(j)) free = false; j += 1 }
          if (free) {
            val surface =
              if (size == 1) tokens(i)
              else {
                val sb = new java.lang.StringBuilder(tokens(i))
                var k = i + 1
                while (k < i + size) { sb.append(' ').append(tokens(k)); k += 1 }
                sb.toString
              }
            normalizeMention(surface, dict) match {
              case Some(normKey) =>
                out += Span(i, i + size, surface, dict(normKey))
                j = i
                while (j < i + size) { taken(j) = true; j += 1 }
                i += size - 1
              case None =>
            }
          }
        }
        i += 1
      }
      size -= 1
    }
    out.sortBy(s => (s.begin, s.end)).toList
  }

  /** Context tokens: up to `CtxWindow` tokens left + right of the span,
    * excluding the mention tokens themselves (REL get_ctxt analogue). */
  def contextTokens(tokens: Array[String], begin: Int, end: Int): Array[String] = {
    val lo = math.max(0, begin - CtxWindow)
    val hi = math.min(tokens.length, end + CtxWindow)
    val out = new Array[String](begin - lo + hi - end)
    var k = 0
    var i = lo
    while (i < begin) { out(k) = tokens(i); k += 1; i += 1 }
    i = end
    while (i < hi) { out(k) = tokens(i); k += 1; i += 1 }
    out
  }

  /** Entity disambiguation for one mention: argmax over candidates of
    * `w_p * prior + w_c * cosine(ctx, entityVec)` — the linear analogue of
    * REL's prior ⊕ local-context scoring (entity_disambiguation.py::predict
    * path, SURVEY.md §3 E1). Entity vectors are deterministic hash
    * embeddings of the entity id's topic tokens (see EntityVectors).
    *
    * Returns (entity, confidence margin): margin = top1 − top2 score
    * (1.0 for a single candidate) — the analogue of REL's LR confidence.
    * Low-margin resolutions must not bridge clusters (Scoring gates the
    * ED-agreement feature on this margin). */
  val KeepPrior = 4         // REL keep_p_e_m [M]
  val KeepCtx = 3           // REL keep_ctx_ents [M]

  /** REL-style prerank (SURVEY §2.4): from a (possibly ~100-entry)
    * candidate list keep top-`KeepPrior` by prior ∪ top-`KeepCtx` by
    * context cosine; final scoring runs on that ≤7-candidate pool only.
    * Ties break by entity asc (deterministic). Lists already within the
    * budget pass through untouched. Returns (candidate, ctxCos) pairs so
    * the cosine isn't recomputed in the scoring loop. */
  def prerank(cands: Array[Candidate], ctxD: Array[Double],
                                 entityVec: String => Array[Float])
      : Array[(Candidate, Double)] = {
    def cosOf(c: Candidate): Double = {
      val ev = entityVec(c.entity)
      if (ev.isEmpty || ctxD.isEmpty) 0.0
      else StringSim.cosine(ctxD, ev.map(_.toDouble))
    }
    if (cands.length <= KeepPrior + KeepCtx) cands.map(c => (c, cosOf(c)))
    else {
      val withCos = cands.map(c => (c, cosOf(c)))
      val byPrior = withCos.sortBy { case (c, _) => (-c.prior, c.entity) }.take(KeepPrior)
      val byCtx = withCos.sortBy { case (c, cos) => (-cos, c.entity) }.take(KeepCtx)
      (byPrior ++ byCtx).distinctBy(_._1.entity)
    }
  }

  def resolve(cands: Array[Candidate], ctx: Array[Float],
              entityVec: String => Array[Float],
              wPrior: Double = 0.2, wCtx: Double = 0.8): (String, Double) = {
    if (cands.isEmpty) return ("", 0.0)
    val ctxD = ctx.map(_.toDouble)
    val pool = prerank(cands, ctxD, entityVec)
    var best = ""; var bestScore = Double.NegativeInfinity
    var second = Double.NegativeInfinity
    var i = 0
    while (i < pool.length) {
      val (c, cos) = pool(i)
      val s = wPrior * c.prior + wCtx * cos
      if (s > bestScore || (s == bestScore && c.entity < best)) {
        second = bestScore; best = c.entity; bestScore = s
      } else if (s > second) second = s
      i += 1
    }
    val margin = if (pool.length == 1) 1.0 else bestScore - second
    (best, margin)
  }

  /** Full per-turn mention extraction: tokenize → detect → normalize →
    * context embed → resolve. Pure; maps a Turn to its Mentions. */
  def mentionsOfTurn(t: Turn, dict: Dict,
                     entityVec: String => Array[Float],
                     masks: Option[Map[String, Int]] = None): Seq[Mention] = {
    // cased tokens feed detection (cascade-live); context embeddings use
    // the lowercased forms so vectors are case-stable
    val toks = tokenizeCased(if (t.text == null) "" else t.text)
    detect(toks, dict, masks).map { s =>
      val ctxToks = contextTokens(toks, s.begin, s.end).map(_.toLowerCase)
      val ctx = MinHash.meanEmbedding(ctxToks, CtxDim)
      val (resolved, score) = resolve(s.entry.candidates, ctx, entityVec)
      Mention(Ids.mentionId(t.conv_id, t.turn_idx, s.begin),
              t.conv_id, t.turn_idx, s.begin, s.end, s.surface,
              s.entry.mention, s.entry.candidates, ctx, resolved, score)
    }
  }

  /** Distributed detection: typed flatMap with a broadcast dictionary.
    * Map-only — zero shuffles (SURVEY.md §3 Stage A). */
  def run(turns: Dataset[Turn], dictBc: Broadcast[Dict],
          entityVecBc: Broadcast[Map[String, Array[Float]]]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bcId = dictBc.id
    turns.mapPartitions { it =>
      val dict = dictBc.value
      val masks = Some(cachedMasks(dict, bcId))
      val ev: String => Array[Float] =
        e => entityVecBc.value.getOrElse(e, Array.empty[Float])
      it.flatMap(t => mentionsOfTurn(t, dict, ev, masks))
    }
  }

  /** Stage 1 of batch join-based detection (Coref.detectAndInheritJoined,
    * map-only): every ≤[[MaxNgram]]-token span of every turn, probed
    * through its [[cascadeForms]] against a broadcast Bloom of the
    * dictionary keys — the distributed analogue of the broadcast path's
    * first-token masks, for a REL-scale p(e|m) table (SURVEY D3) that
    * cannot be collected into a driver Map; only survivors leave the
    * mapper, deduped per turn, as slim (conv_id, turn_idx, form) rows. The
    * probe reads `slimTurns`, the (conv_id, turn_idx, text) projection, so
    * the scan never decodes `role`, `tool` or `ts`. `masksBc` (from
    * [[dictSketches]]) prunes span enumeration the same way the broadcast
    * path's [[firstTokenMasks]] does. */
  private[operators] def bloomSurvivorForms(
      slimTurns: DataFrame,
      bloomBc: Broadcast[org.apache.spark.util.sketch.BloomFilter],
      masksBc: Broadcast[Map[String, Int]]): DataFrame = {
    val spark = slimTurns.sparkSession
    import spark.implicits._
    slimTurns.as[(String, Int, String)]
      .flatMap { case (conv, turn, text) =>
        probeForms(text, bloomBc.value, masksBc.value).map(f => (conv, turn, f))
      }.toDF("conv_id", "turn_idx", "form")
  }

  /** The two broadcast sketches of a DISTRIBUTED dictionary that both
    * join-based paths (batch and streaming) probe, built in ONE pass
    * over its key column — one job, no shuffle: a Bloom filter over the
    * keys (`expectedDictKeys` <= 0 ⇒ one exact count scan for sizing), and
    * first-token length masks, the analogue of [[firstTokenMasks]]
    * (lowercased first token → bitmask of entry token counts; bounded by
    * DISTINCT FIRST TOKENS, a few MB at 10M keys). Both are SUPERSET
    * filters: every true key's span passes both, so the survivor set after
    * the dictionary join — hence the mention output — is unchanged; the
    * win is skipping span builds + cascade + Bloom probes at positions
    * whose token starts no key. */
  private[graft] def dictSketches(dictDf: Dataset[DictEntry],
                                  expectedDictKeys: Long,
                                  fpp: Double)
      : (Broadcast[org.apache.spark.util.sketch.BloomFilter], Broadcast[Map[String, Int]]) = {
    val spark = dictDf.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val nKeys = 1L + (if (expectedDictKeys > 0) expectedDictKeys
                      else math.max(dictDf.count(), 1L))
    val zero = (org.apache.spark.util.sketch.BloomFilter.create(nKeys, fpp),
                scala.collection.mutable.HashMap.empty[String, Int])
    val (bloom, masks) = dictDf.toDF().select(col("mention")).as[String].rdd
      .aggregate(zero)({ case (acc @ (b, m), key) =>
        if (key != null) {
          b.putString(key)
          val n = 1 + key.count(_ == ' ')
          if (n <= MaxNgram) {
            val first = key.takeWhile(_ != ' ').toLowerCase
            m(first) = m.getOrElse(first, 0) | (1 << (n - 1))
          }
        }
        acc
      }, { case (acc @ (b1, m1), (b2, m2)) =>
        b1.mergeInPlace(b2)
        m2.foreach { case (k, v) => m1(k) = m1.getOrElse(k, 0) | v }
        acc
      })
    (spark.sparkContext.broadcast(bloom), spark.sparkContext.broadcast(masks.toMap))
  }

  /** The deduped candidate dictionary-key forms of ONE turn: every
    * ≤[[MaxNgram]]-token span, through its [[cascadeForms]], filtered by
    * the dictionary-key Bloom. The per-turn kernel shared by
    * [[bloomSurvivorForms]] (batch) and StreamingLink.mentionsJoined
    * (stream-static join path). Both join the survivors to the dictionary
    * into per-conversation mini-dictionaries that feed the one
    * detect-and-inherit kernel, Coref.detectAndInheritFrom: every form
    * that kernel looks up — detection spans and inheritance grams alike —
    * is a span of a turn of the conversation, so every real dictionary key
    * among them survives here. */
  private[graft] def probeForms(
      text: String,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      masks: Map[String, Int]): Iterator[String] = {
    val toks = tokenizeCased(if (text == null) "" else text)
    val n = toks.length
    // per-position length mask (one hash probe per token), the same
    // pruning `detect` does: span (i, size) is enumerated only when some
    // dictionary key of that token count starts with toks(i)
    val posMask = new Array[Int](n)
    var p = 0
    while (p < n) { posMask(p) = masks.getOrElse(toks(p).toLowerCase, 0); p += 1 }
    val forms = scala.collection.mutable.HashSet.empty[String]
    var size = 1
    while (size <= MaxNgram) {
      val bit = 1 << (size - 1)
      var i = 0
      while (i + size <= n) {
        if ((posMask(i) & bit) != 0) {
          val raw =
            if (size == 1) toks(i)
            else {
              val sb = new java.lang.StringBuilder(toks(i))
              var k = i + 1
              while (k < i + size) { sb.append(' ').append(toks(k)); k += 1 }
              sb.toString
            }
          cascadeForms(raw).foreach { f =>
            if (bloom.mightContain(f)) forms += f
          }
        }
        i += 1
      }
      size += 1
    }
    forms.iterator
  }

  /** Re-run entity disambiguation against the entity-vector table as a
    * JOIN DIMENSION instead of a broadcast Map (SURVEY D4: REL's
    * Wikipedia2Vec table is millions of entities × 300 floats ≈ tens of
    * GB; it can no more live in a driver Map than the p(e|m) dictionary
    * can). Re-resolves the vector-less output of
    * Coref.detectAndInheritJoined(vecDf = None); Pipeline.Dictionary.Dimension
    * resolves in-group instead, which runs the mention kernel once.
    *
    * Shape: explode each mention's candidate entities (slim id+entity
    * rows; REL caps candidate lists at top-100, so the fan-out is
    * bounded) → equi-join the vector dimension table on entity (hot
    * entities are hot JOIN keys — AQE skew territory, no pair explosion:
    * one dimension row per entity) → regroup the gathered (entity, vec)
    * list per mention (uniform mention_id key) → re-execute the IDENTICAL
    * Scala `resolve` (prerank + blend + margin) with the gathered
    * vectors. Because the final step runs the same code the broadcast
    * path runs, equivalence is exact, not approximate — property-tested
    * in JoinedDetectSpec.
    *
    * `vecDf` schema: (entity: string, vec: array<float>). Missing
    * entities resolve with the empty vector, as in the broadcast path. */
  def resolveJoined(ms: Dataset[Mention], vecDf: DataFrame,
                    wPrior: Double = 0.2, wCtx: Double = 0.8): Dataset[Mention] = {
    val spark = ms.sparkSession
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ex = ms.toDF()
      .select(col("mention_id"), explode(col("candidates")).as("c"))
      .select(col("mention_id"), col("c.entity").as("entity"))
    val gathered = ex
      .join(vecDf.select(col("entity"), col("vec")), Seq("entity"), "left")
      .groupBy("mention_id")
      .agg(collect_list(struct(col("entity"), col("vec"))).as("evs"))
    ms.joinWith(gathered, ms("mention_id") === gathered("mention_id"), "left")
      .map { case (m, row) =>
        val lookup: Map[String, Array[Float]] =
          if (row == null) Map.empty
          else row.getSeq[org.apache.spark.sql.Row](1).iterator.map { r =>
            val v = r.getSeq[Float](1)
            r.getString(0) -> (if (v == null) Array.empty[Float] else v.toArray)
          }.toMap
        val (resolved, score) = resolve(m.candidates, m.ctx,
          e => lookup.getOrElse(e, Array.empty[Float]), wPrior, wCtx)
        m.copy(resolved = resolved, resolvedScore = score)
      }
  }
}
