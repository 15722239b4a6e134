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

  /** Bounded first-token length sketch of a dictionary's keys: bucket
    * h(lowercased first token) holds the OR of the token-count bits
    * (bit n-1 = an n-token key) of the keys whose first token hashes there.
    * A collision only adds bits, so pruning span enumeration with
    * `lengths` is a SUPERSET filter: it skips the string build, cascade
    * and probe at positions whose token starts no key, and never drops a
    * mention. The size is fixed by the key count (next power of two
    * >= 8 x keys, 2^6 to 2^22 bytes), so a REL-scale dictionary (SURVEY
    * D3) broadcasts at most 4 MB however many distinct first tokens it
    * has. [[FirstTokenSketch.of]] builds one from a Map; `add` + `merge`
    * inside a distributed aggregate ([[dictSketches]]) fill the identical
    * buckets from the same keys. */
  final class FirstTokenSketch private[graft] (private[graft] val buckets: Array[Byte])
      extends Serializable {
    private def slot(token: String): Int =
      scala.util.hashing.MurmurHash3.stringHash(token.toLowerCase) & (buckets.length - 1)

    /** Record dictionary key `key`; keys over [[MaxNgram]] tokens are
      * never probed, so they set nothing. */
    def add(key: String): this.type = {
      val n = 1 + key.count(_ == ' ')
      if (n <= MaxNgram) {
        val i = slot(key.takeWhile(_ != ' '))
        buckets(i) = (buckets(i) | (1 << (n - 1))).toByte
      }
      this
    }

    /** Token counts (bit n-1) of the keys that may start with `token`. */
    def lengths(token: String): Int = buckets(slot(token))

    /** [[lengths]] at every position of a token array. */
    def lengths(tokens: Array[String]): Array[Int] = tokens.map(t => lengths(t))

    /** OR `other`, sized for the same key count, into this sketch. */
    def merge(other: FirstTokenSketch): this.type = {
      require(other.buckets.length == buckets.length, "sketches of different sizes")
      for (i <- buckets.indices) buckets(i) = (buckets(i) | other.buckets(i)).toByte
      this
    }
  }

  object FirstTokenSketch {
    /** An empty sketch sized for `keys` dictionary keys. */
    def apply(keys: Long): FirstTokenSketch = {
      var n = 1 << 6
      while (n < (1 << 22) && n < 8 * keys) n <<= 1
      new FirstTokenSketch(new Array[Byte](n))
    }

    def of(dict: Dict): FirstTokenSketch =
      dict.keysIterator.foldLeft(FirstTokenSketch(dict.size.toLong))(_ add _)
  }

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

  /** Tokens [i, i + size) joined by single spaces: a candidate surface. */
  private def span(tokens: Array[String], i: Int, size: Int): String =
    if (size == 1) tokens(i)
    else {
      val sb = new java.lang.StringBuilder(tokens(i))
      var k = i + 1
      while (k < i + size) { sb.append(' ').append(tokens(k)); k += 1 }
      sb.toString
    }

  /** Greedy longest-match detection over a token array (cased or lower).
    * Deterministic: longer n-grams win, then leftmost-first. `sketch`, the
    * dictionary's [[FirstTokenSketch]], prunes probes to the spans whose
    * first token may start a key of their token count.
    *
    * Each candidate surface is probed through the normalization cascade
    * (exact → recased → lower, most-frequent wins) — REL
    * preprocess_mention LIVE in the detection path, so cased input like
    * "TABLE HASH" or "Table hash" hits a lowercase dictionary entry. For
    * all-lowercase tokens the cascade degenerates to the plain probe. */
  def detect(tokens: Array[String], dict: Dict, sketch: FirstTokenSketch): List[Span] = {
    val n = tokens.length
    val posMask = sketch.lengths(tokens)
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
            val surface = span(tokens, i, size)
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
                     sketch: FirstTokenSketch): Seq[Mention] = {
    // cased tokens feed detection (cascade-live); context embeddings use
    // the lowercased forms so vectors are case-stable
    val toks = tokenizeCased(if (t.text == null) "" else t.text)
    detect(toks, dict, sketch).map { s =>
      val ctxToks = contextTokens(toks, s.begin, s.end).map(_.toLowerCase)
      val ctx = MinHash.meanEmbedding(ctxToks, CtxDim)
      val (resolved, score) = resolve(s.entry.candidates, ctx, entityVec)
      Mention(Ids.mentionId(t.conv_id, t.turn_idx, s.begin),
              t.conv_id, t.turn_idx, s.begin, s.end, s.surface,
              s.entry.mention, s.entry.candidates, ctx, resolved, score)
    }
  }

  /** Distributed detection: typed flatMap with a broadcast dictionary and
    * its [[FirstTokenSketch]], built once on the driver and broadcast.
    * Map-only — zero shuffles (SURVEY.md §3 Stage A). */
  def run(turns: Dataset[Turn], dictBc: Broadcast[Dict],
          entityVecBc: Broadcast[Map[String, Array[Float]]]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val sketchBc = spark.sparkContext.broadcast(FirstTokenSketch.of(dictBc.value))
    turns.mapPartitions { it =>
      val (dict, sketch) = (dictBc.value, sketchBc.value)
      val ev: String => Array[Float] =
        e => entityVecBc.value.getOrElse(e, Array.empty[Float])
      it.flatMap(t => mentionsOfTurn(t, dict, ev, sketch))
    }
  }

  /** The two broadcast sketches of a DISTRIBUTED dictionary that both
    * join-based paths (batch and streaming) probe, built in ONE pass
    * over its key column — one job, no shuffle: a Bloom filter over the
    * keys and the [[FirstTokenSketch]] of their first tokens, both sized
    * by the key count (`expectedDictKeys` <= 0 ⇒ one exact count scan)
    * and merged by OR across partitions, so neither grows with the
    * dictionary's distinct first tokens. Both are SUPERSET filters: every
    * true key's span passes both, so the survivor set after the
    * dictionary join — hence the mention output — is unchanged; the win
    * is skipping span builds + cascade + Bloom probes at positions whose
    * token starts no key. */
  private[graft] def dictSketches(dictDf: Dataset[DictEntry],
                                  expectedDictKeys: Long,
                                  fpp: Double)
      : (Broadcast[org.apache.spark.util.sketch.BloomFilter], Broadcast[FirstTokenSketch]) = {
    val spark = dictDf.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val keys = if (expectedDictKeys > 0) expectedDictKeys else dictDf.count()
    val zero = (org.apache.spark.util.sketch.BloomFilter.create(1L + math.max(keys, 1L), fpp),
                FirstTokenSketch(keys))
    val (bloom, sketch) = dictDf.toDF().select(col("mention")).as[String].rdd
      .aggregate(zero)({ case (acc @ (b, s), key) =>
        if (key != null) { b.putString(key); s.add(key) }
        acc
      }, { case (acc @ (b1, s1), (b2, s2)) =>
        b1.mergeInPlace(b2)
        s1.merge(s2)
        acc
      })
    (spark.sparkContext.broadcast(bloom), spark.sparkContext.broadcast(sketch))
  }

  /** The deduped candidate dictionary-key forms of ONE turn: every
    * ≤[[MaxNgram]]-token span, through its [[cascadeForms]], filtered by
    * the dictionary-key Bloom and pruned by the dictionary's
    * [[FirstTokenSketch]]. The per-turn kernel shared by
    * Coref.detectAndInheritJoined (batch) and StreamingLink.mentionsJoined
    * (stream-static join path). Both join the survivors to the dictionary
    * into per-conversation mini-dictionaries that feed the one
    * detect-and-inherit kernel, Coref.detectAndInheritFrom: every form
    * that kernel looks up — detection spans and inheritance grams alike —
    * is a span of a turn of the conversation, so every real dictionary key
    * among them survives here. */
  private[graft] def probeForms(
      text: String,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      sketch: FirstTokenSketch): Iterator[String] = {
    val toks = tokenizeCased(if (text == null) "" else text)
    val n = toks.length
    val posMask = sketch.lengths(toks)
    val forms = scala.collection.mutable.HashSet.empty[String]
    var size = 1
    while (size <= MaxNgram) {
      val bit = 1 << (size - 1)
      var i = 0
      while (i + size <= n) {
        if ((posMask(i) & bit) != 0) {
          cascadeForms(span(toks, i, size)).foreach { f =>
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
