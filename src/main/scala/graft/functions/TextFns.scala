package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text analytics built from codegen'd built-ins only — no
  * UDFs in this file, so every function stays inside whole-stage codegen
  * and Catalyst can prune/push down around it.
  *
  * Tokenization matches the DuckDB oracle exactly:
  * `regexp_extract_all(lower(text), '[a-z0-9]+')`.
  * Reference analogue: REL `utils.py::split_in_words` (SURVEY.md §2.2 [M]).
  */
object TextFns {

  val TokenPattern = "[a-z0-9]+"

  /** [[TokenPattern]] compiled once, for Scala-side tokenizers. */
  val TokenRegex: scala.util.matching.Regex = TokenPattern.r

  private val CombiningMarks = java.util.regex.Pattern.compile("\\p{M}+")

  /** Unicode fold (Scala side; column side = GraftFunctions.unicodeFold):
    * NFKD decomposition, strip combining marks, lowercase. Matches DuckDB
    * `strip_accents(lower(x))` for Latin accents — "Zürich"→"zurich". */
  def foldUnicode(s: String): String = {
    // fast path: ASCII needs no normalizer pass
    var i = 0; var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) s.toLowerCase
    else CombiningMarks.matcher(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD))
      .replaceAll("").toLowerCase
  }

  /** Lowercased word tokens as ArrayType(StringType). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Bind an expensive array expression to a lambda variable so it is
    * evaluated ONCE per row. Catalyst's CollapseProject inlines aliased
    * expressions into every consumer — `transform(seq, i -> toks[i])`
    * over an aliased `toks = regexp_extract_all(...)` re-runs the regex
    * per array ELEMENT after collapse (measured 12× on q09: 15 s → 1.2 s).
    * Lambda variables are runtime-bound (`NamedLambdaVariable`), so the
    * optimizer cannot substitute into the body; wrapping the value in a
    * 1-element array + `transform` is a zero-shuffle, codegen-friendly
    * common-subexpression barrier. */
  def bindArray(arr: Column, f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  /** Adjacent-token bigrams "a b" of a (possibly expensive) token-array
    * expression, evaluated via [[bindArray]]. */
  def bigrams(toks: Column): Column =
    bindArray(toks, tk =>
      when(size(tk) >= 2,
        transform(sequence(lit(0), size(tk) - 2),
          i => concat(element_at(tk, i + 1), lit(" "), element_at(tk, i + 2))))
      .otherwise(array()))

  /** Unicode-folded word tokens: accent-stripped, NFKD-folded, lowercased
    * before the same token regex — the tokenizer real multilingual corpora
    * need (plain `tokens` deletes "café"/"Zürich" outright). */
  def foldedTokens(text: Column): Column =
    regexp_extract_all(
      org.apache.spark.sql.graft.GraftFunctions.unicodeFold(text),
      lit(TokenPattern), lit(0))

  /** Whitespace token count (cheap, no array materialization). */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish token count: runs of letters, runs of digits, and each other
    * non-space char count as one token (approximates subword tokenizers'
    * behavior on clean text closely enough for budget estimation). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Document fingerprint: md5 of the sorted distinct token set. Two
    * documents with the same bag-of-words (ignoring order/multiplicity)
    * collide — the standard cheap near-dup key. */
  def fingerprint(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))))

  /** Winnowing fingerprint hashes (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): 60-bit md5 hashes of the char `k`-grams of
    * lower(text); every window of `w` consecutive k-gram hashes
    * contributes its minimum; the fingerprint is the sorted DISTINCT
    * selected-hash set. Guarantee: two documents sharing any substring
    * of length ≥ w + k - 1 share at least one fingerprint hash.
    *
    * 60-bit (15 hex chars) rather than 64 so the value is a positive
    * Long and SIGNED ordering here equals UNSIGNED ordering in the
    * DuckDB oracle (`('0x' || substr(md5(g),1,15))::UBIGINT`). Texts
    * shorter than `k` chars have no k-grams → empty fingerprint
    * (callers drop them, as the oracle's unnest naturally does).
    *
    * O(n) sliding-window minimum via a monotone deque (indices of
    * strictly increasing hash values; each index enters and leaves the
    * deque once) — the round-3 O(n·w) min-scan re-scanned every window
    * and was quadratic-ish for book-length documents with large w.
    * Property-tested equal to the naive per-window scan in WinnowSpec. */
  def winnowHashes(text: String, k: Int, w: Int): Array[Long] = {
    val s = text.toLowerCase
    val n = s.length - k + 1
    if (n <= 0) return Array.empty
    val hs = Array.tabulate(n)(i => MinHash.md5Long(s.substring(i, i + k)) >>> 4)
    val sel = scala.collection.mutable.SortedSet.empty[Long]
    // deque of k-gram indices, hash values strictly increasing front→back
    val dq = new Array[Int](n)
    var lo = 0; var hi = 0 // deque = dq[lo, hi)
    var j = 0
    val lastStart = math.max(0, n - w)
    var i = 0
    while (i <= lastStart) {
      val end = math.min(i + w, n)
      while (j < end) {
        while (hi > lo && hs(dq(hi - 1)) >= hs(j)) hi -= 1
        dq(hi) = j; hi += 1
        j += 1
      }
      while (dq(lo) < i) lo += 1
      sel += hs(dq(lo))
      i += 1
    }
    sel.toArray
  }

  /** Reference O(n·w) per-window min-scan — kept ONLY as the equality
    * oracle for [[winnowHashes]]'s deque (WinnowSpec property test). */
  private[graft] def winnowHashesNaive(text: String, k: Int, w: Int): Array[Long] = {
    val s = text.toLowerCase
    val n = s.length - k + 1
    if (n <= 0) return Array.empty
    val hs = Array.tabulate(n)(i => MinHash.md5Long(s.substring(i, i + k)) >>> 4)
    val sel = scala.collection.mutable.SortedSet.empty[Long]
    val lastStart = math.max(0, n - w)
    var i = 0
    while (i <= lastStart) {
      var m = Long.MaxValue
      var j = i
      val end = math.min(i + w, n)
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      sel += m
      i += 1
    }
    sel.toArray
  }

  /** Count of tokens that appear in a fixed (small) wordlist. */
  def wordlistHits(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  // Tiny per-language marker lists for the n-gram-free language-ID
  // heuristic. Deliberately small + hardcoded so the DuckDB oracle can
  // inline the identical lists.
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "en", "un"),
  )

  /** Heuristic language ID: language with the most marker-token hits;
    * ties broken by language code order; no hits → "und" (undetermined). */
  def langId(toks: Column): Column = {
    val scored = LangMarkers.map { case (code, words) =>
      struct(wordlistHits(toks, words).as("hits"), lit(code).as("code"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("code")).otherwise(lit("und"))
  }

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")

  /** Quality-signal struct: token count, char count, mean token length,
    * stopword ratio, alphanumeric-char ratio. Ratios rounded to 4 decimals
    * for oracle comparability. */
  def qualitySignals(text: Column, toks: Column): Column = {
    val nTok = size(toks)
    val nChars = length(text)
    val alnumChars = length(regexp_replace(lower(text), "[^a-z0-9]", ""))
    struct(
      nTok.as("n_tokens"),
      nChars.as("n_chars"),
      round(when(nTok > 0, alnumChars.cast("double") / nTok).otherwise(0.0), 4)
        .as("mean_token_len"),
      round(when(nTok > 0, wordlistHits(toks, Stopwords).cast("double") / nTok)
        .otherwise(0.0), 4).as("stopword_ratio"),
      round(when(nChars > 0, alnumChars.cast("double") / nChars).otherwise(0.0), 4)
        .as("alnum_ratio"),
    )
  }

  /** Repetition-signal struct (the Gopher quality-filter family, Rae et
    * al. 2021 §A1 "repetitious text"): share of the single most frequent
    * unigram and bigram, plus the distinct-token ratio. High top-n-gram
    * share / low distinct ratio marks degenerate boilerplate and
    * generation loops. Pure per-row column math over the token array —
    * no shuffle, O(distinct·n) per row via higher-order array functions;
    * ratios rounded to 4 decimals for oracle comparability.
    *
    * The token array is lambda-bound once ([[bindArray]]) so the
    * (possibly expensive) tokenizer expression isn't re-evaluated per
    * nested reference. */
  def repetitionSignals(toks: Column): Column = bindArray(toks, { tk =>
    val nTok = size(tk)
    val topCount = (arr: Column) =>
      aggregate(array_distinct(arr), lit(0), (acc, t) =>
        greatest(acc, size(filter(arr, x => x === t))))
    struct(
      round(when(nTok > 0, topCount(tk).cast("double") / nTok)
        .otherwise(0.0), 4).as("top_unigram_share"),
      round(when(nTok >= 2, topCount(bigrams(tk)).cast("double") / (nTok - 1))
        .otherwise(0.0), 4).as("top_bigram_share"),
      round(when(nTok > 0, size(array_distinct(tk)).cast("double") / nTok)
        .otherwise(0.0), 4).as("distinct_ratio"),
    )
  })
}
