package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination — flag (and carve out) training documents that
  * share any n-token n-gram with a benchmark/eval set, the standard
  * leakage guard a training-data pipeline runs before every mixture build
  * (the n-gram-overlap rule GPT-3/PaLM-style decontamination uses;
  * SURVEY.md's LLM-pipeline brief, round-4 verdict "What's missing" #1).
  *
  * Scale shape — the benchmark side is SMALL (eval sets are curated,
  * ~10^3–10^6 docs), the corpus is the 100-TB side, so:
  *  - the benchmark explodes to its DISTINCT gram set (one small shuffle
  *    on the small side only);
  *  - the corpus's gram stream is map-only (tokenize → n-grams →
  *    per-doc-distinct, all inside whole-stage codegen via bindArray) and
  *    joins the benchmark grams with an explicit `broadcast()` hint —
  *    corpus grams NEVER cross an exchange;
  *  - only matched (doc, gram) hits shuffle into the per-doc aggregate,
  *    and [[clean]] carves the corpus with a broadcast anti-join on the
  *    flagged ids. Corpus×corpus never happens, corpus rows shuffle only
  *    if contaminated.
  * If the benchmark gram set outgrows broadcast (rare; ~10^8 grams),
  * pass `broadcastBench = false` to degrade to a shuffle join rather
  * than OOM the driver.
  *
  * Gram semantics match the DuckDB oracle exactly: n consecutive
  * lowercased [a-z0-9]+ tokens joined by single spaces; documents with
  * fewer than n tokens have no grams.
  */
object Decontaminate {

  /** All n-token grams of a (possibly expensive) token-array expression —
    * bindArray-bound so the tokenizer runs once per row, not once per
    * gram (the q09 CollapseProject lesson). */
  def ngrams(toks: Column, n: Int): Column =
    TextFns.bindArray(toks, tk =>
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>")))

  /** Per-doc DISTINCT (id, gram) frame — map-only. */
  def gramSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
              explode(array_distinct(ngrams(TextFns.tokens(col(textCol)), n))).as("gram"))

  /** Corpus documents sharing ≥1 n-gram with the benchmark set.
    * Output: (id, n_hit_grams = distinct contaminating grams,
    * first_gram = alphabetically first of them) — deterministic and
    * SQL-exact (q50). */
  def flagged(corpus: DataFrame, benchmark: DataFrame,
              idCol: String, textCol: String, n: Int,
              broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = gramSet(benchmark, idCol, textCol, n)
      .select("gram").distinct()
    val dim = if (broadcastBench) broadcast(benchGrams) else benchGrams
    gramSet(corpus, idCol, textCol, n)
      .join(dim, "gram")
      .groupBy("id")
      .agg(count(lit(1)).as("n_hit_grams"), min("gram").as("first_gram"))
  }

  /** The corpus with contaminated documents removed — broadcast anti-join
    * on the flagged id set (flagged docs are few; the corpus never
    * reshuffles). */
  def clean(corpus: DataFrame, benchmark: DataFrame,
            idCol: String, textCol: String, n: Int): DataFrame = {
    val bad = flagged(corpus, benchmark, idCol, textCol, n)
      .select(col("id").as(idCol))
    corpus.join(broadcast(bad), Seq(idCol), "left_anti")
  }
}
