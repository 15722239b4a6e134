package graft.operators

import graft.sources.TableIO
import org.apache.spark.sql.graft.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise scoring stage (SURVEY.md §3 Stage B; north_rule "batched
  * Jaro-Winkler/Levenshtein string similarity plus cosine similarity over
  * context embeddings (mirroring REL's local-context + prior scoring)").
  *
  * Pure column math over the pair DataFrame — every feature is either a
  * codegen'd built-in (`levenshtein`), a custom codegen'd Catalyst
  * expression (`jaro_winkler`, `cosine_sim`), or a higher-order array
  * function over the (≤ top-K) candidate lists. No UDFs, no shuffles: the
  * stage is map-only over the already-joined pairs.
  */
object Scoring {

  /** Feature weights + decision threshold. Defaults calibrated on the
    * golden fixture set (PipelineSpec) to pairwise F1 ≥ 0.99.
    *
    * Weight design: ED agreement dominates (REL semantics — two mentions
    * corefer iff they link to the same entity; alias surfaces have zero
    * string similarity), gated on both mentions' resolution-confidence
    * margin ≥ minMargin so an uncertain disambiguation can never bridge
    * two clusters transitively. String/context features corroborate and
    * carry out-of-dictionary near-duplicates. */
  case class ScoreConfig(
      wJaroWinkler: Double = 0.15,
      wLevRatio: Double = 0.05,
      wCosine: Double = 0.15,
      wPriorOverlap: Double = 0.15,
      wResolvedAgree: Double = 0.50,
      minMargin: Double = 0.02,
      threshold: Double = 0.50)

  /** Adds feature + score columns to a pair frame with `a`/`b` Mention
    * structs. Kept separate from `edges` so oracle queries can dump raw
    * features. */
  def withFeatures(pairs: DataFrame, cfg: ScoreConfig = ScoreConfig()): DataFrame = {
    val jw = GraftFunctions.jaroWinkler(col("a.norm"), col("b.norm"))
    val maxLen = greatest(length(col("a.norm")), length(col("b.norm")))
    val levRatio = when(maxLen > 0,
      lit(1.0) - levenshtein(col("a.norm"), col("b.norm")).cast("double") / maxLen)
      .otherwise(1.0)
    val cos = GraftFunctions.cosineSim(col("a.ctx"), col("b.ctx"))
    // max over shared candidate entities of min(prior_a, prior_b):
    // probability mass both surfaces put on a common entity. The b-side
    // entity→prior map is hoisted into a lambda binding (1-element array +
    // transform — the same CollapseProject barrier as TextFns.bindArray):
    // written inline inside the aggregate lambda it is re-evaluated once
    // per a-side candidate, O(|a|·|b|) map builds per row.
    // NB: the null test must be explicit — Spark's (and DuckDB's) `least`
    // SKIPS null arguments, so `least(c.prior, bp[c.entity])` on a
    // non-shared entity would contribute c.prior instead of 0 and two
    // surfaces with fully disjoint candidate sets would score overlap
    // max(prior_a) (caught by RetractionSpec's bridge fixture).
    val priorOverlap = expr(
      """element_at(transform(
        |  array(map_from_entries(transform(b.candidates,
        |                                   d -> struct(d.entity, d.prior)))),
        |  bp -> aggregate(
        |    a.candidates, cast(0.0 as double),
        |    (acc, c) -> greatest(acc, if(bp[c.entity] IS NULL,
        |                                 cast(0.0 as double),
        |                                 least(c.prior, bp[c.entity]))))), 1)""".stripMargin)
    val agree = when(
      col("a.resolved") =!= "" && col("a.resolved") === col("b.resolved") &&
      col("a.resolvedScore") >= cfg.minMargin &&
      col("b.resolvedScore") >= cfg.minMargin, 1.0).otherwise(0.0)
    pairs
      .withColumn("f_jw", jw)
      .withColumn("f_lev", levRatio)
      .withColumn("f_cos", cos)
      .withColumn("f_prior", priorOverlap)
      .withColumn("f_agree", agree)
      .withColumn("score",
        lit(cfg.wJaroWinkler) * col("f_jw") +
        lit(cfg.wLevRatio) * col("f_lev") +
        lit(cfg.wCosine) * col("f_cos") +
        lit(cfg.wPriorOverlap) * col("f_prior") +
        lit(cfg.wResolvedAgree) * col("f_agree"))
  }

  /** Thresholded match edges (src < dst by construction of the pairs). */
  def edges(pairs: DataFrame, cfg: ScoreConfig = ScoreConfig()): DataFrame =
    withFeatures(pairs, cfg)
      .where(col("score") >= cfg.threshold)
      .select(col("a.mention_id").as("src"), col("b.mention_id").as("dst"))

  // ---- fitted-model artifact (SURVEY.md D6) ----
  //
  // The calibrated weights + threshold are DATA, not code: persisting them
  // as a small JSON artifact means a production re-calibration ships a new
  // artifact, not a new jar. Hand-rolled fixed-schema JSON (same policy as
  // TableIO manifests — no JSON library in the dependency budget).

  private val ArtifactFields: Seq[(String, ScoreConfig => Double)] = Seq(
    "wJaroWinkler" -> (_.wJaroWinkler), "wLevRatio" -> (_.wLevRatio),
    "wCosine" -> (_.wCosine), "wPriorOverlap" -> (_.wPriorOverlap),
    "wResolvedAgree" -> (_.wResolvedAgree), "minMargin" -> (_.minMargin),
    "threshold" -> (_.threshold))

  /** Write the fitted scoring state to `path` (a single JSON file). */
  def saveConfig(path: String, cfg: ScoreConfig): Unit = {
    val body = ArtifactFields
      .map { case (k, get) => s""""$k":${get(cfg)}""" }.mkString(",")
    TableIO.writeText(path, s"""{"artifact":"graft-score-config","version":1,$body}""")
  }

  /** Load a fitted scoring artifact written by [[saveConfig]]. Missing
    * fields keep their code defaults (forward-compatible artifacts). */
  def loadConfig(path: String): ScoreConfig = {
    val s = TableIO.readText(path)
    def get(k: String, dflt: Double): Double =
      (s""""$k"\\s*:\\s*(-?[0-9.eE+-]+)""").r.findFirstMatchIn(s)
        .map(_.group(1).toDouble).getOrElse(dflt)
    val d = ScoreConfig()
    ScoreConfig(
      wJaroWinkler = get("wJaroWinkler", d.wJaroWinkler),
      wLevRatio = get("wLevRatio", d.wLevRatio),
      wCosine = get("wCosine", d.wCosine),
      wPriorOverlap = get("wPriorOverlap", d.wPriorOverlap),
      wResolvedAgree = get("wResolvedAgree", d.wResolvedAgree),
      minMargin = get("minMargin", d.minMargin),
      threshold = get("threshold", d.threshold))
  }
}
