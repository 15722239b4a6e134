package graft

import graft.operators.Scoring
import java.nio.file.Files

/** Fitted-model artifact (SURVEY.md D6): scoring weights + threshold are
  * persisted data, not code constants. */
class ScoringSpec extends SparkSpec {

  test("score-config artifact round-trips exactly") {
    val dir = Files.createTempDirectory("graft-score").toString
    val cfg = Scoring.ScoreConfig(
      wJaroWinkler = 0.11, wLevRatio = 0.07, wCosine = 0.19,
      wPriorOverlap = 0.13, wResolvedAgree = 0.45,
      minMargin = 0.031, threshold = 0.47)
    Scoring.saveConfig(s"$dir/score.json", cfg)
    assert(Scoring.loadConfig(s"$dir/score.json") == cfg)
  }

  test("score-config artifact round-trips through a non-local Hadoop file system") {
    SchemeLocalFs.register(spark)
    val dir = Files.createTempDirectory("graft-score-fs").toString
    val cfg = Scoring.ScoreConfig(wCosine = 0.21, threshold = 0.42)
    val path = SchemeLocalFs.uri(s"$dir/nested/score.json")
    Scoring.saveConfig(path, cfg)
    // the file went through the scheme's FileSystem to its local path
    assert(Files.exists(java.nio.file.Paths.get(dir, "nested", "score.json")))
    assert(Scoring.loadConfig(path) == cfg)
  }

  test("artifact with missing fields falls back to code defaults") {
    val dir = Files.createTempDirectory("graft-score2").toString
    Files.writeString(java.nio.file.Paths.get(dir, "partial.json"),
      """{"artifact":"graft-score-config","version":1,"threshold":0.61}""")
    val cfg = Scoring.loadConfig(s"$dir/partial.json")
    assert(cfg.threshold == 0.61)
    assert(cfg.wJaroWinkler == Scoring.ScoreConfig().wJaroWinkler)
  }

  test("priorOverlap builds the b-side candidate map once per row (hoisted binding)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two mentions sharing entity e1 with priors (0.6, 0.4) → overlap 0.4
    val m = (id: String, priors: Seq[(String, Double)]) => graft.model.Mention(
      id, "c", 0, 0, 1, "s", "s",
      priors.map { case (e, p) => graft.model.Candidate(e, p) }.toArray,
      Array(1f, 0f), priors.maxBy(_._2)._1, 1.0)
    // typed map over range keeps the source opaque — a Seq.toDF local
    // relation is constant-folded whole by ConvertToLocalRelation and the
    // structural assertion below would see an empty plan
    val pairs = spark.range(1)
      .map(_ => (m("a", Seq("e1" -> 0.6, "e2" -> 0.4)),
                 m("b", Seq("e1" -> 0.4, "e3" -> 0.6))))
      .toDF("a", "b")
    val feats = Scoring.withFeatures(pairs)
    val row = feats.select("f_prior").head()
    assert(math.abs(row.getDouble(0) - 0.4) < 1e-12)
    // the hoist is structural: exactly ONE map_from_entries in the plan —
    // the inline form re-evaluates it once per a-side candidate
    val plan = feats.queryExecution.optimizedPlan.toString
    val n = "map_from_entries".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 map_from_entries in plan, found $n")
  }

  test("priorOverlap is 0 for fully disjoint candidate sets (least skips nulls)") {
    import spark.implicits._
    val m = (id: String, priors: Seq[(String, Double)]) => graft.model.Mention(
      id, "c", 0, 0, 1, "s", "s",
      priors.map { case (e, p) => graft.model.Candidate(e, p) }.toArray,
      Array(1f, 0f), "", 0.0)
    val pairs = spark.range(1)
      .map(_ => (m("a", Seq("e1" -> 0.9, "e2" -> 0.8)),
                 m("b", Seq("e3" -> 0.9, "e4" -> 0.8))))
      .toDF("a", "b")
    val row = Scoring.withFeatures(pairs).select("f_prior").head()
    assert(row.getDouble(0) == 0.0,
      "disjoint candidate sets must carry zero shared probability mass")
  }
}
