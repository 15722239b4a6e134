package graft.operators

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocking stage: candidate keys per mention + skew-safe pair generation
  * (SURVEY.md §3 Stage A/B, north_rule "blocking stage derives candidate
  * keys per turn via REL-style mention detection combined with MinHash-LSH
  * token blocking").
  *
  * Key families per mention:
  *   - "nm:<norm>"          exact normalized-surface key (REL's dictionary
  *                          key — recall 1.0 for identical surfaces)
  *   - "b<i>:<hash>"        MinHash-LSH band keys over character 3-grams of
  *                          the normalized surface (recall for typo'd /
  *                          abbreviated variants that miss the exact key)
  *
  * Pair generation is a self-equi-join on block_key. At 10^12-turn scale a
  * plain join dies on hot keys, so keys are split into a cold path (plain
  * sort-merge self-join, AQE skew-join as backstop) and a hot path
  * (triangle-distribution salted self-join) plus a hard `blockMaxSize` cap
  * (meta-blocking style: a key shared by millions of mentions carries ~no
  * signal and O(n²) cost).
  */
object Blocking {

  /** 8 bands × 4 rows: char-3gram sets of surface forms share common
    * substrings (type words, frequent syllables), so 2-row bands chain
    * unrelated surfaces into giant mixed blocks (P ≈ j² per band). 4-row
    * bands keep cross-surface collision ≈ j⁴ while in-dictionary variant
    * recall stays 1.0 through the ent: key family. */
  case class LshConfig(k: Int = 32, bands: Int = 8, rows: Int = 4, charNgram: Int = 3)

  /** Explode each mention into slim (block_key, mention_id) rows —
    * payloads are attached AFTER pair dedup (attachPayload) so only ids
    * cross the pair-join shuffles. Map-only.
    * Third key family "ent:<candidate entity>" is REL's own blocking
    * semantics: two surface forms that share a candidate entity in the
    * p(e|m) dictionary land in the same block, so in-dictionary variants
    * (typos, abbreviations, aliases) have recall 1.0 independent of LSH. */
  def withBlockKeys(mentions: Dataset[Mention], lsh: LshConfig = LshConfig()): DataFrame = {
    // one codegen'd expression: the keys are built inside the scan's
    // whole-stage stage, with no object round trip (a typed flatMap adds
    // a deserialize stage and a serialize stage)
    val keys = GraftFunctions.blockKeys(col("norm"), col("candidates.entity"),
                                        lsh.k, lsh.bands, lsh.rows, lsh.charNgram)
    mentions.select(explode(keys).as("block_key"), col("mention_id").as("mid"))
  }

  /** Join the scoring payload back onto deduped id pairs (two hash joins;
    * the pair frame carries only ids until here). */
  def attachPayload(pairIds: DataFrame, mentions: Dataset[Mention]): DataFrame = {
    val payload = mentions.toDF().select(
      col("mention_id"), col("norm"), col("ctx"), col("candidates"),
      col("resolved"), col("resolvedScore"))
    val a = payload.select(struct(payload.columns.map(col): _*).as("a"),
                           col("mention_id").as("a_id"))
    val b = payload.select(struct(payload.columns.map(col): _*).as("b"),
                           col("mention_id").as("b_id"))
    pairIds.join(a, "a_id").join(b, "b_id").select(col("a"), col("b"))
  }

  /** Distinct candidate pairs (a.mention_id < b.mention_id, exactly once)
    * from (block_key, m) rows. Three regimes by block size n:
    *
    *  - n ≤ tau: plain self-join (no replication; AQE skew-join backstop).
    *  - tau < n ≤ starThreshold: triangle-distribution salted self-join —
    *    rows split into g = ceil(n/tau) salt groups by hash(id); reducer
    *    (i, j), i ≤ j, compares group i vs group j, so no task sees more
    *    than ~2·tau rows of one key. Full O(n²) pair set, skew-free.
    *    Pair-set equality with the naive join is property-tested.
    *  - starThreshold < n ≤ blockMaxSize: STAR pairs — every member pairs
    *    with the starK smallest mention_ids of the block only (O(n·K)).
    *    At 10^12-turn scale a hot surface form yields 10^6+-mention
    *    blocks; all-pairs is physically impossible (10^12 pairs per
    *    block) and unnecessary: transitive clustering only needs a
    *    spanning structure, which the star provides as long as members
    *    match the hub (the ED-agreement feature carries this for
    *    same-entity blocks). Recall under forced star mode is covered by
    *    the golden F1 test.
    *  - n > blockMaxSize: dropped (oversized-block discard; a key shared
    *    by that many mentions carries ~no signal).
    *
    * Only POPULATED regimes are planned: the purged key rows are
    * materialized once, observing the largest block size in the same job,
    * and the triangle (n > tau) and star (n > starThreshold) branches are
    * built only when a block that large exists. An empty regime yields no
    * pairs; skipping it saves its jobs and codegen, a fixed per-call cost.
    */
  def candidatePairs(keyed: DataFrame, tau: Int = 512,
                     blockMaxSize: Int = 10000000,
                     starThreshold: Int = 2048,
                     starK: Int = 3): DataFrame = {
    require(tau <= starThreshold, "regimes: cold <= tau < triangle <= starThreshold < star")
    val (rows, maxN) = purgedRows(keyed, blockMaxSize)

    val cold = rows.where(col("key_n") <= tau).select(col("block_key"), col("mid"))
    val coldPairs = cold.as("L").join(cold.as("R"), Seq("block_key"))
      .where(col("L.mid") < col("R.mid"))
      .select(col("L.mid").as("a_id"), col("R.mid").as("b_id"))

    def hotPairs = {
      val hot = rows.where(col("key_n") > tau && col("key_n") <= starThreshold)
        .withColumn("n_groups", ceil(col("key_n").cast("double") / tau).cast("int"))
        .withColumn("grp", pmod(xxhash64(col("mid")), col("n_groups")).cast("int"))
      // Row in salt group g is the LEFT input of reducers (g, j), j in
      // [g, G-1], and the RIGHT input of reducers (i, g), i in [0, g].
      val lhs = hot
        .withColumn("j", explode(sequence(col("grp"), col("n_groups") - 1)))
        .select(col("block_key"), col("grp").as("i"), col("j"), col("mid").as("l_mid"))
      val rhs = hot
        .withColumn("i", explode(sequence(lit(0), col("grp"))))
        .select(col("block_key"), col("i"), col("grp").as("j"), col("mid").as("r_mid"))
      lhs.join(rhs, Seq("block_key", "i", "j"))
        .where(col("i") < col("j") || col("l_mid") < col("r_mid"))
        .select(least(col("l_mid"), col("r_mid")).as("a_id"),
                greatest(col("l_mid"), col("r_mid")).as("b_id"))
    }

    // Star regime: members × the starK min-id hub rows of the block.
    // Hubs are few (starK per oversized key) → broadcast hash join, no
    // shuffle skew at all on the giant side.
    def starPairs = {
      val giant = rows.where(col("key_n") > starThreshold)
        .select(col("block_key"), col("mid"))
      val hubs = starHubs(giant, starK)
      giant.join(broadcast(hubs), Seq("block_key"))
        .where(col("mid") =!= col("hub_id"))
        .select(least(col("mid"), col("hub_id")).as("a_id"),
                greatest(col("mid"), col("hub_id")).as("b_id"))
    }

    // The same pair can arrive via several block keys (exact + LSH bands)
    // and, on the hot/star paths, in either order — dedupe on the id pair.
    populated(maxN, tau, starThreshold)(coldPairs, hotPairs, starPairs)
      .dropDuplicates("a_id", "b_id")
  }

  /** Union of the branches of the regimes the largest block reaches. */
  private def populated(maxN: Long, tau: Int, starThreshold: Int)(
      cold: DataFrame, hot: => DataFrame, star: => DataFrame): DataFrame =
    Seq(Some(cold), Option.when(maxN > tau)(hot), Option.when(maxN > starThreshold)(star))
      .flatten.reduce(_ union _)

  /** Block purging (meta-blocking): a mention's nm:, ent: and all 16 LSH
    * band keys are often IDENTICAL member sets (e.g. every mention of one
    * hot surface form shares all its keys) — pairing each copy would
    * materialize the same pair set 18x. Keys with identical (size,
    * member-set hash) collapse to one block named by that signature
    * ("n:sig1:sig2"), each member once. The signature is (count, two
    * independent sums of per-id hashes mod ~2³⁰ primes) — ~60 bits of hash
    * entropy plus the exact size, so two same-size member sets collide
    * with p ≈ 2⁻⁶⁰: negligible at any realistic block-key count. Pair-set
    * equality with the naive join is property-tested (BlockingSpec).
    * Returns the purged (block_key, mid, key_n) member rows — singleton
    * and beyond-`blockMaxSize` keys dropped — as a checkpoint leaf
    * registered with CacheTracker (several regime branches consume it; it
    * is far smaller than the pair output), and the largest `key_n` (0 if
    * none), observed by the same job. Every aggregate here is a hash
    * aggregate: no string-valued buffer. */
  private def purgedRows(keyed: DataFrame, blockMaxSize: Int): (DataFrame, Long) = {
    val sigs = keyed.groupBy("block_key").agg(
      count(lit(1)).as("key_n"),
      sum(pmod(xxhash64(col("mid")), lit(1000000007L))).as("sig1"),
      sum(pmod(xxhash64(col("mid"), lit(7)), lit(998244353L))).as("sig2"))
      .where(col("key_n") >= 2 && col("key_n") <= blockMaxSize)
    val observed = keyed.join(sigs, Seq("block_key"))
      .select(concat_ws(":", col("key_n"), col("sig1"), col("sig2")).as("block_key"),
              col("mid"), col("key_n"))
      .distinct()
      .observe("purged_rows", coalesce(max(col("key_n")), lit(0L)).as("max_n"))
    val rows = graft.CacheTracker.leaf(observed)
    (rows, observed.queryExecution.observedMetrics("purged_rows").getLong(0))
  }

  /** K smallest ids per giant block via the partial-aggregating TopKAgg
    * (equal scores → payload-asc = min-K); no collect_list, so a block
    * with 10^8 members still only ships K rows per partition. */
  private[graft] def starHubs(giant: DataFrame, starK: Int): DataFrame = {
    val spark = giant.sparkSession
    import spark.implicits._
    val minK = new graft.functions.TopKAgg(starK).toColumn
    giant.select(col("block_key"), col("mid")).as[(String, String)]
      .map { case (k, mid) => (k, (0.0, mid)) }
      .groupByKey(_._1).mapValues(_._2)
      .agg(minK.name("top"))
      .toDF("block_key", "top")
      .select(col("block_key"), explode(expr("transform(top, x -> x._2)")).as("hub_id"))
  }

  /** The DELTA-TOUCHING subset of [[candidatePairs]]`(keyed, ...)` —
    * every pair with at least one endpoint in `deltaIds` (a one-column
    * `mid` frame) — generated WITHOUT materializing the historical pair
    * volume. This is the incremental-maintenance pair stage: a block of
    * n members with d delta members costs O(d·n) here vs the O(n²) of
    * generate-then-filter, which at a 10% ingestion delta over a mostly-
    * historical corpus is the difference between delta-bounded work and
    * a de-facto full re-pair (the purge/size signatures are still
    * computed over the full member rows — a linear scan — so every
    * regime decision matches a from-scratch run on the same `keyed`
    * exactly; pair-set equality with filtered [[candidatePairs]] is
    * property-tested in BlockingSpec).
    *
    * Regimes (full block size n decides, as from-scratch):
    *  - n ≤ tau: delta rows ⋈ block rows, one task per block.
    *  - tau < n ≤ starThreshold: same pair semantics, but the full side
    *    is salted into ceil(n/tau) groups and each delta row replicated
    *    across them, so no task sees more than ~tau rows of one key —
    *    the triangle join's skew bound with a delta-sized left side.
    *  - n > starThreshold: delta members × the block's full hub set,
    *    plus all members × delta hubs (rare: a delta id entering the
    *    K-min hub set) — exactly the delta-touching star pairs.
    * As in [[candidatePairs]], only regimes holding a block are planned.
    */
  def candidatePairsDelta(keyed: DataFrame, deltaIds: DataFrame,
                          tau: Int = 512,
                          blockMaxSize: Int = 10000000,
                          starThreshold: Int = 2048,
                          starK: Int = 3): DataFrame = {
    require(tau <= starThreshold, "regimes: cold <= tau < triangle <= starThreshold < star")
    val (rows, maxN) = purgedRows(keyed, blockMaxSize)
    val rowsD = graft.CacheTracker.register(
      rows.join(deltaIds, Seq("mid"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    val cold = rows.where(col("key_n") <= tau)
    val coldD = rowsD.where(col("key_n") <= tau)
    val coldPairs = coldD.select(col("block_key"), col("mid").as("l_mid"))
      .join(cold.select(col("block_key"), col("mid").as("r_mid")), Seq("block_key"))
      .where(col("l_mid") =!= col("r_mid"))
      .select(least(col("l_mid"), col("r_mid")).as("a_id"),
              greatest(col("l_mid"), col("r_mid")).as("b_id"))

    def hotPairs = {
      val nGroups = ceil(col("key_n").cast("double") / tau).cast("int")
      val hot = rows.where(col("key_n") > tau && col("key_n") <= starThreshold)
        .select(col("block_key"),
                pmod(xxhash64(col("mid")), nGroups).cast("int").as("grp"),
                col("mid").as("r_mid"))
      val hotD = rowsD.where(col("key_n") > tau && col("key_n") <= starThreshold)
        .select(col("block_key"),
                explode(sequence(lit(0), nGroups - 1)).as("grp"),
                col("mid").as("l_mid"))
      hotD.join(hot, Seq("block_key", "grp"))
        .where(col("l_mid") =!= col("r_mid"))
        .select(least(col("l_mid"), col("r_mid")).as("a_id"),
                greatest(col("l_mid"), col("r_mid")).as("b_id"))
    }

    def starPairs = {
      val giant = rows.where(col("key_n") > starThreshold)
        .select(col("block_key"), col("mid"))
      val giantD = rowsD.where(col("key_n") > starThreshold)
        .select(col("block_key"), col("mid"))
      val hubs = graft.CacheTracker.register(
        starHubs(giant, starK)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val hubsD = hubs.join(deltaIds.withColumnRenamed("mid", "hub_id"),
                            Seq("hub_id"), "left_semi")
      giantD.join(broadcast(hubs), Seq("block_key"))
        .unionByName(giant.join(broadcast(hubsD), Seq("block_key"))
          .select(col("hub_id"), col("block_key"), col("mid")))
        .where(col("mid") =!= col("hub_id"))
        .select(least(col("mid"), col("hub_id")).as("a_id"),
                greatest(col("mid"), col("hub_id")).as("b_id"))
    }

    populated(maxN, tau, starThreshold)(coldPairs, hotPairs, starPairs)
      .dropDuplicates("a_id", "b_id")
  }

  /** Naive reference pair generator (testing only): plain self-join. */
  def naivePairs(keyed: DataFrame): DataFrame =
    keyed.as("L").join(keyed.as("R"), Seq("block_key"))
      .where(col("L.mid") < col("R.mid"))
      .select(col("L.mid").as("a_id"), col("R.mid").as("b_id"))
      .dropDuplicates("a_id", "b_id")

  /** BLOCKING-QUALITY metrics (the standard evaluation triple of the ER
    * blocking literature — Christen, "A Survey of Indexing Techniques for
    * Scalable Record Linkage and Deduplication", TKDE 2012): given items
    * with ONE blocking key each and a labeled gold pair set, report in a
    * single row
    *   - reduction_ratio  = 1 − candidate_pairs / all_pairs  (how much of
    *     the quadratic space the key prunes),
    *   - pair_completeness = covered_gold / gold  (recall of the key:
    *     gold pairs whose two sides share the key),
    *   - pairs_quality     = covered_gold / candidate_pairs  (precision
    *     proxy: how much of the candidate budget is true).
    *
    * This is how you choose a key family BEFORE paying for scoring — e.g.
    * q67 evaluates a 2-token prefix key against the exact near-dup gold
    * and shows what recall cheap prefix blocking would give up vs LSH.
    *
    * Scale shape: candidate pairs are NEVER materialized — per-block
    * counts give Σ C(n_b, 2) in one slim aggregation (items carry only
    * (id, key) through it), and coverage joins the key onto the gold
    * pair list (|gold| rows, the small side) twice. Everything else is
    * closed-form arithmetic on five counters.
    *
    * `items`: (idCol, keyCol), one key per item (run once per key family;
    * a multi-key union would need inclusion–exclusion on pair counts —
    * the pair GENERATOR dedups instead, see [[candidatePairs]]).
    * `gold`: (a_id, b_id) labeled matches, any orientation; normalized
    * and deduped here. Gold pairs with EITHER side absent from `items`
    * are excluded from n_gold and n_gold_covered both — the metric is
    * completeness over the evaluated population; pass item and gold
    * frames drawn from the same population or the restriction inflates
    * pair_completeness. Ratios rounded to 6dp (oracle-stable). */
  def qualityStats(items: DataFrame, idCol: String, keyCol: String,
                   gold: DataFrame): DataFrame = {
    val keyed = items.select(col(idCol).as("_id"), col(keyCol).as("_key"))
    val perBlock = keyed.groupBy("_key")
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)).as("n_cand_pairs"),
           count(lit(1)).as("n_blocks"))
    val totals = keyed.agg(count(lit(1)).as("n_items"))
      .withColumn("n_all_pairs", col("n_items") * (col("n_items") - 1) / 2)
    val goldNorm = gold
      .select(least(col("a_id"), col("b_id")).as("a_id"),
              greatest(col("a_id"), col("b_id")).as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // null-safe key comparison (<=>): groupBy above puts all null-key
    // items in ONE block whose C(n,2) pairs count as candidates, so a
    // gold pair inside that block must count as covered too — a plain
    // === is never true for nulls and skewed reduction_ratio and
    // pairs_quality in opposite directions (round-5 ADVICE; no test
    // fixture has null keys, so this is oracle-neutral there)
    val covered = goldNorm
      .join(keyed.select(col("_id").as("a_id"), col("_key").as("_ka")), "a_id")
      .join(keyed.select(col("_id").as("b_id"), col("_key").as("_kb")), "b_id")
      .agg(count(lit(1)).as("n_gold"),
           count(when(col("_ka") <=> col("_kb"), lit(1))).as("n_gold_covered"))
    totals.crossJoin(perBlock).crossJoin(covered)
      .select(
        col("n_items"), col("n_blocks"), col("n_cand_pairs"),
        col("n_all_pairs"), col("n_gold"), col("n_gold_covered"),
        round(lit(1.0) - col("n_cand_pairs").cast("double") /
          col("n_all_pairs"), 6).as("reduction_ratio"),
        round(when(col("n_gold") > 0,
            col("n_gold_covered").cast("double") / col("n_gold"))
          .otherwise(0.0), 6).as("pair_completeness"),
        round(when(col("n_cand_pairs") > 0,
            col("n_gold_covered").cast("double") / col("n_cand_pairs"))
          .otherwise(0.0), 6).as("pairs_quality"))
  }
}
