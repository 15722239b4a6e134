package graft

import graft.model._
import graft.operators.Blocking
import org.apache.spark.sql.functions._

class BlockingSpec extends SparkSpec {
  import spark.implicits._

  def mention(id: Int, norm: String): Mention =
    Mention(f"m$id%05d", "c", 0, 0, 1, norm, norm,
            Array(Candidate("e", 1.0)), Array(0.1f, 0.2f), "e", 1.0)

  /** Random keyed (block_key, mid) frame with deliberate hot keys. */
  def keyedFixture(seed: Int, n: Int, nKeys: Int, hotShare: Double) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val key = if (rng.nextDouble() < hotShare) "hot" else s"k${rng.nextInt(nKeys)}"
      (key, f"m$i%05d")
    }.toDF("block_key", "mid")
  }

  test("salted pair set equals naive pair set (hot + cold keys)") {
    val keyed = keyedFixture(42, 400, 20, 0.4).cache()
    val naive = Blocking.naivePairs(keyed).as[(String, String)].collect().toSet
    // tau small → the hot key (≈160 rows) takes the salted triangle path
    val salted = Blocking.candidatePairs(keyed, tau = 30, blockMaxSize = 100000,
                                         starThreshold = 100000)
      .as[(String, String)].collect().toSet
    assert(salted == naive)
    assert(naive.nonEmpty)
    assert(salted.forall { case (a, b) => a < b })
  }

  test("block purging never changes the pair set (identical-member keys)") {
    // same members under many different keys (like nm: + 8 LSH bands)
    val base = (0 until 50).map(i => f"m$i%05d")
    val keyed = (0 until 10).flatMap(k => base.map(m => (s"key$k", m)))
      .toDF("block_key", "mid").cache()
    val naive = Blocking.naivePairs(keyed).as[(String, String)].collect().toSet
    val got = Blocking.candidatePairs(keyed, tau = 10, blockMaxSize = 100000,
                                      starThreshold = 100000)
      .as[(String, String)].collect().toSet
    assert(got == naive)
    assert(got.size == 50 * 49 / 2)
  }

  test("a mention in multiple blocks yields each pair once") {
    val keyed = Seq(("k1", "m1"), ("k1", "m2"), ("k2", "m1"), ("k2", "m2"))
      .toDF("block_key", "mid")
    assert(Blocking.candidatePairs(keyed, tau = 10).count() == 1)
  }

  test("blockMaxSize drops oversized blocks entirely") {
    val keyed = (0 until 50).map(i => ("huge", f"m$i%05d")).toDF("block_key", "mid")
    assert(Blocking.candidatePairs(keyed, tau = 10, blockMaxSize = 49).count() == 0)
    assert(Blocking.candidatePairs(keyed, tau = 10, blockMaxSize = 50,
                                   starThreshold = 1000).count() == 50L * 49 / 2)
  }

  test("star regime: oversized blocks produce member-hub pairs only") {
    val n = 40
    val keyed = (0 until n).map(i => ("giant", f"m$i%05d")).toDF("block_key", "mid")
    val pairs = Blocking.candidatePairs(keyed, tau = 5, blockMaxSize = 1000,
                                        starThreshold = 20, starK = 3)
      .as[(String, String)].collect().toSet
    val hubs = (0 until 3).map(i => f"m$i%05d").toSet
    assert(pairs.forall { case (a, b) => hubs.contains(a) || hubs.contains(b) })
    assert(pairs.size == (n - 1) + (n - 2) + (n - 3))
    // connectivity: the pair graph spans all members
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(rb) = ra
    }
    assert((0 until n).map(i => find(f"m$i%05d")).toSet.size == 1)
  }

  test("candidatePairsDelta == filtered candidatePairs across all regimes") {
    // fixture spans every regime: cold keys, a triangle-salted hot key,
    // and a star-regime giant key; random delta subsets of varying share
    for (seed <- Seq(1, 7, 13); deltaShare <- Seq(0.05, 0.3)) {
      // base fixture + a star-regime giant key + purge bait: the giant
      // block's member set duplicated under two more key names (like
      // nm: + LSH bands sharing members) — the purge must collapse them
      // identically in the delta and the full generators
      val giantRows = (0 until 120).map(i => ("giant", f"g$i%05d"))
      val dupKeys = Seq("giant_dup1", "giant_dup2")
        .flatMap(k => giantRows.map { case (_, m) => (k, m) })
      val keyed = keyedFixture(seed, 500, 25, 0.35)
        .unionByName((giantRows ++ dupKeys).toDF("block_key", "mid"))
        .cache()
      val rng = new scala.util.Random(seed * 31)
      val allIds = keyed.select("mid").distinct().as[String].collect().sorted
      val deltaSet = allIds.filter(_ => rng.nextDouble() < deltaShare).toSet
      val deltaIds = deltaSet.toSeq.toDF("mid")

      val full = Blocking.candidatePairs(keyed, tau = 30, blockMaxSize = 100000,
                                         starThreshold = 80, starK = 3)
        .as[(String, String)].collect().toSet
      val expected = full.filter { case (a, b) =>
        deltaSet.contains(a) || deltaSet.contains(b) }
      val got = Blocking.candidatePairsDelta(keyed, deltaIds, tau = 30,
                                             blockMaxSize = 100000,
                                             starThreshold = 80, starK = 3)
        .as[(String, String)].collect().toSet
      assert(got == expected, s"seed=$seed deltaShare=$deltaShare")
      keyed.unpersist()
    }
  }

  /** Naive per-block pair enumeration under the regime rules: a block of
    * n ≤ starThreshold rows keeps every pair, a star block keeps
    * member × starK-min-hub pairs, a block over blockMaxSize keeps none. */
  def regimePairs(rows: Seq[(String, String)], starThreshold: Int,
                  blockMaxSize: Int, starK: Int): Set[(String, String)] =
    rows.groupBy(_._1).values.flatMap { block =>
      val ids = block.map(_._2).sorted
      if (ids.size > blockMaxSize) Nil
      else if (ids.size > starThreshold)
        for (h <- ids.take(starK); m <- ids if m != h) yield if (h < m) (h, m) else (m, h)
      else for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  test("only populated regimes are planned; pairs equal the naive regime pairs") {
    // every subset of {cold, triangle, star}, at small and at default
    // thresholds; the largest block is also duplicated under a second key
    // (purge bait), and singleton keys are always present
    for ((tau, starThreshold) <- Seq((8, 30), (512, 2048));
         mask <- 0 until 8) {
      val (cold, tri, star) = ((mask & 1) != 0, (mask & 2) != 0, (mask & 4) != 0)
      val rng = new scala.util.Random(mask * 101 + tau)
      val pool = (0 until starThreshold + 64).map(i => f"m$i%05d")
      def block(key: String, n: Int) = rng.shuffle(pool).take(n).map(m => (key, m))
      val blocks =
        (if (cold) (0 until 12).map(k => block(s"c$k", 2 + rng.nextInt(math.min(tau, 40) - 1)))
         else Nil) ++
        (if (tri) Seq(block("tri", tau + 1 + rng.nextInt(math.min(starThreshold - tau, 64))))
         else Nil) ++
        (if (star) Seq(block("star", starThreshold + 1 + rng.nextInt(32))) else Nil)
      val dup = blocks.sortBy(-_.size).headOption.toSeq.map(_.map { case (_, m) => ("dup", m) })
      val singles = (0 until 5).map(k => (s"single$k", pool(rng.nextInt(pool.size))))
      val rows = (blocks ++ dup).flatten ++ singles
      val keyed = rows.toDF("block_key", "mid").cache()
      val deltaSet = pool.filter(_ => rng.nextDouble() < 0.2).toSet
      val expected = regimePairs(rows, starThreshold, 100000, 3)
      val ctx = s"tau=$tau cold=$cold triangle=$tri star=$star"

      val pairs = Blocking.candidatePairs(keyed, tau, 100000, starThreshold, 3)
      assert(pairs.as[(String, String)].collect().toSet == expected, ctx)
      val plan = pairs.queryExecution.analyzed.toString
      // the triangle branch is planned when some block exceeds tau
      assert(plan.contains("explode") == (tri || star), ctx)
      assert(plan.contains("hub_id") == star, ctx)
      val delta = Blocking.candidatePairsDelta(keyed, deltaSet.toSeq.toDF("mid"),
                                               tau, 100000, starThreshold, 3)
      assert(delta.as[(String, String)].collect().toSet ==
               expected.filter { case (a, b) => deltaSet(a) || deltaSet(b) }, ctx)
      keyed.unpersist()
    }
  }

  test("candidatePairsDelta: a delta id inside the star hub set pairs with all members") {
    val n = 40
    val keyed = (0 until n).map(i => ("giant", f"m$i%05d")).toDF("block_key", "mid")
    // m00001 is the 2nd-smallest id → a hub; it is the only delta id
    val deltaIds = Seq("m00001").toDF("mid")
    val got = Blocking.candidatePairsDelta(keyed, deltaIds, tau = 5,
                                           blockMaxSize = 1000,
                                           starThreshold = 20, starK = 3)
      .as[(String, String)].collect().toSet
    assert(got.size == n - 1) // the hub pairs with every other member
    assert(got.forall { case (a, b) => a == "m00001" || b == "m00001" })
  }

  test("block keys contain exact norm, LSH band, and candidate-entity keys") {
    val ms = Seq(mention(1, "bakozu corp")).toDS()
    val keys = Blocking.withBlockKeys(ms).select("block_key").as[String].collect()
    assert(keys.contains("nm:bakozu corp"))
    assert(keys.contains("ent:e"))
    assert(keys.count(_.startsWith("b")) == 8) // 8 bands of 4 rows
  }

  test("in-dictionary variants always share a block key (ent: family)") {
    val ms = Seq(mention(1, "bakozu corp"), mention(2, "bakzou corp")).toDS()
    val keyed = Blocking.withBlockKeys(ms)
    val shared = keyed.groupBy("block_key").count().where(col("count") === 2)
      .select("block_key").as[String].collect()
    assert(shared.contains("ent:e"))
  }

  test("qualityStats: hand-computed counters; gold orientation and dups folded") {
    val items = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"))
      .toDF("id", "key")
    // (2,1) duplicates (1,2) reversed; (4,1) crosses blocks
    val gold = Seq((1L, 2L), (2L, 1L), (4L, 1L), (4L, 5L)).toDF("a_id", "b_id")
    val r = Blocking.qualityStats(items, "id", "key", gold).collect()(0)
    assert(r.getAs[Long]("n_items") == 5L)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Double]("n_cand_pairs") == 4.0)   // C(3,2)+C(2,2)
    assert(r.getAs[Double]("n_all_pairs") == 10.0)
    assert(r.getAs[Long]("n_gold") == 3L)
    assert(r.getAs[Long]("n_gold_covered") == 2L)    // (1,2) and (4,5)
    assert(r.getAs[Double]("reduction_ratio") == 0.6)
    assert(r.getAs[Double]("pair_completeness") == 0.666667)
    assert(r.getAs[Double]("pairs_quality") == 0.5)
  }

  test("qualityStats: key == gold grouping gives completeness 1.0") {
    val items = Seq((1L, "g1"), (2L, "g1"), (3L, "g2"), (4L, "g2"))
      .toDF("id", "key")
    val gold = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val r = Blocking.qualityStats(items, "id", "key", gold).collect()(0)
    assert(r.getAs[Double]("pair_completeness") == 1.0)
    assert(r.getAs[Double]("pairs_quality") == 1.0)
  }

  test("attachPayload restores scoring fields for both sides") {
    val ms = Seq(mention(1, "x"), mention(2, "y")).toDS()
    val pairs = Seq(("m00001", "m00002")).toDF("a_id", "b_id")
    val out = Blocking.attachPayload(pairs, ms)
    val row = out.select(col("a.norm"), col("b.norm"), col("a.resolved")).head()
    assert(row.getString(0) == "x" && row.getString(1) == "y" && row.getString(2) == "e")
  }
}
