package graft

import graft.functions.MinHash
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  lazy val docTexts: Array[(Long, String)] =
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()

  test("exact dedup: identical texts share a representative (min id)") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  // The operator's contract is exactness vs brute force (the LSH candidate
  // filter must not lose pairs at the verify threshold), NOT recovery of a
  // planted edit set — transitive true near-dups beyond the planted pairs
  // are correct output (round-1 verdict: the old planted-set expectation
  // was the bug, not the operator).
  test("minhash near-dup equals brute-force exact Jaccard at the threshold") {
    val threshold = 0.6
    val got = Dedup.minhashPairs(docs, "doc_id", "text", threshold = threshold)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sh = docTexts.map { case (id, t) => id -> Dedup.shingles(t, 3).toSet }
    val exact = (for {
      i <- sh.indices.iterator
      j <- (i + 1) until sh.length
      (ia, sa) = sh(i)
      (ib, sb) = sh(j)
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size.toDouble
      uni = sa.size + sb.size - inter
      if uni > 0 && math.rint(inter / uni * 1e4) / 1e4 >= threshold
    } yield (math.min(ia, ib), math.max(ia, ib))).toSet
    assert(exact.nonEmpty, "fixture must contain near-dups")
    assert(got == exact, s"got ${got.size}, exact ${exact.size}; " +
      s"missed=${(exact -- got).size} extra=${(got -- exact).size}")
  }

  test("sorted_intersect_size ≡ size(array_intersect) on sorted distinct arrays") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.{GraftFunctions, SortedIntersectSize}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(11)
    val pool = Seq("a", "ab", "b", "z", "0", "a b c", "é", "漢", "ü x", "\uD83D\uDE00")
    // the expression's contract: byte (UTF-8) order, distinct, no nulls
    def sortedDistinct(xs: Seq[String]): Seq[String] =
      xs.distinct.sortWith((x, y) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    def randomSet(): Seq[String] = sortedDistinct(Seq.fill(rng.nextInt(12)) {
      if (rng.nextBoolean()) pool(rng.nextInt(pool.length))
      else rng.alphanumeric.take(1 + rng.nextInt(3)).mkString.toLowerCase
    })
    val some = Seq("a", "b", "c")
    val cases: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq.empty, Seq.empty), (Seq.empty, some), (some, Seq.empty),
      (some, some), (some, Seq("x", "y")), (null, some), (some, null), (null, null)) ++
      Seq.fill(400)((randomSet(), randomSet()))
    val df = cases.toDF("a", "b")
    val got = df.select(
        GraftFunctions.sortedIntersectSize(col("a"), col("b")),
        when(col("a").isNull || col("b").isNull, lit(null))
          .otherwise(size(array_intersect(col("a"), col("b")))))
      .as[(Option[Int], Option[Int])].collect()
    assert(got.length == cases.length)
    got.foreach { case (merge, hashed) => assert(merge == hashed) }
    assert(got.count(_._1.isEmpty) == 3, "null array in → null out")
    // interpreted (non-codegen) path
    def lit2(x: Seq[String]) = Literal.create(x, ArrayType(StringType))
    cases.foreach { case (a, b) =>
      val want = if (a == null || b == null) null else a.intersect(b).size
      assert(SortedIntersectSize(lit2(a), lit2(b)).eval() == want)
    }
  }

  test("size-bounded minhash near-dup (full and delta) ≡ brute-force round(J, 4) ≥ t") {
    // doc 2's shingles are a subset of doc 1's with J = 2401/4002 =
    // 0.599950…, which rounds to 0.6 and passes t = 0.6 — a size bound
    // that compared the raw ratio min/max (= J here) with t would lose it;
    // doc 3 (J = 2399/4002 → 0.5995) sits just below on the other side
    val t = 0.6
    def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, words(0, 4004)), (2L, words(0, 2403)), (3L, words(0, 2401)),
      (4L, words(0, 2300)), (5L, words(5, 2408)), (6L, words(1000, 3500)),
      (7L, "short text"), (8L, "alpha beta gamma delta epsilon"),
      (9L, "alpha beta gamma delta epsilon zeta"))
    val df = corpus.toDF("doc_id", "text")
    val sh = corpus.map { case (id, text) => (id, Dedup.shingles(text, 3).toArray) }
      .toDF("id", "sh").where(size(col("sh")) > 0)
    val brute = sh.as("L").crossJoin(sh.as("R")).where(col("L.id") < col("R.id"))
      .select(col("L.id"), col("R.id"),
        round(size(array_intersect(col("L.sh"), col("R.sh"))).cast("double") /
          (size(col("L.sh")) + size(col("R.sh")) -
           size(array_intersect(col("L.sh"), col("R.sh")))).cast("double"), 4).as("j"))
      .where(col("j") >= t)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.contains((1L, 2L, 0.6)), s"boundary pair missing from $brute")
    assert(!brute.exists(p => p._1 == 1L && p._2 == 3L))
    val full = Dedup.minhashPairs(df, "doc_id", "text", threshold = t)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == brute)
    val isDelta = Set(2L, 4L, 6L, 9L)
    val delta = Dedup.minhashPairsDelta(
        df.where(!col("doc_id").isin(isDelta.toSeq: _*)),
        df.where(col("doc_id").isin(isDelta.toSeq: _*)),
        "doc_id", "text", threshold = t)
      .as[(Long, Long, Double)].collect().toSet
    assert(delta == brute.filter(p => isDelta(p._1) || isDelta(p._2)))
  }

  test("simhash near-dup equals brute-force Hamming<=3 over exact signatures") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sigs = docTexts.flatMap { case (id, t) =>
      val toks = graft.functions.TextFns.TokenPattern.r.findAllIn(t.toLowerCase).toSeq
      if (toks.isEmpty) None else Some(id -> MinHash.simHashMd5(toks))
    }
    val exact = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if MinHash.hammingDistance(sigs(i)._2, sigs(j)._2) <= 3
    } yield (math.min(sigs(i)._1, sigs(j)._1), math.max(sigs(i)._1, sigs(j)._1))).toSet
    assert(got == exact, s"got ${got.size}, exact ${exact.size}; " +
      s"missed=${(exact -- got).size} extra=${(got -- exact).size}")
  }

  test("simhash: identical texts always pair at hamming 0") {
    val df = Seq((1L, "alpha beta gamma delta epsilon"),
                 (2L, "alpha beta gamma delta epsilon"),
                 (3L, "totally different words entirely here")).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash band keys: pigeonhole recall for <=3 flipped bits") {
    val base = 0x0123456789abcdefL
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val flips = rnd.nextInt(4) // 0..3 bit flips
      var other = base
      (1 to flips).foreach(_ => other ^= (1L << rnd.nextInt(64)))
      val ka = MinHash.simhashBandKeys(base).toSet
      val kb = MinHash.simhashBandKeys(other).toSet
      assert((ka & kb).nonEmpty,
        s"no shared band key at hamming ${MinHash.hammingDistance(base, other)}")
    }
  }

  test("shingles: deterministic, sorted, distinct; <n tokens -> empty") {
    val s = Dedup.shingles("a b c d", 3)
    assert(s == Seq("a b c", "b c d"))
    assert(Dedup.shingles("a b", 3).isEmpty)
  }

  test("autoBanding picks a recall-sound row count at the threshold") {
    val (b, r) = Dedup.autoBanding(128, 0.6)
    assert(b * r == 128)
    val p = 1.0 - math.pow(1.0 - math.pow(0.6, r), b)
    assert(p >= 0.9999, s"banding ${b}x$r detects j=0.6 with only $p")
    // higher thresholds afford cheaper (higher-r) bandings
    val (_, r9) = Dedup.autoBanding(128, 0.9)
    assert(r9 > r)
  }

  test("minhashPairsDelta == full near-dup filtered to delta-touching pairs") {
    val delta = docs.where(col("doc_id") % 5 === 0)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val got = Dedup.minhashPairsDelta(base, delta, "doc_id", "text", threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val expect = full.filter { case (a, b, _) => a % 5 == 0 || b % 5 == 0 }
    assert(expect.nonEmpty, "fixture must contain delta-touching near-dups")
    assert(got == expect, s"got ${got.size}, expect ${expect.size}; " +
      s"missed=${(expect -- got).size} extra=${(got -- expect).size}")
  }

  test("bandingPlan: closed-form recall, monotone recall/cost tradeoff, autoBanding consistency") {
    val plan = Dedup.bandingPlan(docs, "doc_id", "text",
        threshold = 0.6, sampleFrac = 0.5)
      .orderBy(desc("band_rows"))
      .as[(Int, Int, Double, Double, Long)].collect()
    assert(plan.map(_._1).toSeq == Seq(16, 8, 4, 2, 1))
    plan.foreach { case (r, b, rec, rate, n) =>
      assert(b * r == 128)
      assert(math.abs(rec - (1 - math.pow(1 - math.pow(0.6, r), b))) < 1e-6)
      assert(rate >= 0.0 && rate <= 1.0 && n > 0)
    }
    // fewer rows per band (same k) => more collisions: recall AND cost rise
    assert(plan.map(_._3).toSeq == plan.map(_._3).sorted.toSeq)
    assert(plan.map(_._4).toSeq == plan.map(_._4).sorted.toSeq)
    // the planner's cheapest sound row IS autoBanding's pick
    val pick = plan.filter(_._3 >= 0.9999).map(_._1).max
    assert(pick == Dedup.autoBanding(128, 0.6)._2)
  }

  test("bandingPlan: row cap binds the sample; non-binding cap is identical") {
    // non-binding cap (targetSampleRows >= corpus) == the uncapped plan:
    // effFrac = sampleFrac, same md5-cell predicate, same sampled rows
    val free = Dedup.bandingPlan(docs, "doc_id", "text",
        threshold = 0.6, sampleFrac = 0.5, targetSampleRows = 1000000L)
      .orderBy(desc("band_rows"))
      .as[(Int, Int, Double, Double, Long)].collect().toSeq
    val free2 = Dedup.bandingPlan(docs, "doc_id", "text",
        threshold = 0.6, sampleFrac = 0.5, targetSampleRows = 999999999L)
      .orderBy(desc("band_rows"))
      .as[(Int, Int, Double, Double, Long)].collect().toSeq
    assert(free == free2, "a non-binding cap must not change the plan")
    // binding cap: the quadratic sample-pair count is bounded by
    // ~C(targetSampleRows·(1+grid slack), 2) regardless of sampleFrac
    val nDocs = docs.count()
    val capped = Dedup.bandingPlan(docs, "doc_id", "text",
        threshold = 0.6, sampleFrac = 1.0, targetSampleRows = nDocs / 4)
      .as[(Int, Int, Double, Double, Long)].collect()
    val maxRows = (nDocs / 4) * 3 / 2 + 2 // md5-cell binomial + grid slack
    assert(capped.head._5 <= maxRows * (maxRows - 1) / 2,
      s"capped sample pairs ${capped.head._5} exceed the row-cap bound")
    // binding cap below the 2-hex grid's resolution (frac < 1/512 would
    // quantize to ZERO cells on the old hashSample grid → silently empty
    // sample): the adaptive hexChars must still yield a usable sample
    val big = spark.range(10000)
      .selectExpr("id AS doc_id",
        "concat('alpha beta gamma delta ', id, ' epsilon zeta eta theta') AS text")
    val tiny = Dedup.bandingPlan(big, "doc_id", "text",
        threshold = 0.6, sampleFrac = 1.0, targetSampleRows = 30)
      .as[(Int, Int, Double, Double, Long)].collect()
    assert(tiny.head._5 > 0,
      "a binding cap below 1/512 of the corpus must not produce an empty sample")
  }

  test("minhashPairsDelta never pairs base against base") {
    val base = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
                   (3L, "q w e r t y")).toDF("doc_id", "text")
    val delta = Seq((10L, "a b c d e f z"),
                    (11L, "unrelated words entirely different here")).toDF("doc_id", "text")
    val got = Dedup.minhashPairsDelta(base, delta, "doc_id", "text", threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // the base's own exact-dup pair must NOT be re-derived
    assert(!got.contains((1L, 2L)))
    assert(got.contains((1L, 10L)) && got.contains((2L, 10L)))
    assert(got.forall { case (a, b) => a >= 10L || b >= 10L },
      "every emitted pair touches the delta")
  }

  test("canonicalize: transitive closure groups chains; keep = longest then min id") {
    // multi-digit ids on purpose: the group representative must be the
    // NUMERIC min (61), not the lexicographic min ("185" < "61")
    val df = Seq(
      (61L, "short one"),        // ~ 185 via planted pair
      (185L, "the longest text"), // ~ 61, ~ 203 — the bridge
      (203L, "short two"),        // ~ 185 only (no direct 61-203 pair)
      (9L, "unrelated"))          // singleton
      .toDF("doc_id", "text")
    val pairs = Seq((61L, 185L, 0.9), (185L, 203L, 0.9)).toDF("a_id", "b_id", "jaccard")
    val out = Dedup.canonicalizeFrom(df, "doc_id", "text", pairs)
      .select("id", "group_id", "group_size", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (61L, 61L, 3L, false),
      (185L, 61L, 3L, true),  // longest text wins the group
      (203L, 61L, 3L, false),
      (9L, 9L, 1L, true)))
  }

  test("canonicalize keeps exactly one doc per group on the fixture corpus") {
    val out = Dedup.canonicalize(docs, "doc_id", "text", threshold = 0.6).cache()
    val perGroup = out.groupBy("group_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("kept"),
           count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    assert(perGroup.forall(_._2 == 1L), "every group keeps exactly one doc")
    assert(out.count() == docs.count(), "every input doc is assigned")
    // groups are exactly the connected components of the pair graph:
    // every pair's two sides share a group
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val gid = out.select("id", "group_id").as[(Long, Long)].collect().toMap
    assert(pairs.forall { case (a, b) => gid(a) == gid(b) })
  }

  test("dupSpans: planted cross-doc span is covered; within-doc repeats are not") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares "beta gamma delta" with 2
      (2L, "zeta beta gamma delta eta theta"),
      (3L, "iota kappa iota kappa iota kappa"), // within-doc repeat ONLY
      (4L, "mu nu"))                            // < n tokens: no grams
      .toDF("doc_id", "text")
    val rows = Dedup.dupSpans(df, "doc_id", "text", n = 3)
      .select("id", "n_dup_positions").as[(Long, Long)].collect().toMap
    // doc1: positions of "beta gamma delta" = 3 covered tokens
    assert(rows(1L) == 3L)
    assert(rows(2L) == 3L)
    assert(rows(3L) == 0L, "within-doc repetition must not count as cross-doc dup")
    assert(rows(4L) == 0L)
  }

  test("dupSpans: overlapping shared grams merge into one covered interval") {
    // docs share a 4-token run -> two overlapping 3-grams -> 4 covered
    // positions, not 6
    val df = Seq(
      (1L, "a b c d x"),
      (2L, "y a b c d"))
      .toDF("doc_id", "text")
    val rows = Dedup.dupSpans(df, "doc_id", "text", n = 3)
      .select("id", "n_dup_positions").as[(Long, Long)].collect().toMap
    assert(rows(1L) == 4L)
    assert(rows(2L) == 4L)
  }

  test("repetitionSignals: hand-computed shares and degenerate cases") {
    import graft.functions.TextFns
    val df = Seq(
      (1L, "spam spam spam ham"), // top uni 3/4; bigrams: spam-spam 2 of 3
      (2L, "all distinct words here"),
      (3L, "one"),                // single token: bigram share 0
      (4L, ""))                   // empty: all 0
      .toDF("doc_id", "text")
    val out = df
      .withColumn("r", TextFns.repetitionSignals(TextFns.tokens(col("text"))))
      .select(col("doc_id"), col("r.top_unigram_share"),
              col("r.top_bigram_share"), col("r.distinct_ratio"))
      .as[(Long, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out(1L) == ((0.75, 0.6667, 0.5)))
    assert(out(2L) == ((0.25, 0.3333, 1.0)))
    assert(out(3L) == ((1.0, 0.0, 1.0)))
    assert(out(4L) == ((0.0, 0.0, 0.0)))
  }
}
