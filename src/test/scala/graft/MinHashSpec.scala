package graft

import graft.functions.MinHash
import org.scalatest.funsuite.AnyFunSuite

class MinHashSpec extends AnyFunSuite {

  /** The per-seed loop `MinHash.signature` computed before its lane-major
    * layout — kept as the bit-identity oracle. */
  private def perSeedSignature(tokens: Iterable[String], k: Int): Array[Int] = {
    val sig = Array.fill(k)(Int.MaxValue)
    tokens.foreach { t =>
      var i = 0
      while (i < k) {
        val h = scala.util.hashing.MurmurHash3.stringHash(t, i)
        if ((h ^ Int.MinValue) < (sig(i) ^ Int.MinValue)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  test("lane-major signature ≡ per-seed MurmurHash3 loop, and so are its band keys") {
    val rng = new scala.util.Random(20260419)
    def randomChar(): String = rng.nextInt(5) match {
      case 0 => new String(Character.toChars(0x1F600 + rng.nextInt(0x200))) // surrogate pair
      case 1 => rng.nextInt(0x10000).toChar.toString // any code unit, lone surrogates too
      case 2 => "éß漢ü"(rng.nextInt(4)).toString
      case _ => "abcxyz0189 "(rng.nextInt(11)).toString
    }
    def randomToken(): String = {
      // lengths 0..9 (odd and even) plus tokens longer than the 32-block
      // word buffer the kernel starts with
      val len = if (rng.nextInt(8) == 0) 60 + rng.nextInt(80) else rng.nextInt(10)
      Iterator.fill(len)(randomChar()).mkString
    }
    val fixed = Seq(Seq(""), Seq("a"), Seq("ab"), Seq("abc"), Seq("", "a", "ab", "abc"),
                    Seq("\uD83D\uDE00", "é", "\uD800"), Seq.empty[String])
    val sets = fixed ++ Seq.fill(300)(Seq.fill(rng.nextInt(40))(randomToken()))
    for (k <- Seq(1, 32, 128); toks <- sets) {
      val got = MinHash.signature(toks, k)
      val want = perSeedSignature(toks, k)
      assert(got.toSeq == want.toSeq, s"k=$k tokens=${toks.map(_.length)}")
      if (k == 128) for ((b, r) <- Seq((64, 2), (32, 4), (8, 16)))
        assert(MinHash.bandKeys(got, b, r).toSeq == MinHash.bandKeys(want, b, r).toSeq)
      if (k == 32)
        assert(MinHash.bandKeys(got, 16, 2).toSeq == MinHash.bandKeys(want, 16, 2).toSeq)
    }
  }

  test("signature is deterministic and order-independent") {
    val t1 = Seq("alpha", "beta", "gamma", "delta")
    val s1 = MinHash.signature(t1, 64)
    val s2 = MinHash.signature(t1.reverse, 64)
    val s3 = MinHash.signature(scala.util.Random.shuffle(t1), 64)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.toSeq == s3.toSeq)
  }

  test("estimated jaccard tracks true jaccard within tolerance") {
    val rng = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val base = (1 to 60).map(_ => rng.nextInt(100000).toString).toSet
      val keep = base.filter(_ => rng.nextDouble() < 0.7)
      val extra = (1 to 20).map(_ => rng.nextInt(100000).toString).toSet
      val other = keep ++ extra
      val trueJ = (base & other).size.toDouble / (base | other).size
      val est = MinHash.estJaccard(
        MinHash.signature(base, 256), MinHash.signature(other, 256))
      assert(math.abs(est - trueJ) < 0.15, s"est=$est true=$trueJ")
    }
  }

  test("band keys: identical sets always collide; disjoint sets don't") {
    val a = MinHash.signature(Seq("x", "y", "z"), 32)
    val b = MinHash.signature(Seq("x", "y", "z"), 32)
    assert(MinHash.bandKeys(a, 8, 4).toSeq == MinHash.bandKeys(b, 8, 4).toSeq)
    val c = MinHash.signature(Seq("p", "q", "r"), 32)
    assert(MinHash.bandKeys(a, 8, 4).toSet.intersect(
           MinHash.bandKeys(c, 8, 4).toSet).isEmpty)
  }

  test("near-identical strings share at least one char-3gram band key (16x2)") {
    val a = "bakozu corp"; val b = "bakzou corp" // adjacent swap
    val ka = MinHash.bandKeys(MinHash.signature(MinHash.charNgrams(a, 3), 32), 16, 2)
    val kb = MinHash.bandKeys(MinHash.signature(MinHash.charNgrams(b, 3), 32), 16, 2)
    assert(ka.toSet.intersect(kb.toSet).nonEmpty)
  }

  test("simhash: hamming distance small for near-identical token bags") {
    val t = (1 to 50).map(i => s"tok$i")
    val a = MinHash.simHash(t)
    val b = MinHash.simHash(t.drop(2) ++ Seq("other", "words"))
    val c = MinHash.simHash((1 to 50).map(i => s"zzz$i"))
    assert(MinHash.hammingDistance(a, a) == 0)
    assert(MinHash.hammingDistance(a, b) < MinHash.hammingDistance(a, c))
  }

  test("hash embedding: deterministic, bounded, mean of empty is zero") {
    val e1 = MinHash.hashEmbedding("token", 32)
    val e2 = MinHash.hashEmbedding("token", 32)
    assert(e1.toSeq == e2.toSeq)
    assert(e1.forall(v => v >= -1.0f && v <= 1.0f))
    assert(MinHash.meanEmbedding(Nil, 8).toSeq == Seq.fill(8)(0.0f))
  }
}
