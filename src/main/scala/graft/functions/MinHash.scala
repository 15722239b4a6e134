package graft.functions

import scala.util.hashing.MurmurHash3

/** Deterministic MinHash / SimHash kernels (seeded hash families, no RNG at
  * call time) used by LSH blocking and near-dup detection.
  *
  * Hand-rolled instead of `org.apache.spark.ml.feature.MinHashLSH` so we
  * (a) avoid the mllib Vector detour for string token sets, (b) control the
  * band/row layout for LSH banding, (c) stay deterministic across runs and
  * parallelism levels (SURVEY.md §2.8). Each hash in the family is murmur3
  * with a distinct seed — independent enough for Jaccard estimation and
  * fully reproducible.
  */
object MinHash {

  /** k-minhash signature of a token set. Element i = unsigned-min over
    * tokens of `MurmurHash3.stringHash(token, seed = i)`. Empty set → all
    * Int.MaxValue.
    *
    * Lane-major layout: stringHash mixes each 2-char block word
    * (`k *= c1; rotl 15; k *= c2`) independently of the seed, so each
    * token's block words are mixed ONCE and the k seeds then run as lanes
    * over an Int[k] state — per block `h = rotl(h ^ kk, 13) * 5 +
    * 0xe6546b64`, then the odd tail char and `avalanche(h ^ len)`. Every
    * lane performs stringHash's arithmetic in stringHash's order, so the
    * signature is bit-identical to the per-seed loop (kept as the oracle
    * in MinHashSpec) and so are the band keys Blocking and Dedup derive
    * from it; the block mixing drops from k passes per token to one. */
  def signature(tokens: Iterable[String], k: Int): Array[Int] = {
    val sig = Array.fill(k)(Int.MaxValue)
    val h = new Array[Int](k)
    var words = new Array[Int](32)
    val it = tokens.iterator
    while (it.hasNext) {
      val t = it.next()
      val len = t.length
      val nBlocks = len >>> 1
      if (words.length < nBlocks) words = new Array[Int](nBlocks)
      var b = 0
      while (b < nBlocks) {
        words(b) = mixBlock((t.charAt(2 * b) << 16) + t.charAt(2 * b + 1))
        b += 1
      }
      var i = 0
      while (i < k) { h(i) = i; i += 1 }
      b = 0
      while (b < nBlocks) {
        val w = words(b)
        i = 0
        while (i < k) { h(i) = Integer.rotateLeft(h(i) ^ w, 13) * 5 + 0xe6546b64; i += 1 }
        b += 1
      }
      // odd tail char is mixLast'ed; the length seals every lane
      val fin = (if ((len & 1) == 1) mixBlock(t.charAt(len - 1)) else 0) ^ len
      i = 0
      while (i < k) {
        val v = avalanche(h(i) ^ fin)
        // unsigned comparison keeps the family uniform over the full range
        if ((v ^ Int.MinValue) < (sig(i) ^ Int.MinValue)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  // MurmurHash3 x86_32 block-word mix and finalizer (scala.util.hashing
  // .MurmurHash3's mixLast and avalanche)
  private def mixBlock(data: Int): Int =
    Integer.rotateLeft(data * 0xcc9e2d51, 15) * 0x1b873593

  private def avalanche(hash: Int): Int = {
    var h = hash
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Estimated Jaccard similarity from two signatures. */
  def estJaccard(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length)
    if (a.isEmpty) return 0.0
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** LSH band keys: signature split into `bands` bands of `rows` values;
    * key = "b<band>:<hash of band slice>". Two sets share a band key with
    * probability 1-(1-j^rows)^bands for Jaccard j. */
  def bandKeys(sig: Array[Int], bands: Int, rows: Int): Array[String] = {
    require(sig.length >= bands * rows, s"sig too short: ${sig.length} < ${bands * rows}")
    Array.tabulate(bands) { b =>
      val h = MurmurHash3.arrayHash(sig.slice(b * rows, (b + 1) * rows), 0x9747b28c + b)
      s"b$b:${h.toHexString}"
    }
  }

  /** Character n-grams ("shingles") of a string — the typo-robust token set
    * for surface-form LSH blocking. */
  def charNgrams(s: String, n: Int): Set[String] = {
    if (s.length < n) Set(s)
    else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
  }

  /** 64-bit stable hash of a string (two murmur32 halves). */
  def hash64(s: String, seed: Int = 0): Long = {
    val lo = MurmurHash3.stringHash(s, seed)
    val hi = MurmurHash3.stringHash(s, seed ^ 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** 64-bit SimHash over a token multiset: bit j of the result is the sign
    * of the sum over tokens of (+1 if bit j of hash64(token) else -1). */
  def simHash(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    val it = tokens.iterator
    while (it.hasNext) {
      val h = hash64(it.next())
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var out = 0L; var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Lowercase hex MD5 of a UTF-8 string — matches DuckDB `md5(s)`. */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** First 8 bytes of MD5(UTF-8 bytes) as a big-endian long — chosen over
    * murmur for the feature hash of [[simHashMd5]] because a DuckDB oracle
    * can compute the identical value: `('0x' || substr(md5(tok),1,16))::
    * UBIGINT` (verified bit-for-bit). */
  def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var out = 0L
    var i = 0
    while (i < 8) { out = (out << 8) | (d(i) & 0xffL); i += 1 }
    out
  }

  /** 64-bit SimHash (Charikar) over a token MULTISET with the md5 feature
    * hash: bit j is set iff the sum over token occurrences of
    * (+1 if bit j of md5Long(token) else -1) is > 0. Unigram tokens (not
    * shingles) make the sketch robust to small edits: appending one token
    * shifts every bit-sum by ±1, flipping only bits whose margin was ≤ 1.
    */
  def simHashMd5(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    val it = tokens.iterator
    while (it.hasNext) {
      val h = md5Long(it.next())
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var out = 0L; var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** SimHash LSH keys, Manku et al. (WWW'07) block-combination scheme: the
    * 64 bits are cut into `nBlocks` near-equal contiguous blocks; for every
    * (nBlocks - maxHamming)-subset of blocks, emit one key made of the
    * subset id + those blocks' values. Any two signatures within Hamming
    * distance ≤ maxHamming differ in ≤ maxHamming blocks (pigeonhole), so
    * they agree on at least one emitted subset → recall 1.0 for the
    * candidate filter.
    *
    * Bucket math at scale (why not 4×16-bit chunks): a key here carries
    * 64·(nBlocks-maxHamming)/nBlocks signature bits — defaults (7, 3) give
    * ~36-bit keys ⇒ ~7·10¹⁰ buckets per subset family, so at 10⁹ docs the
    * expected bucket size stays ~0.01 and per-bucket self-joins never go
    * quadratic. The cost is C(nBlocks, nBlocks-maxHamming) = 35 keys/doc —
    * linear replication, the standard trade. 4 chunks of 16 bits (the
    * round-1 scheme) has only 2¹⁶ buckets per chunk ⇒ ~15k-doc buckets at
    * 10⁹ docs ⇒ quadratic blowup. */
  def simhashBandKeys(sig: Long, nBlocks: Int = 7, maxHamming: Int = 3): Seq[String] = {
    require(nBlocks > maxHamming && nBlocks <= 64)
    val bounds = Array.tabulate(nBlocks + 1)(i => i * 64 / nBlocks)
    val blocks = Array.tabulate(nBlocks) { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      (sig >>> lo) & mask
    }
    (0 until nBlocks).combinations(nBlocks - maxHamming).map { combo =>
      combo.mkString(",") + "|" + combo.map(i => blocks(i).toHexString).mkString(":")
    }.toSeq
  }

  /** First 5 hex chars of MD5(UTF-8 bytes) as an Int in [0, 2^20) — the
    * 20-bit sibling of [[md5Long]], same DuckDB-reproducibility argument:
    * `('0x' || substr(md5(s),1,5))::BIGINT` computes the identical value. */
  def md5Int20(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 5 hex chars = byte0, byte1, high nibble of byte2
    ((d(0) & 0xff) << 12) | ((d(1) & 0xff) << 4) | ((d(2) & 0xf0) >>> 4)
  }

  /** Random-hyperplane component for LSH sign signatures: a signed 20-bit
    * integer in [-2^19, 2^19) derived from md5 of the (band, row, dim-index)
    * key. INTEGER, not float, so the sign of the hyperplane dot product is
    * exact int64 arithmetic — order-independent and bit-identical in any
    * engine (the q37 DuckDB oracle recomputes it verbatim), with none of
    * the float-accumulation-order sign-flip hazard a near-zero double dot
    * would have. Quantizing a uniform [-1,1) direction to 2^20 steps
    * perturbs each component by <1e-6 relative — immaterial to LSH recall
    * (gated unchanged in AnnSpec). */
  def hyperplaneComponent(band: Int, row: Int, i: Int): Long =
    (md5Int20(s"hp${band}_${row}_$i") - 524288).toLong

  // Hyperplanes are fixed per (band, row, dim) — cache the materialized
  // arrays so bandSignature costs dim multiply-adds, not dim md5 calls,
  // per (vector, band, row).
  private val hpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Long]]()

  def hyperplane(band: Int, row: Int, dim: Int): Array[Long] =
    hpCache.computeIfAbsent((band, row, dim),
      _ => Array.tabulate(dim)(i => hyperplaneComponent(band, row, i)))

  /** 20-bit fixed-point quantization of an embedding component:
    * floor(x · 2^20). Float→double widening and the power-of-two scale are
    * exact, floor is exact — DuckDB's
    * `CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)` is bit-identical. */
  def quantize20(x: Float): Long = math.floor(x.toDouble * 1048576.0).toLong

  /** Deterministic unit-ish hash embedding of a token: `dim` values in
    * [-1, 1] derived from splitmix64 of the token hash. Used as the
    * context-embedding source where no trained embeddings exist (the
    * sandbox analogue of REL's GloVe/Wikipedia2Vec store, SURVEY.md D4). */
  def hashEmbedding(token: String, dim: Int): Array[Float] = {
    var state = hash64(token, 42)
    Array.fill(dim) {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // map to [-1, 1)
      (z.toDouble / 9.223372036854776e18).toFloat
    }
  }

  // Executor-wide embedding cache: token vocabularies are small relative
  // to corpus rows, so recomputing 32 splitmix rounds per (token, mention)
  // dominates detection cost without this. Bounded; callers must treat
  // returned arrays as immutable.
  private val embCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
  private val EmbCacheMax = 1 << 20

  def hashEmbeddingCached(token: String, dim: Int): Array[Float] = {
    val key = dim + "|" + token
    val hit = embCache.get(key)
    if (hit != null) hit
    else {
      val v = hashEmbedding(token, dim)
      if (embCache.size < EmbCacheMax) embCache.putIfAbsent(key, v)
      v
    }
  }

  /** Mean of hash embeddings of a token bag; zero vector for empty input. */
  def meanEmbedding(tokens: Iterable[String], dim: Int): Array[Float] = {
    val acc = new Array[Double](dim)
    var n = 0
    val it = tokens.iterator
    while (it.hasNext) {
      val e = hashEmbeddingCached(it.next(), dim)
      var i = 0
      while (i < dim) { acc(i) += e(i); i += 1 }
      n += 1
    }
    if (n == 0) new Array[Float](dim)
    else { val out = new Array[Float](dim); var i = 0; while (i < dim) { out(i) = (acc(i) / n).toFloat; i += 1 }; out }
  }
}
