package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec")).cache()

  test("brute-force top-k: ranks are 1..k, cosine non-increasing, no self") {
    val qs = emb.where(col("id") < 5)
    val out = Ann.bruteForceTopK(emb, qs, 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 5 * 5)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L))
      assert(sorted.sliding(2).forall(p => p(0)._4 >= p(1)._4), s"cos not sorted for q=$q")
      assert(rows.forall(_._3 != q))
    }
  }

  test("brute-force matches a driver-side exact computation") {
    val all = emb.as[(Long, Array[Float])].collect()
    val q = all.find(_._1 == 0L).get
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val expect = all.filter(_._1 != 0L)
      .map { case (id, v) => (BigDecimal(cos(q._2, v)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble, id) }
      .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSeq
    val got = Ann.bruteForceTopK(emb, emb.where(col("id") === 0), 5)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(got == expect)
  }

  // The scale gate (round-1 verdict #7): 10^5 clustered vectors, recall@10
  // >= 0.9 vs brute force AND candidate fraction < 1% — i.e. the banding
  // is selective enough to survive 10^9 rows, not just accurate.
  test("LSH top-k: recall>=0.9 @ k=10 with <1% candidates on 10^5 vectors") {
    import graft.functions.MinHash
    val dim = 64
    val n = 100000
    val perCluster = 100
    val corpus = spark.range(n).as[Long].map { id =>
      val cent = MinHash.hashEmbedding(s"cent${id / perCluster}", dim)
      val noise = MinHash.hashEmbedding(s"n$id", dim)
      val v = Array.tabulate(dim)(i => cent(i) + 0.25f * noise(i))
      (id, v)
    }.toDF("id", "vec").cache()
    corpus.count()
    val qs = corpus.where(col("id") % perCluster === 0 && col("id") < 10L * perCluster)

    val exact = Ann.bruteForceTopK(corpus, qs, 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val cand = Ann.lshCandidates(corpus, qs, bands = 8, rows = 16, multiProbe = 1)
    val nCand = cand.count()
    val frac = nCand.toDouble / (10.0 * n)
    val approx = Ann.lshTopK(corpus, qs, 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"lsh recall@10 = $recall%.3f, candidate fraction = $frac%.4f")
    assert(recall >= 0.9, s"recall $recall")
    assert(frac < 0.01, s"candidate fraction $frac")
    corpus.unpersist()
  }

  test("LSH is deterministic") {
    val qs = emb.where(col("id") < 5)
    val a = Ann.lshTopK(emb, qs, 3).collect().map(_.toString).sorted.toSeq
    val b = Ann.lshTopK(emb, qs, 3).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("IVF with nprobe = nlist is exhaustive: equals brute force") {
    val qs = emb.where(col("id") < 5)
    val ivf = Ann.ivfTopK(emb, qs, k = 5, nlist = 8, nprobe = 8)
      .orderBy("q_id", "rank").collect().map(_.toString).toSeq
    val bf = Ann.bruteForceTopK(emb, qs, 5)
      .orderBy("q_id", "rank").collect().map(_.toString).toSeq
    assert(ivf == bf)
  }

  test("IVF probes a corpus subset and stays deterministic") {
    val qs = emb.where(col("id") < 5)
    val a = Ann.ivfTopK(emb, qs, k = 5, nlist = 8, nprobe = 2).collect()
      .map(_.toString).sorted.toSeq
    val b = Ann.ivfTopK(emb, qs, k = 5, nlist = 8, nprobe = 2).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
    assert(a.size == 5 * 5)
  }

  test("materialized IVF index: build once, query many, identical to in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    val cents = Ann.buildIvfIndex(emb, dir, nlist = 8)
    // centroid sidecar round-trips exactly
    val (loaded, roundTo) = Ann.loadIvfIndexMeta(dir)
    assert(roundTo == 5)
    assert(loaded.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toString).toSeq
    val qs1 = emb.where(col("id") < 5)
    val qs2 = emb.where(col("id") >= 5 && col("id") < 10)
    assert(canon(Ann.ivfTopKIndexed(spark, dir, qs1, 5, 2)) ==
           canon(Ann.ivfTopK(emb, qs1, 5, nlist = 8, nprobe = 2, centroids = Some(cents))))
    assert(canon(Ann.ivfTopKIndexed(spark, dir, qs2, 5, 2)) ==
           canon(Ann.ivfTopK(emb, qs2, 5, nlist = 8, nprobe = 2, centroids = Some(cents))))
  }

  test("index sidecars round-trip through a non-local Hadoop file system") {
    SchemeLocalFs.register(spark)
    val local = java.nio.file.Files.createTempDirectory("graft-annfs").toString
    val ivfDir = SchemeLocalFs.uri(s"$local/ivf")
    val cents = Ann.buildIvfIndex(emb, ivfDir, nlist = 8)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(local, "ivf", "centroids.json")))
    val (loaded, roundTo) = Ann.loadIvfIndexMeta(ivfDir)
    assert(roundTo == 5)
    assert(loaded.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    val lshDir = SchemeLocalFs.uri(s"$local/lsh")
    Ann.buildLshIndex(emb, lshDir, bands = 8, rows = 16, pfxBits = 6)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(local, "lsh", "lsh.json")))
    assert(Ann.loadLshIndexMeta(lshDir) == ((8, 16, 6, 5)))
  }

  test("indexed query physically reads only the probed cells (partition pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfprune").toString
    Ann.buildIvfIndex(emb, dir, nlist = 8)
    val allFiles = spark.read.parquet(s"$dir/data")
      .select(input_file_name()).distinct().count()
    assert(allFiles >= 8, s"expected >=8 partition files, saw $allFiles")
    // pruning is asserted on ivfTopKIndexed's OWN executed plan (round-3
    // ADVICE: a hand-built lookalike filter proved nothing about the
    // production query): find the index scan node and read its numFiles
    // metric after execution.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val out = Ann.ivfTopKIndexed(spark, dir, emb.where(col("id") < 3), 5, 2)
    out.collect()
    // AQE wraps materialized stages in QueryStageExec LEAVES whose real
    // plan hangs off `.plan`, not `.children` — recurse through both.
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec        => scans(q.plan)
        case f: FileSourceScanExec    => Seq(f)
      }.flatten
    val idxScans = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(idxScans.nonEmpty, "no FileSourceScan over the index dir in the executed plan")
    val filesRead = idxScans.map(_.metrics("numFiles").value).sum
    assert(filesRead < allFiles && filesRead >= 1,
      s"pruning did not engage in the production plan: $filesRead of $allFiles files read")
  }

  test("index scale note: build-once amortizes the assignment pass (3*10^5 vectors)") {
    import graft.functions.MinHash
    val dim = 16
    val n = 300000
    val corpus = spark.range(n).as[Long].map { id =>
      val cent = MinHash.hashEmbedding(s"ixc${id / 1000}", dim)
      val noise = MinHash.hashEmbedding(s"ixn$id", dim)
      (id, Array.tabulate(dim)(i => cent(i) + 0.3f * noise(i)))
    }.toDF("id", "vec").cache()
    corpus.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfbig").toString
    val t0 = System.nanoTime()
    val cents = Ann.buildIvfIndex(corpus, dir, nlist = 16)
    val tBuild = (System.nanoTime() - t0) / 1e9
    val qs = corpus.where(col("id") % 1000 === 0 && col("id") < 5000)
    val t1 = System.nanoTime()
    val viaIndex = Ann.ivfTopKIndexed(spark, dir, qs, 10, 2)
      .orderBy("q_id", "rank").collect()
    val tIdx = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val viaRecompute = Ann.ivfTopK(corpus, qs, 10, nlist = 16, nprobe = 2,
                                   centroids = Some(cents))
      .orderBy("q_id", "rank").collect()
    val tRe = (System.nanoTime() - t2) / 1e9
    info(f"n=$n: build=$tBuild%.1fs, indexed query=$tIdx%.1fs, " +
         f"recompute query=$tRe%.1fs (recompute pays the assignment pass per call)")
    assert(viaIndex.map(_.toString).toSeq == viaRecompute.map(_.toString).toSeq)
    corpus.unpersist()
  }

  test("materialized LSH index: build once, query many, identical to in-memory lshTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    Ann.buildLshIndex(emb, dir, bands = 8, rows = 16, pfxBits = 6)
    val (bands, rows, pfxBits, roundTo) = Ann.loadLshIndexMeta(dir)
    assert((bands, rows, pfxBits, roundTo) == (8, 16, 6, 5))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toString).toSeq
    // two different query batches against ONE build — build-once/query-many
    val qs1 = emb.where(col("id") < 5)
    val qs2 = emb.where(col("id") >= 5 && col("id") < 10)
    assert(canon(Ann.lshTopKIndexed(spark, dir, qs1, 5)) ==
           canon(Ann.lshTopK(emb, qs1, 5)))
    assert(canon(Ann.lshTopKIndexed(spark, dir, qs2, 5)) ==
           canon(Ann.lshTopK(emb, qs2, 5)))
    // multiProbe=0 equivalence too (different probe set, same machinery)
    assert(canon(Ann.lshTopKIndexed(spark, dir, qs1, 5, multiProbe = 0)) ==
           canon(Ann.lshTopK(emb, qs1, 5, multiProbe = 0)))
  }

  test("auto-sized pfxBits: tiny corpus gets 0, huge gets clamped; auto build ≡ explicit") {
    assert(Ann.autoPfxBits(500L, 8, 16) == 0)
    assert(Ann.autoPfxBits(2000000L, 8, 16) == 1)
    assert(Ann.autoPfxBits(1000000000L, 8, 16) == 9)
    assert(Ann.autoPfxBits(1L << 60, 8, 16) == 10)  // dir-count clamp
    assert(Ann.autoPfxBits(1L << 60, 8, 4) == 4)    // rows clamp
    val dirAuto = java.nio.file.Files.createTempDirectory("graft-lshauto").toString
    Ann.buildLshIndex(emb, dirAuto, bands = 8, rows = 16) // pfxBits auto
    assert(Ann.loadLshIndexMeta(dirAuto)._3 == 0) // small fixture → 0
    val qs = emb.where(col("id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toString).toSeq
    assert(canon(Ann.lshTopKIndexed(spark, dirAuto, qs, 5)) ==
           canon(Ann.lshTopK(emb, qs, 5)))
  }

  test("indexed LSH query physically reads only probed (band, pfx) partitions") {
    // clusters of EXACT duplicates: every query's own bucket is non-empty
    // in every band, so the query can't collapse to an empty relation
    // (AQE folds an empty join side to EmptyRelationExec and the scan
    // disappears from the executed plan — see the multiProbe=0 caveat)
    import graft.functions.MinHash
    val dim = 32
    val corpus = spark.range(1000L).as[Long]
      .map(id => (id, MinHash.hashEmbedding(s"dup${id / 10}", dim)))
      .toDF("id", "vec").cache()
    corpus.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-lshprune").toString
    Ann.buildLshIndex(corpus, dir, bands = 8, rows = 16, pfxBits = 6)
    val allFiles = spark.read.parquet(s"$dir/data")
      .select(input_file_name()).distinct().count()
    assert(allFiles > 30, s"expected many partition files, saw $allFiles")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // multiProbe=0: one bucket per band per query — the probe set is a
    // small fraction of the 8*2^6 partitions, so pruning must bite
    val out = Ann.lshTopKIndexed(spark, dir,
      corpus.where(col("id").isin(0L, 10L, 20L)), 5, multiProbe = 0)
    val got = out.collect()
    assert(got.nonEmpty, "duplicate clusters must produce neighbors")
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec        => scans(q.plan)
        case f: FileSourceScanExec    => Seq(f)
      }.flatten
    val idxScans = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
    assert(idxScans.nonEmpty, "no FileSourceScan over the LSH index dir")
    val filesRead = idxScans.map(_.metrics("numFiles").value).sum
    assert(filesRead >= 1 && filesRead <= 24,
      s"pruning did not engage: $filesRead of $allFiles files read " +
      "(3 queries x 8 bands = at most 24 probed partitions)")
    corpus.unpersist()
  }

  test("IVF Lloyd refinement keeps cell ids/dims and improves recall on clustered data") {
    import graft.functions.MinHash
    val dim = 16
    val perCluster = 50
    val corpus = spark.range(1000L).as[Long].map { id =>
      val cent = MinHash.hashEmbedding(s"ivfc${id / perCluster}", dim)
      val noise = MinHash.hashEmbedding(s"ivfn$id", dim)
      (id, Array.tabulate(dim)(i => cent(i) + 0.2f * noise(i)))
    }.toDF("id", "vec").cache()
    corpus.count()
    val qs = corpus.where(col("id") % perCluster === 0 && col("id") < 5L * perCluster)
    val exact = Ann.bruteForceTopK(corpus, qs, 10)
      .select("q_id", "id").as[(Long, Long)].collect().toSet

    def recallWith(cents: Array[(Long, Array[Float])]): Double = {
      val got = Ann.ivfTopK(corpus, qs, k = 10, nlist = 20, nprobe = 3,
                            centroids = Some(cents))
        .select("q_id", "id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val coarse = Ann.ivfCentroids(corpus, 20)
    val refined = Ann.ivfRefineCentroids(corpus, coarse, iters = 2)
    assert(refined.map(_._1).toSeq == coarse.map(_._1).toSeq) // cells preserved
    assert(refined.forall(_._2.length == dim))
    val (r0, r1) = (recallWith(coarse), recallWith(refined))
    info(f"ivf recall coarse=$r0%.3f refined=$r1%.3f")
    assert(r1 >= r0 - 0.05, s"refinement degraded recall: $r0 -> $r1")
    assert(r1 >= 0.5, s"refined recall too low: $r1")
    corpus.unpersist()
  }
}
