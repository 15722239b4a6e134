package graft

import graft.model.Turn
import graft.sources.TranscriptGen

/** A/B evidence for compactState's overlapped bucketed writes (round-6
  * optimization #4): bootstrap IncrementState from a TranscriptGen
  * corpus (untimed), then time compactState twice on the SAME state —
  * serial writes (writeBucketedAll at threads = 1) vs the 3-thread
  * overlap — in alternating order across reps so JIT/page-cache bias
  * cancels. Prints one JSON line.
  *
  * `sbt "runMain graft.CompactBench [nConvs] [buckets] [reps]"` */
object CompactBench {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toInt).getOrElse(100000)
    val buckets = args.lift(1).map(_.toInt).getOrElse(8)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Bench.benchSession(cpus)
    import spark.implicits._
    val cfg = TranscriptGen.GenConfig(nEntities = 2000, nConvs = nConvs)
    val path = Bench.ensureCorpus(spark, cfg)
    val turns = spark.read.parquet(path).as[Turn]
    val dictBc = spark.sparkContext.broadcast(TranscriptGen.dict(cfg))
    val vecsBc = spark.sparkContext.broadcast(
      TranscriptGen.entityVectors(cfg, operators.MentionDetect.CtxDim))
    val state = Pipeline.bootstrapState(Pipeline.allMentions(turns, dictBc, vecsBc))
    val nTurns = turns.count()

    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_compactbench_${spark.sparkContext.applicationId}").getAbsolutePath
    // the serial arm is the same write set through writeBucketedAll at
    // threads = 1 (the exact pre-change serial shape)
    def timeSerial(epochTag: String): Double = {
      val t0 = System.nanoTime()
      def spec(df: org.apache.spark.sql.DataFrame, n: String, key: String) =
        (df, s"cb_ser_${n}_$epochTag", s"$base/ser_$epochTag/$n",
         Seq(key), buckets)
      sources.TableIO.writeBucketedAll(Seq(
        spec(state.mentions, "mentions", "mention_id"),
        spec(state.keyed, "keyed", "block_key"),
        spec(state.reps, "reps", "rep_id"),
        spec(state.clusters, "clusters", "mention_id")) ++
        state.edges.map(e => spec(e, "edges", "src")).toSeq,
        threads = 1)
      (System.nanoTime() - t0) / 1e9
    }
    def timeParallel(i: Int): Double = {
      val t0 = System.nanoTime()
      Pipeline.compactState(state, s"$base/par_$i", buckets, label = s"cb$i")
      (System.nanoTime() - t0) / 1e9
    }
    val serial = scala.collection.mutable.ArrayBuffer.empty[Double]
    val parallel = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until reps).foreach { i =>
      if (i % 2 == 0) { serial += timeSerial(s"a$i"); parallel += timeParallel(i) }
      else { parallel += timeParallel(i); serial += timeSerial(s"b$i") }
    }
    println(s"""{"bench":"compact_ab","n_convs":$nConvs,"n_turns":$nTurns,""" +
      s""""buckets":$buckets,"cpus":$cpus,""" +
      s""""serial_s":[${serial.map(t => f"$t%.2f").mkString(",")}],""" +
      s""""parallel_s":[${parallel.map(t => f"$t%.2f").mkString(",")}]}""")
    spark.stop()
  }
}
