package graft

import graft.model.Turn
import graft.sources.TranscriptGen
import graft.streaming.StreamingMaintain
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-maintenance gate: feeding the corpus through a MemoryStream
  * in conversation-complete micro-batches must leave the maintained
  * state's clusters EXACTLY equal to the from-scratch batch clustering —
  * whether the state starts from a bootstrapped base or from NOTHING. */
class StreamingMaintainSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 120, nConvs = 240)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim)
  lazy val dictBc = spark.sparkContext.broadcast(dict)
  lazy val vecsBc = spark.sparkContext.broadcast(vecs)
  lazy val dictionary = Pipeline.Dictionary.Broadcast(dict, vecs)
  lazy val full = Pipeline.run(turns, dict, vecs).cache()

  private def assign(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("mention_id", "cluster_id").as[(String, String)].collect().toMap

  private lazy val convs: Seq[String] =
    turns.select("conv_id").distinct().as[String].collect().sorted.toSeq

  private def slice(cs: Seq[String]): Seq[Turn] =
    turns.where(col("conv_id").isInCollection(cs)).as[Turn].collect().toSeq

  private def stream(maintain: StreamingMaintain, batches: Seq[Seq[Turn]]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = maintain.start(input.toDS())
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("bootstrapped base + streamed batches == from-scratch clustering") {
    val (baseC, rest) = convs.splitAt(convs.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val state0 = Pipeline.bootstrapState(
      Pipeline.allMentions(
        turns.where(col("conv_id").isInCollection(baseC)).as[Turn], dictBc, vecsBc))
    val maintain = new StreamingMaintain(dictionary, state0)
    stream(maintain, Seq(slice(b1), slice(b2)))
    assert(assign(maintain.state.clusters) == assign(full))
  }

  test("JSONL ingestion directory -> streaming maintenance == from-scratch") {
    // the full deployment shape: transcript dumps land as JSONL files in
    // a watched directory; each micro-batch of files is applied as one
    // increment over the evolving state
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-stream").toString
    val (baseC, rest) = convs.splitAt(convs.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val state0 = Pipeline.bootstrapState(
      Pipeline.allMentions(
        turns.where(col("conv_id").isInCollection(baseC)).as[Turn], dictBc, vecsBc))
    val maintain = new StreamingMaintain(dictionary, state0)
    val stream = graft.sources.TranscriptSource.readJsonlStream(spark, dir)
    val q = maintain.start(graft.sources.TranscriptSource.turns(stream))
    try {
      for ((batch, i) <- Seq(b1, b2).zipWithIndex) {
        // real ingestion shape: write to a staging dir, then atomically
        // move the finished file into the watched directory. One part file
        // per batch, so the batch becomes visible as one micro-batch —
        // conversation-complete and after the earlier batch in id order,
        // runIncremental's preconditions (several part files moved one by
        // one can be split across micro-batches, out of id order)
        val staging = java.nio.file.Files.createTempDirectory(s"graft-stage$i")
        turns.where(col("conv_id").isInCollection(batch)).as[Turn]
          .coalesce(1).write.mode("overwrite").json(staging.toString)
        val parts = new java.io.File(staging.toString).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        assert(parts.length == 1)
        java.nio.file.Files.move(parts.head.toPath,
          java.nio.file.Paths.get(dir, s"batch$i.json"))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(assign(maintain.state.clusters) == assign(full))
  }

  test("interleaved ingest + forget streams == from-scratch over (ingested - forgotten)") {
    implicit val sqlCtx = spark.sqlContext
    val (baseC, rest) = convs.splitAt(convs.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    // forget a slice of the BASE while b1/b2 are still arriving, plus a
    // slice of b1 after it landed — both orders must converge
    val forget1 = baseC.zipWithIndex.collect { case (c, i) if i % 5 == 0 => c }
    val forget2 = b1.zipWithIndex.collect { case (c, i) if i % 4 == 0 => c }
    val state0 = Pipeline.bootstrapState(
      Pipeline.allMentions(
        turns.where(col("conv_id").isInCollection(baseC)).as[Turn], dictBc, vecsBc))
    val maintain = new StreamingMaintain(dictionary, state0)

    val turnsIn = MemoryStream[Turn]
    val forgetIn = MemoryStream[String]
    val qi = maintain.start(turnsIn.toDS())
    val qr = maintain.startRetractions(forgetIn.toDS())
    try {
      forgetIn.addData(forget1); qr.processAllAvailable()
      turnsIn.addData(slice(b1)); qi.processAllAvailable()
      forgetIn.addData(forget2); qr.processAllAvailable()
      turnsIn.addData(slice(b2)); qi.processAllAvailable()
    } finally { qi.stop(); qr.stop() }

    val forgotten = (forget1 ++ forget2).toSet
    val remaining = turns.where(!col("conv_id").isInCollection(forgotten)).as[Turn]
    assert(assign(maintain.state.clusters) ==
           assign(Pipeline.run(remaining, dict, vecs)))
    assert(maintain.state.mentions
      .where(col("conv_id").isInCollection(forgotten)).isEmpty)
  }

  test("maintaining from NOTHING (empty bootstrap) converges to from-scratch") {
    val empty = Pipeline.bootstrapState(spark.emptyDataset[graft.model.Mention])
    val maintain = new StreamingMaintain(dictionary, empty)
    val third = convs.length / 3
    val (a, rest) = convs.splitAt(third)
    val (b, c) = rest.splitAt(third)
    stream(maintain, Seq(slice(a), slice(b), slice(c)))
    assert(assign(maintain.state.clusters) == assign(full))
    // the maintained base tables grew to the full corpus
    assert(maintain.state.mentions.count() == full.count())
  }
}
