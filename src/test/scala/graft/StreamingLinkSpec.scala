package graft

import graft.model._
import graft.operators.{Coref, MentionDetect}
import graft.operators.MentionDetect.FirstTokenSketch
import graft.sources.TranscriptGen
import graft.streaming.StreamingLink
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingLinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
  private def turn(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "user", text, null, ts(idx))
  private def entry(key: String, e: String) =
    key -> DictEntry(key, key, 10, Array(Candidate(e, 1.0)))

  val dict: MentionDetect.Dict =
    Map(entry("barack obama", "e_bo"), entry("angela merkel", "e_am"))
  val noVec: String => Array[Float] = _ => Array.empty[Float]
  lazy val dictBc = spark.sparkContext.broadcast(dict)
  lazy val vecsBc = spark.sparkContext.broadcast(Map.empty[String, Array[Float]])

  val allTurns = Seq(
    turn("c1", 0, "we met barack obama today"),
    turn("c1", 1, "obama spoke at length"),
    turn("c1", 2, "then obama left"),
    turn("c2", 0, "angela merkel arrived"),
    turn("c2", 1, "merkel replied"))

  private def key(m: Mention) = (m.conv_id, m.turn_idx, m.begin, m.end, m.norm, m.resolved)

  /** Batch reference: detected ∪ inherited over the complete transcript. */
  private def batchReference(turns: Seq[Turn]): Set[(String, Int, Int, Int, String, String)] = {
    val detected = turns.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, noVec, FirstTokenSketch.of(dict)))
    val inherited = turns.groupBy(_.conv_id).toSeq.flatMap { case (c, ts) =>
      Coref.inheritedOfConv(c, ts.toArray,
        detected.filter(_.conv_id == c).toArray, dict, noVec)
    }
    (detected ++ inherited).map(key).toSet
  }

  test("incremental linking across micro-batches equals the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingLink.mentions(input.toDS(), dictBc, vecsBc,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("stream_mentions")
      .outputMode(OutputMode.Append).start()
    try {
      // turns arrive in two batches, split mid-conversation
      input.addData(allTurns.take(2))
      q.processAllAvailable()
      input.addData(allTurns.drop(2))
      q.processAllAvailable()
      val got = spark.table("stream_mentions").as[Mention]
        .collect().map(key).toSet
      assert(got == batchReference(allTurns),
        s"stream=$got\nbatch=${batchReference(allTurns)}")
    } finally q.stop()
  }

  test("joined streaming (dictionary as static dimension table) equals broadcast streaming") {
    // the streaming twin of Pipeline.runJoined: same turns, same batch
    // split, dictionary as a DataFrame only — output must match the
    // broadcast-Map streaming path exactly (and therefore the batch
    // reference). fpp=0.5 floods the stream-static join with bloom false
    // positives, which must all die in the left join's null side.
    implicit val sqlCtx = spark.sqlContext
    val dictDf = dict.values.toSeq.toDS().repartition(3)
    for (fpp <- Seq(0.01, 0.5)) {
      val input = MemoryStream[Turn]
      val qn = s"stream_mentions_joined_${(fpp * 100).toInt}"
      val q = StreamingLink.mentionsJoined(input.toDS(), dictDf, vecsBc,
          bloomFpp = fpp,
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(allTurns.take(2))
        q.processAllAvailable()
        input.addData(allTurns.drop(2))
        q.processAllAvailable()
        val got = spark.table(qn).as[Mention].collect().map(key).toSet
        assert(got == batchReference(allTurns),
          s"fpp=$fpp\nstream=$got\nbatch=${batchReference(allTurns)}")
      } finally q.stop()
    }
  }

  test("joined streaming: hit-less turns still inherit (sentinel row path)") {
    // c1 turn 1/2 contain no dictionary hit at all — they reach the
    // stateful stage only via the sentinel rows and must still inherit
    implicit val sqlCtx = spark.sqlContext
    val dictDf = dict.values.toSeq.toDS()
    val input = MemoryStream[Turn]
    val q = StreamingLink.mentionsJoined(input.toDS(), dictDf, vecsBc,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("stream_sentinel")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(turn("c7", 0, "we met barack obama today")))
      q.processAllAvailable()
      input.addData(Seq(turn("c7", 1, "obama spoke")))
      q.processAllAvailable()
      val got = spark.table("stream_sentinel").as[Mention].collect()
      assert(got.length == 2)
      assert(got.exists(m => m.turn_idx == 1 && m.norm == "barack obama"),
        s"inherited mention missing: ${got.toSeq}")
    } finally q.stop()
  }

  test("per-batch kernel: state carries inheritance sources forward") {
    val (out1, seen1) = StreamingLink.processBatch(
      "c1", Array(allTurns(0)), Seq.empty, dict, noVec)
    assert(out1.size == 1 && out1.head.norm == "barack obama")
    assert(seen1.size == 1)
    val (out2, seen2) = StreamingLink.processBatch(
      "c1", Array(allTurns(1), allTurns(2)), seen1, dict, noVec)
    assert(out2.size == 2) // both later "obama"s inherit
    assert(out2.forall(m => m.norm == "barack obama" && m.resolved == "e_bo"))
    assert(seen2.size == 1) // inherited mentions are NOT sources (no chaining)
  }

  test("state is bounded: seen list capped at MaxSeen most-recent") {
    val many = (0 until 200).map(i => turn("c9", i, "we met barack obama today"))
    val (_, seen) = StreamingLink.processBatch("c9", many.toArray, Seq.empty, dict, noVec)
    assert(seen.size <= StreamingLink.MaxSeen)
    // most-recent kept: the max turnIdx survives the cap
    assert(seen.map(_.turnIdx).max == 199)
  }

  test("batch with maxSeen=MaxSeen equals streaming on a >MaxSeen-source conversation") {
    // >MaxSeen detected mentions in one conversation: the streaming state
    // cap actually bites, and the capped batch run must still match it
    // exactly (the parity contract in Coref.inherited's scaladoc). Two
    // alternating surfaces so inheritance targets vary.
    val many = (0 until 3 * StreamingLink.MaxSeen).map { i =>
      val s = if (i % 2 == 0) "barack obama" else "angela merkel"
      turn("cbig", i, s"we met $s today")
    } ++ Seq(turn("cbig", 3 * StreamingLink.MaxSeen, "obama and merkel left"))
    val (streamOut, seen) = StreamingLink.processBatch(
      "cbig", many.toArray, Seq.empty, dict, noVec)
    assert(seen.size == StreamingLink.MaxSeen) // the cap is engaged
    val detected = many.flatMap(t => MentionDetect.mentionsOfTurn(t, dict, noVec, FirstTokenSketch.of(dict)))
    val batchCapped = detected ++ Coref.inheritedOfConv(
      "cbig", many.toArray, detected.toArray, dict, noVec,
      maxSeen = StreamingLink.MaxSeen)
    assert(streamOut.map(key).toSet == batchCapped.map(key).toSet)
    // and the final turn's two follow-ups did inherit (cap kept enough
    // recent sources of both surfaces)
    val lastTurn = streamOut.filter(_.turn_idx == 3 * StreamingLink.MaxSeen)
    assert(lastTurn.map(_.norm).toSet == Set("barack obama", "angela merkel"))
  }

  test("property: chained processBatch and the masked broadcast stream equal one capped batch call") {
    // generated conversations with entity vectors, plus one conversation
    // made of all of them in a row, which carries more than MaxSeen sources
    val cfg = TranscriptGen.GenConfig(nEntities = 40, nConvs = 120, seed = 7L)
    val gdict = TranscriptGen.dict(cfg)
    val vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)
    assert(vecs.nonEmpty && vecs.values.forall(_.nonEmpty))
    val ev: String => Array[Float] = e => vecs.getOrElse(e, Array.empty[Float])
    val convs = (0L until cfg.nConvs.toLong).map(c => TranscriptGen.genConv(cfg, c)._1)
    val long = convs.flatten.zipWithIndex.map { case (t, i) =>
      t.copy(conv_id = "clong", turn_idx = i) }
    val all = convs :+ long
    val batch = all.map { ts =>
      ts.head.conv_id -> Coref.detectAndInheritOfConv(ts.head.conv_id, ts.toArray,
        gdict, ev, FirstTokenSketch.of(gdict), StreamingLink.MaxSeen).map(full).sortBy(_._1)
    }.toMap
    def detected(ts: Seq[Turn]) = ts.flatMap(t => MentionDetect.mentionsOfTurn(t, gdict, ev, FirstTokenSketch.of(gdict))).size
    assert(detected(long) > StreamingLink.MaxSeen, detected(long))
    assert(all.exists(ts => batch(ts.head.conv_id).size > detected(ts)), "nothing inherited")
    assert(batch.values.flatten.exists(_._8 != ""), "nothing resolved")

    // contiguous turn-order slices at random split points, each slice's
    // turns shuffled (processBatch sorts them)
    val rnd = new scala.util.Random(11)
    def slices(ts: Seq[Turn], n: Int): Seq[Seq[Turn]] = {
      val cuts = (Seq(0, ts.length) ++ Seq.fill(n - 1)(rnd.nextInt(ts.length + 1))).sorted
      cuts.sliding(2).map { case Seq(a, b) => rnd.shuffle(ts.slice(a, b)) }.toSeq
    }
    for (_ <- 0 until 3; ts <- all) {
      val id = ts.head.conv_id
      val (out, _) = slices(ts, 1 + rnd.nextInt(4)).foldLeft(
          (Seq.empty[Mention], Seq.empty[Coref.SeenMention])) { case ((acc, seen), b) =>
        val (ms, seen2) = StreamingLink.processBatch(id, b.toArray, seen, gdict, ev)
        (acc ++ ms, seen2)
      }
      assert(out.map(full).sortBy(_._1) == batch(id), id)
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingLink.mentions(input.toDS(), spark.sparkContext.broadcast(gdict),
        spark.sparkContext.broadcast(vecs),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("stream_generated")
      .outputMode(OutputMode.Append).start()
    try {
      val perConv = all.map(ts => slices(ts, 3))
      for (i <- 0 until 3) {
        input.addData(perConv.flatMap(_(i)))
        q.processAllAvailable()
      }
      val got = spark.table("stream_generated").as[Mention].collect().map(full).sortBy(_._1)
      assert(got.toSeq == batch.values.flatten.toSeq.sortBy(_._1))
    } finally q.stop()
  }

  /** Every field of a mention, arrays as sequences. */
  private def full(m: Mention) =
    (m.mention_id, m.conv_id, m.turn_idx, m.begin, m.end, m.surface, m.norm,
     m.resolved, m.resolvedScore, m.candidates.toSeq.map(c => (c.entity, c.prior)),
     m.ctx.toSeq)

  test("watermarked windowed mention counts run incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingLink.mentionWindowCounts(input.toDS(), dictBc,
        watermark = "5 minutes", windowLen = "1 minute")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(allTurns)
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
      assert(rows.nonEmpty)
      // exactly the two DICTIONARY hits count (inherited mentions are the
      // stateful operator's, not the stateless windowed counter's)
      assert(rows.map(_.getLong(2)).sum == 2)
      assert(rows.map(_.getString(1)).toSet == Set("barack obama", "angela merkel"))
    } finally q.stop()
  }
}
