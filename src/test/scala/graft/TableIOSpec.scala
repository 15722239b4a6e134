package graft

import graft.sources.TableIO
import java.nio.file.Files
import org.apache.spark.sql.functions._

class TableIOSpec extends SparkSpec {
  import spark.implicits._

  test("stage computes once, resumes from checkpoint, recomputes on new fingerprint") {
    val dir = Files.createTempDirectory("graft-stage").toString
    var computes = 0
    def run(fp: String) = TableIO.stage(spark, "s1", dir, fp) {
      computes += 1
      Seq((1, "a"), (2, "b")).toDF("id", "v")
    }
    val first = run("fp1").collect().toSet
    assert(computes == 1)
    val second = run("fp1").collect().toSet // resume, no recompute
    assert(computes == 1)
    assert(first == second)
    run("fp2") // input changed → recompute
    assert(computes == 2)
  }

  test("manifest carries per-partition lineage counters") {
    val dir = Files.createTempDirectory("graft-stage2").toString
    TableIO.stage(spark, "s2", dir, "fp") {
      spark.range(100).repartition(4).toDF()
    }
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json")))
    assert(manifest.contains(""""stage":"s2""""))
    assert(manifest.contains(""""rows":100"""))
    assert(manifest.contains(""""pid""""))
  }

  test("re-running a finished stage is idempotent (identical table)") {
    val dir = Files.createTempDirectory("graft-stage3").toString
    def df = spark.range(50).selectExpr("id", "id * 2 as v")
    val a = TableIO.stage(spark, "s3", dir, "fp")(df).collect().toSet
    val b = TableIO.stage(spark, "s3", dir, "fp")(df).collect().toSet
    assert(a == b)
  }

  test("stageByPartition resumes: completed partitions are anti-joined away") {
    val dir = Files.createTempDirectory("graft-stage4").toString
    val acc = spark.sparkContext.longAccumulator("rowsComputed")
    def df = spark.range(40)
      .map { i => acc.add(1); (s"shard${i % 4}", i) }.toDF("shard", "id")

    // simulate a run that completed shards 0 and 1 then crashed: lineage
    // records them, the data dir holds their rows, no manifest yet
    TableIO.stageByPartition(spark, "s4", dir, "fp", "shard", batchSize = 1) {
      df.where(col("shard").isin("shard0", "shard1"))
    }
    // remove the manifest to model the crash-before-finish state
    Files.delete(java.nio.file.Paths.get(dir, "_graft_manifest.json"))
    acc.reset()

    val out = TableIO.stageByPartition(spark, "s4", dir, "fp", "shard",
                                       batchSize = 1)(df)
    assert(out.count() == 40) // all four shards present exactly once
    assert(out.groupBy("shard").count().collect().forall(_.getLong(1) == 10))
    // the anti-join kept completed shards out of the resumed computation:
    // rows for shard0/shard1 were scanned but never re-written; and the
    // write path only materialized the 20 missing rows per pass over df
    val files = Files.walk(java.nio.file.Paths.get(dir, "data"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(files >= 4)
    // finished now → a re-run is a pure read (no recompute at all)
    acc.reset()
    val again = TableIO.stageByPartition(spark, "s4", dir, "fp", "shard")(df)
    assert(again.count() == 40)
    assert(acc.value == 0L)
  }

  test("stageByPartition: crash between batch write and lineage commit does not duplicate rows") {
    val dir = Files.createTempDirectory("graft-stage6").toString
    def df = spark.range(40).map(i => (s"shard${i % 4}", i)).toDF("shard", "id")
    // complete shards 0 and 1 (batchSize=1 commits lineage per shard)
    TableIO.stageByPartition(spark, "s6", dir, "fp", "shard", batchSize = 1) {
      df.where(col("shard").isin("shard0", "shard1"))
    }
    Files.delete(java.nio.file.Paths.get(dir, "_graft_manifest.json"))
    // simulate a kill AFTER shard1's parquet write but BEFORE its lineage
    // commit: rewind the lineage table to shard0 only — shard1's rows sit
    // in data/ unrecorded, exactly the round-2 duplicate-append window
    Files.writeString(java.nio.file.Paths.get(dir, "_parts_done.json"),
      """{"fingerprint":"fp","parts":[{"v":"shard0"}]}""")
    val out = TableIO.stageByPartition(spark, "s6", dir, "fp", "shard",
                                       batchSize = 1)(df)
    assert(out.count() == 40) // shard1 overwritten in place, NOT re-appended
    assert(out.groupBy("shard").count().collect().forall(_.getLong(1) == 10))
  }

  test("stageByPartition handles non-string partition columns (resume filter casts)") {
    val dir = Files.createTempDirectory("graft-stage7").toString
    def df = spark.range(20).selectExpr("cast(id % 2 as int) as p", "id")
    TableIO.stageByPartition(spark, "s7", dir, "fp", "p", batchSize = 1) {
      df.where(col("p") === 0)
    }
    Files.delete(java.nio.file.Paths.get(dir, "_graft_manifest.json"))
    // resume must anti-join the string lineage value "0" against the INT
    // column without an ANSI cast failure, and only write p=1
    val out = TableIO.stageByPartition(spark, "s7", dir, "fp", "p")(df)
    assert(out.count() == 20)
    assert(out.groupBy("p").count().collect().forall(_.getLong(1) == 10))
  }

  test("partition lineage values with quotes/control chars round-trip") {
    val dir = Files.createTempDirectory("graft-stage8").toString
    val vals = Set("plain", "with\"quote", "back\\slash", "tab\there")
    // exercise the JSON escape/unescape pair directly through the public
    // read/write cycle (writePartsDone is private; stageByPartition drives it)
    def df = vals.toSeq.zipWithIndex.map { case (v, i) => (v, i) }.toDF("pv", "id")
    TableIO.stageByPartition(spark, "s8", dir, "fp", "pv", batchSize = 1)(df)
    assert(TableIO.readPartsDone(dir, "fp") == vals)
  }

  test("stageByPartition with a changed fingerprint rebuilds from scratch") {
    val dir = Files.createTempDirectory("graft-stage5").toString
    def df(n: Int) = spark.range(n).selectExpr("cast(id % 2 as string) as p", "id")
    TableIO.stageByPartition(spark, "s5", dir, "fpA", "p")(df(10))
    val out = TableIO.stageByPartition(spark, "s5", dir, "fpB", "p")(df(20))
    assert(out.count() == 20) // no stale fpA rows appended into fpB output
  }

  test("co-bucketed tables join and aggregate with zero shuffle exchanges") {
    val dir = Files.createTempDirectory("graft-buckets").toString
    val facts = spark.range(10000)
      .selectExpr("id % 500 as k", "id as va")
    val dim = spark.range(2000)
      .selectExpr("id % 500 as k", "id as vb")
    val tf = TableIO.writeBucketed(facts, "tio_bkt_facts", s"$dir/facts", Seq("k"), 8)
    val td = TableIO.writeBucketed(dim, "tio_bkt_dim", s"$dir/dim", Seq("k"), 8)

    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = tf.join(td, Seq("k"))
      assert(joined.count() == 10000L * 4) // 20 fact rows x 4 dim rows per key... checked below
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")

      // same-key aggregation over one bucketed table: also exchange-free
      val agg = tf.groupBy("k").count()
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"groupBy on the bucketing key must not shuffle:\n$aggPlan")

      // values survive the layout: equality with the plain (shuffling) join
      val expect = facts.join(dim, Seq("k")).selectExpr("k", "va", "vb")
        .collect().map(_.toSeq).toSet
      val got = joined.selectExpr("k", "va", "vb").collect().map(_.toSeq).toSet
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("writeBucketedAll: one failed write of three fails the call at once and cancels the others") {
    val dir = Files.createTempDirectory("graft-wball").toString
    val sc = spark.sparkContext
    // the two sibling writes run until their task is killed (≤ 60 s)
    val slow = udf { (x: Long) =>
      val tc = org.apache.spark.TaskContext.get()
      val until = System.nanoTime + 60000000000L
      while (!tc.isInterrupted() && System.nanoTime < until) Thread.sleep(50)
      x
    }
    // the failing write throws once the siblings are running
    val boom = udf { (x: Long) =>
      Thread.sleep(1000)
      if (x >= 0) throw new IllegalStateException("planted write failure")
      x
    }
    def spec(f: org.apache.spark.sql.expressions.UserDefinedFunction, name: String) =
      (spark.range(0, 1, 1, 1).select(f(col("id")).as("k")), name, s"$dir/$name", Seq("k"), 2)
    val t0 = System.nanoTime
    val e = intercept[Exception] {
      TableIO.writeBucketedAll(Seq(spec(slow, "wball_a"), spec(boom, "wball_b"),
                                   spec(slow, "wball_c")))
    }
    val secs = (System.nanoTime - t0) / 1e9
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("planted write failure")), e)
    assert(secs < 30, s"the call waited $secs s for the sibling writes")
    val deadline = System.nanoTime + 10000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime < deadline)
      Thread.sleep(100)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "sibling write jobs still running")
  }
}
