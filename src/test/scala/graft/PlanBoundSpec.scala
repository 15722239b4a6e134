package graft

import graft.model.Turn
import graft.operators.MentionDetect
import graft.sources.TranscriptGen
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoGroupExec, LogicalRDD, MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan shape of the batch flagship. Stage boundaries are lineage-cut
  * leaves (the lineage rule on [[Pipeline]]), so one action per run
  * executes — and renders, and analyses — the detection plan; a run's job
  * count repeats; and a run leaves nothing cached but its output (an
  * increment or a retraction, nothing but what its returned frames read). */
class PlanBoundSpec extends SparkSpec {
  import spark.implicits._

  val cfg = TranscriptGen.GenConfig(nEntities = 120, nConvs = 150)
  lazy val turns = TranscriptGen.transcripts(spark, cfg).cache()
  lazy val dict = TranscriptGen.dict(cfg)
  lazy val vecs = TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim)
  lazy val dictDf = dict.values.toSeq.toDS()
  lazy val vecDf = vecs.toSeq.toDF("entity", "vec")

  private val runs: Seq[(String, () => DataFrame)] = Seq(
    "run" -> (() => Pipeline.run(turns, dict, vecs)),
    "runJoined" -> (() => Pipeline.runJoined(turns, dictDf, vecDf)))

  private object Plans extends AdaptiveSparkPlanHelper

  /** Detection operators in `plan`, counting those inside cached
    * relations too: an InMemoryRelation carries its whole lineage into
    * every plan that reads it. */
  private def detectOps(plan: SparkPlan): Int =
    Plans.collect(plan) { case _: MapGroupsExec | _: CoGroupExec => 1 }.size +
      Plans.collect(plan) { case s: InMemoryTableScanExec =>
        detectOps(s.relation.cachedPlan) }.sum

  /** Executed plans of the SQL actions `body` runs, and its job count. */
  private def observe(body: => DataFrame): (Seq[SparkPlan], Int) = {
    turns.count()
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jl)
    try { body; ListenerBus.drain(sc) }
    finally { spark.listenerManager.unregister(qel); sc.removeSparkListener(jl) }
    (plans.toArray(Array.empty[SparkPlan]).toSeq, jobs.get)
  }

  test("the detection plan appears in the executed plan of exactly one action") {
    for ((name, run) <- runs) {
      val (plans, _) = observe(run())
      val withDetect = plans.map(detectOps).count(_ > 0)
      assert(plans.size > 1, name)
      assert(withDetect == 1, s"$name: ${plans.map(detectOps)}")
    }
  }

  test("identical runs launch the same, bounded number of jobs") {
    // bounds: the counts on this corpus with every stage a leaf and only
    // the populated blocking regimes planned
    for ((name, run, bound) <- Seq(("run", runs(0)._2, 25), ("runJoined", runs(1)._2, 35))) {
      val (_, first) = observe(run())
      val (_, second) = observe(run())
      info(s"$name: $first jobs")
      assert(first == second, s"$name: $first then $second jobs")
      assert(first <= bound, s"$name: $first jobs")
    }
  }

  /** `plan` without the ids that differ between two runs of one plan:
    * expression, exchange and observation ids, lambda instances. Codegen
    * stage ids stay: a generated class's source carries its stage id. */
  private def normalized(plan: SparkPlan): String = plan.toString
    .replaceAll("#\\d+L?", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\$Lambda\\$?[0-9/x]+@[0-9a-f]+", "Lambda")
    .replaceAll("(CollectMetrics [\\w_]+, \\[.*\\]), \\d+", "$1")

  test("run and runJoined execute the same plans after the mentions leaf") {
    val tails = for ((name, run) <- runs) yield {
      val (plans, _) = observe(run())
      name -> plans.drop(plans.indexWhere(detectOps(_) > 0) + 1).map(normalized)
    }
    val Seq((_, viaRun), (_, viaJoined)) = tails
    assert(viaRun.nonEmpty)
    viaRun.zipAll(viaJoined, "", "").zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"action ${i + 1} after the mentions leaf differs")
    }
  }

  // distinct (class loader, source) entries of one run + runJoined cycle
  // on this fixture (135 before run and runJoined shared their tail)
  private val CycleEntries = 85

  test("one run + runJoined cycle fits Spark's codegen cache") {
    import CodegenCache.Entry
    def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def distinct(es: Seq[Entry]) = es.groupBy(_.key).values.map(_.head).toSeq
    turns.count()
    // layer of a compile: detection until the mentions leaf lands, the
    // shared tail after it (the caller's drain included)
    def layer(e: Entry) = if (e.phase == "mentions") "detect" else "tail"
    val perVerb = runs.map { case (name, run) =>
      name -> distinct(CodegenCache.compiles(spark)(drain(run()))._2)
    }
    for ((name, es) <- perVerb) {
      val byLayer = es.groupBy(e => (layer(e), e.loader)).map { case (k, v) => k -> v.size }
      info(f"$name%-9s detect driver ${byLayer.getOrElse(("detect", "driver"), 0)}%3d " +
           f"executor ${byLayer.getOrElse(("detect", "executor"), 0)}%3d | " +
           f"tail driver ${byLayer.getOrElse(("tail", "driver"), 0)}%3d " +
           f"executor ${byLayer.getOrElse(("tail", "executor"), 0)}%3d")
      es.filter(layer(_) == "tail").groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, v) =>
        info(f"  tail $k%-32s ${v.size}%3d")
      }
    }
    val tailKeys = perVerb.map(_._2.filter(layer(_) == "tail").map(_.key).toSet)
    info(s"tail entries shared by both verbs: ${tailKeys.reduce(_ intersect _).size}")
    val cycle = distinct(CodegenCache.compiles(spark) {
      runs.foreach { case (_, run) => drain(run()) }
    }._2)
    info(s"cycle: ${cycle.size} entries (" +
      cycle.groupBy(_.loader).toSeq.sortBy(_._1).map { case (l, v) => s"$l ${v.size}" }.mkString(", ") +
      "); Spark's cache holds 100")
    assert(cycle.size <= CycleEntries, s"${cycle.size} entries")
  }

  /** RDD ids of the checkpoint leaves `df` reads. */
  private def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("a run leaves only its output's RDD persisted") {
    val sc = spark.sparkContext
    for ((name, run) <- runs) {
      turns.count()
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      val added = sc.getPersistentRDDs.keySet -- before
      val outRdd = CacheTracker.leafRdd(out).map(_.id)
      assert(outRdd.nonEmpty, name)
      assert(added == outRdd.toSet, name)
    }
    // the maintenance verbs: only leaves their returned frames read stay
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val (baseC, deltaC) = convs.splitAt(convs.length * 2 / 3)
    val state = Pipeline.bootstrapState(Pipeline.allMentions(
      turns.where(col("conv_id").isInCollection(baseC)).as[Turn],
      sc.broadcast(dict), sc.broadcast(vecs)))
    val forget = baseC.zipWithIndex.collect { case (c, i) if i % 7 == 0 => c }.toSeq.toDF("conv_id")
    val verbs: Seq[(String, () => Seq[DataFrame])] = Seq(
      "runIncremental" -> { () =>
        val inc = Pipeline.runIncremental(
          turns.where(col("conv_id").isInCollection(deltaC)).as[Turn],
          Pipeline.Dictionary.Broadcast(dict, vecs), state)
        Seq(inc.deltaMentions, inc.deltaKeyed, inc.deltaReps, inc.newEdges,
            inc.memberEdges, inc.clusterUpserts, inc.clusters)
      },
      "runRetraction" -> { () => retractionFrames(Pipeline.runRetraction(forget, state)) })
    for ((name, verb) <- verbs) {
      val before = sc.getPersistentRDDs.keySet
      val outs = verb()
      val added = sc.getPersistentRDDs.keySet -- before
      val read = outs.flatMap(leafRdds).toSet -- before
      assert(read.nonEmpty, name)
      assert(added == read, name)
    }
  }

  private def retractionFrames(r: Pipeline.Retraction): Seq[DataFrame] =
    Seq(r.clusterUpserts, r.clusters, r.newState.mentions, r.newState.keyed,
        r.newState.reps, r.newState.clusters) ++ r.newState.edges
}
