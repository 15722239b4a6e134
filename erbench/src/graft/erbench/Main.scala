package graft.erbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Every metric the benchmark reports, with its unit. */
object Metrics {
  /** Untraced runs. Times are CPU seconds of the whole JVM process;
    * `op1`/`op2` are the workload's two op kinds. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_cpu_s" -> "s", "op1_cpu_s" -> "s", "op2_cpu_s" -> "s",
    "quality" -> "ratio")

  /** Phases [[graft.Pipeline.runRetraction]] reports on a state with an edge table. */
  val retractPhases: Seq[String] = Seq("retracted_carve", "surv_carve", "surv_meta_carve",
    "rep_repair", "rep_keying", "scoring_surv_ids", "dirty_stats", "dirty_classify",
    "fresh_scoring", "carve_cc", "assign_attach", "upserts")

  /** Traced runs. A layer the workload's ops never enter reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "detect.wall_s" -> "s", "detect.task_cpu_s" -> "s", "detect.mentions" -> "count",
    "detect.shuffle_mb" -> "MB",
    "detect_joined.wall_s" -> "s", "detect_joined.task_cpu_s" -> "s",
    "detect_joined.shuffle_mb" -> "MB",
    "cluster.wall_s" -> "s", "cluster.task_cpu_s" -> "s", "cluster.shuffle_mb" -> "MB",
    "cluster.spill_mb" -> "MB", "cluster.task_skew" -> "ratio",
    "supernode.ratio" -> "ratio", "block.keys" -> "count", "block.candidate_pairs" -> "count",
    "block.wall_s" -> "s", "score.edges" -> "count", "score.yield" -> "ratio",
    "score.wall_s" -> "s", "cc.clusters" -> "count", "cc.wall_s" -> "s",
    "increment.detect_s" -> "s", "increment.parts_s" -> "s", "increment.edges_s" -> "s",
    "increment.upserts_s" -> "s", "increment.drain_s" -> "s", "increment.merge_s" -> "s",
    "increment.upsert_rows" -> "count") ++ retractPhases.map(p => s"retract.${p}_s" -> "s") ++ Seq(
    "retract.upsert_rows" -> "count",
    "dedup.wall_s" -> "s", "dedup.task_cpu_s" -> "s", "dedup.shingles" -> "count",
    "dedup.hash_evals" -> "count", "dedup.pairs" -> "count", "dedup.shuffle_mb" -> "MB",
    "spark.actions" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.plan_s" -> "s", "spark.codegen_compiles" -> "count",
    "spark.task_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.slot_idle_frac" -> "ratio", "spark.cache_peak_mb" -> "MB",
    "jvm.process_cpu_s" -> "s", "jvm.non_task_cpu_s" -> "s", "jvm.jit_s" -> "s",
    "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio")

  /** Layers every workload enters. */
  val common = Set("spark", "jvm", "trace")
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, partitions: Int, scale: Scale, root: String,
                      breakCheck: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cores = need("cores").toInt,
      partitions = need("partitions").toInt,
      scale = kv.getOrElse("scale", "full") match {
        case "full" => Scale.full
        case "tiny" => Scale.tiny
      },
      root = need("root"),
      breakCheck = kv.get("break-check").contains("1"))
  }
}

/** Benchmark client: one closed loop in a Spark local-mode JVM. Stages
  * the cached inputs, sets the workload up `setupReps` times, runs one op of
  * each kind cold, then repeats the workload's cycle of ops for `--seconds`
  * (at least `minCycles` cycles). A traced run follows the cold ops with one
  * untraced and one traced op of each kind, so the tracing overhead is
  * measured in the same JVM. Prints one diagnostics line and, last, the
  * result line. */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName("erbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = Args.parse(argv)
    val spark = session(a)
    val sessionS = secs(t0)
    val sc = spark.sparkContext
    val wl = Workload(a.workload, Ctx(spark, a.seed, a.scale, s"${a.root}/cache",
                                      s"${a.root}/work", a.breakCheck))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** (result, wall s, process CPU s) of `body`. */
    def measured[A](body: => A): (A, Double, Double) = {
      val c = os.getProcessCpuTime
      val t = System.nanoTime()
      val a = body
      (a, secs(t), (os.getProcessCpuTime - c) / 1e9)
    }

    wl.stage()
    val setups = (1 to a.scale.setupReps).map { i =>
      if (i > 1) System.gc()
      val (_, w, c) = measured(wl.setup())
      (w, c)
    }

    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    var attempted = 0
    var failed = 0
    // every op: (kind, wall s, CPU s, traced)
    val ops = mutable.ArrayBuffer.empty[(Int, Double, Double, Boolean)]
    val layerVals = Array.fill(2)(mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]])

    def op(kind: Int, traced: Boolean): Unit = {
      val opId = s"op${ops.length + 1}-${wl.ops(kind)}"
      val spans = new Spans(spark, opId, traced)
      if (traced) tracer.foreach(_.install())
      val snap = tracer.filter(_ => traced).map(_.begin())
      if (traced) sc.setJobGroup(opId, opId)
      attempted += 1
      val (out, wall, cpu) = measured {
        try Some(wl.run(kind, spans)) catch {
          case NonFatal(e) =>
            System.err.println(s"erbench: op $opId threw: $e")
            e.printStackTrace()
            None
        }
      }
      if (traced) sc.clearJobGroup()
      for (tr <- tracer; s <- snap) {
        if (out.isDefined) {
          val m = tr.end(s, opId, wall) ++ wl.layerMetrics(kind, spans, tr)
          m.foreach { case (k, v) => layerVals(kind).getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        }
        tr.uninstall()
      }
      val ok = out.exists(o => try wl.check(kind, o) catch {
        case NonFatal(e) =>
          System.err.println(s"erbench: check of $opId threw: $e")
          false
      })
      if (!ok) {
        failed += 1
        System.err.println(s"erbench: op $opId failed its output check")
      }
      ops += ((kind, wall, cpu, traced))
    }

    // one cold op of each kind; the warm ops after them are measured
    op(0, traced = false)
    op(1, traced = false)
    val measuredFrom = ops.length
    if (!a.trace) {
      val tm = System.nanoTime()
      var cycles = 0
      while (cycles < wl.minCycles || secs(tm) < a.seconds) {
        wl.cycle.foreach(op(_, traced = false))
        cycles += 1
      }
    } else {
      // one untraced and one traced op per kind, in counterbalanced order
      // (kind 0 untraced first, kind 1 traced first): the warm-up drift
      // between neighbouring passes enters the two kinds' overheads with
      // opposite signs
      for ((k, traced) <- Seq((0, false), (1, true), (0, true), (1, false))) op(k, traced)
    }

    val tf = System.nanoTime()
    val (quality, finishFailed) =
      try wl.finish() catch {
        case NonFatal(e) =>
          System.err.println(s"erbench: end-of-run checks threw: $e")
          e.printStackTrace()
          (0.0, 1)
      }
    failed += finishFailed
    val finishS = secs(tf)

    def warm(kind: Int, traced: Boolean) =
      ops.drop(measuredFrom).filter(o => o._1 == kind && o._4 == traced)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map(
          "setup_s" -> Stats.median(setups.map(_._2)),
          "first_pass_cpu_s" -> ops.head._3,
          "op1_cpu_s" -> Stats.median(warm(0, traced = false).map(_._3).toSeq),
          "op2_cpu_s" -> Stats.median(warm(1, traced = false).map(_._3).toSeq),
          "quality" -> quality)
        Metrics.endToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        // per kind: median over its traced ops; across kinds: mean
        val perKind = layerVals.map(_.map { case (k, vs) => k -> Stats.median(vs.toSeq) })
        val names = perKind.flatMap(_.keys).distinct
        val layered = names.map { n =>
          val vs = perKind.flatMap(_.get(n)); n -> vs.sum / vs.length
        }.toMap
        def wallOf(k: Int, traced: Boolean) = Stats.median(warm(k, traced).map(_._2).toSeq)
        val over = (0 to 1).map(k => wallOf(k, traced = true) - wallOf(k, traced = false))
        val base = (0 to 1).map(k => wallOf(k, traced = false)).sum
        val (probed, probeOps, probeFailed) = wl.probes()
        attempted += probeOps
        failed += probeFailed
        val v = layered ++ probed ++ Map(
          "trace.overhead_s" -> over.sum / 2,
          "trace.overhead_frac" -> over.sum / base)
        val used = wl.layers ++ Metrics.common
        Metrics.perLayer.map { case (n, u) =>
          val layer = n.takeWhile(_ != '.')
          (n, v.getOrElse(n,
            if (used(layer)) throw new IllegalStateException(s"metric $n was not measured")
            else 0.0), u)
        }
      }

    def arr(xs: Iterable[Double]) = xs.mkString("[", ",", "]")
    println(s"""{"erbench": {"workload": "${a.workload}", "seed": ${a.seed}, """ +
      s""""trace": ${a.trace}, "cores": ${a.cores}, "shuffle_partitions": ${a.partitions}, """ +
      s""""session_s": $sessionS, "setup_wall_s": ${arr(setups.map(_._1))}, """ +
      s""""setup_cpu_s": ${arr(setups.map(_._2))}, "measured_from": $measuredFrom, """ +
      s""""ops": [""" + ops.map { case (k, w, c, tr) =>
        s"""["${wl.ops(k)}", $w, $c, $tr]""" }.mkString(", ") +
      s"""], "finish_s": $finishS, "total_s": ${secs(t0)}}}""")
    val body = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    spark.stop()
  }
}
