package graft.erbench

import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark counters of one job group (an op, or a span inside an op). */
final class Group {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Group): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }

  /** max / median task time of the stage with the most task time. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.last / med
    }
}

/** Process-wide JVM and codegen counters at one instant. */
final case class JvmSnap(cpuNs: Long, jitMs: Long, gcMs: Long, compiles: Long,
                         actions: Long, planMs: Long)

/** Listeners for a traced run: a job-group-scoped `SparkListener` (jobs,
  * stages, tasks, task CPU, shuffle, spill, cached RDD blocks), a
  * `QueryExecutionListener` (actions, planning time), Spark's static
  * `CodegenMetrics` and the JVM MXBeans. All counters are read only after
  * draining the listener bus, so an op's events are complete when its
  * figures are taken. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val groups = mutable.HashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val rddBlocks = mutable.HashMap.empty[BlockId, Long]
  private var heldBytes = 0L
  private var peakBytes = 0L
  private var actions = 0L
  private var planMs = 0L

  private val GroupKey = "spark.jobGroup.id"

  private def group(id: String): Group = groups.getOrElseUpdate(id, new Group)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("-")
      e.stageIds.foreach(stageGroup(_) = g)
      group(g).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        if (e.stageInfo.failureReason.isEmpty)
          group(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val g = group(stageGroup.getOrElse(e.stageId, "-"))
      g.tasks += 1
      g.taskMs += e.taskInfo.duration
      g.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        g.cpuNs += m.executorCpuTime
        g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        g.spill += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        heldBytes += bytes - rddBlocks.getOrElse(info.blockId, 0L)
        if (bytes == 0L) rddBlocks.remove(info.blockId) else rddBlocks(info.blockId) = bytes
        peakBytes = math.max(peakBytes, heldBytes)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        actions += 1
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(): Unit = org.apache.spark.erbench.Bus.drain(sc)

  /** Start of a traced op: drains the bus, restarts the cache accounting
    * (the op's peak counts the blocks the op itself stores) and snapshots
    * the process counters. */
  def begin(): JvmSnap = {
    drain()
    synchronized {
      rddBlocks.clear()
      heldBytes = 0L
      peakBytes = 0L
      JvmSnap(os.getProcessCpuTime, jit.getTotalCompilationTime,
              gcs.map(_.getCollectionTime.max(0L)).sum,
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount, actions, planMs)
    }
  }

  /** Job groups `id` and `id/<span>` summed. Call after [[end]]. */
  def groupTotal(id: String): Group = synchronized {
    val t = new Group
    groups.foreach { case (k, g) => if (k == id || k.startsWith(id + "/")) t.add(g) }
    t
  }

  /** End of a traced op: the engine (`spark.*`) and JVM (`jvm.*`) metrics
    * of job group `id` over the op's wall time. */
  def end(s: JvmSnap, id: String, wallS: Double): Map[String, Double] = {
    drain()
    val g = groupTotal(id)
    synchronized {
      val cpuS = (os.getProcessCpuTime - s.cpuNs) / 1e9
      val taskCpuS = g.cpuNs / 1e9
      Map(
        "spark.actions" -> (actions - s.actions).toDouble,
        "spark.jobs" -> g.jobs.toDouble,
        "spark.stages" -> g.stages.toDouble,
        "spark.tasks" -> g.tasks.toDouble,
        "spark.plan_s" -> (planMs - s.planMs) / 1e3,
        "spark.codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - s.compiles).toDouble,
        "spark.task_cpu_s" -> taskCpuS,
        "spark.shuffle_write_mb" -> g.shuffleWrite / Tracer.MB,
        "spark.spill_mb" -> g.spill / Tracer.MB,
        "spark.slot_idle_frac" -> (1.0 - g.taskMs / 1e3 / (wallS * cores)),
        "spark.cache_peak_mb" -> peakBytes / Tracer.MB,
        "jvm.process_cpu_s" -> cpuS,
        "jvm.non_task_cpu_s" -> (cpuS - taskCpuS),
        "jvm.jit_s" -> (jit.getTotalCompilationTime - s.jitMs) / 1e3,
        "jvm.gc_s" -> (gcs.map(_.getCollectionTime.max(0L)).sum - s.gcMs) / 1e3)
    }
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
}

/** Span hooks handed to every op. Untraced, a span is just its body; traced,
  * its jobs run under job group `<op>/<name>` and its wall time is kept, so
  * the layer's task time, shuffle and skew can be read from the tracer. */
final class Spans(spark: SparkSession, val opId: String, val traced: Boolean) {
  private val sc = spark.sparkContext
  val walls = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def apply[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val outer = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"$opId/$name", name)
      val t0 = System.nanoTime()
      try body
      finally {
        walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
      }
    }

  /** A layer count; only evaluated when traced. */
  def count(name: String)(value: => Double): Unit =
    if (traced) counts(name) = value

  /** Layer metrics of span `name` under prefix `layer`: wall, task CPU,
    * shuffle write, spill and skew. */
  def layer(tracer: Tracer, name: String, layer: String): Map[String, Double] = {
    val g = tracer.groupTotal(s"$opId/$name")
    Map(s"$layer.wall_s" -> walls.getOrElse(name, 0.0),
        s"$layer.task_cpu_s" -> g.cpuNs / 1e9,
        s"$layer.shuffle_mb" -> g.shuffleWrite / Tracer.MB,
        s"$layer.spill_mb" -> g.spill / Tracer.MB,
        s"$layer.task_skew" -> g.skew)
  }
}
