package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeFormatter, CodeGenerator}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's generated-class cache as one body sees it.
  *
  * `CodeGenerator` keeps compiled classes in a cache of
  * `spark.sql.codegen.cache.maxEntries` (default 100) entries keyed by
  * (context class loader, source). A miss costs a Janino compile. In
  * local mode a whole-stage stage compiles twice: once on the driver (the
  * fallback check) and once in a task, under the executor's loader.
  *
  * [[compiles]] records every compile `body` causes: each miss logs its
  * formatted source at DEBUG, which a private appender captures on the
  * compiling thread. That counts the working set exactly even when it
  * overflows the cache (an evicted class that compiles again is the same
  * entry). */
object CodegenCache {

  /** One compiled class. `loader` is "driver" or "executor" (the key's
    * class loader); `kind` is the generated class name without its stage
    * number (GeneratedIteratorForCodegenStage, SpecificUnsafeProjection,
    * …); `plan` is a whole-stage entry's plan when an action of the body
    * executed it ("" otherwise); `phase` is the Pipeline phase the
    * compile fell in (the first PhaseTimer phase to end after it, "" past
    * the last). */
  final case class Entry(loader: String, kind: String, plan: String, phase: String,
                         source: String) {
    def key: (String, String) = (loader, source)
  }

  private val loggerName = classOf[CodeGenerator[_, _]].getName
  private val classDecl = """class (\w+?)\d*\s""".r

  /** Drop every cached class. */
  def clear(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator) // a private[spark] NonFateSharingCache
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** [[clear]], run `body` and return its result and every compile it
    * caused, in order. Distinct [[Entry.key]]s are the cache entries the
    * body needs. */
  def compiles[A](spark: SparkSession)(body: => A): (A, Seq[Entry]) = {
    val driverLoader = Thread.currentThread.getContextClassLoader
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
    val phaseEnds = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val seq = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("graft-codegen-cache", null, null, true,
                                        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (e.getLevel == Level.DEBUG && msg.contains("generate(Object[] references)")) {
          val loader =
            if (Thread.currentThread.getContextClassLoader eq driverLoader) "driver" else "executor"
          events.add((seq.getAndIncrement(), loader, msg.trim))
        }
      }
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val before = ctx.getConfiguration.getLoggerConfig(loggerName)
    val hadOwnConfig = before.getName == loggerName
    val oldLevel = before.getLevel
    val oldSink = Pipeline.PhaseTimer.sink
    clear()
    appender.start()
    Configurator.setLevel(loggerName, Level.DEBUG)
    val lc = ctx.getConfiguration.getLoggerConfig(loggerName)
    lc.addAppender(appender, Level.DEBUG, null)
    lc.setAdditive(false)
    ctx.updateLoggers()
    Pipeline.PhaseTimer.sink = Some { (name: String, secs: Double) =>
      phaseEnds.add((seq.getAndIncrement(), name))
      oldSink.foreach(_(name, secs))
    }
    spark.listenerManager.register(qel)
    val out =
      try { val a = body; org.apache.spark.graft.ListenerBus.drain(spark.sparkContext); a }
      finally {
        spark.listenerManager.unregister(qel)
        Pipeline.PhaseTimer.sink = oldSink
        lc.removeAppender(appender.getName)
        lc.setAdditive(true)
        if (hadOwnConfig) Configurator.setLevel(loggerName, oldLevel)
        else ctx.getConfiguration.removeLogger(loggerName)
        ctx.updateLoggers()
        appender.stop()
      }
    val wscPlans = wholeStagePlans(plans.toArray(Array.empty[QueryExecution]).toSeq)
    val ends = phaseEnds.toArray(Array.empty[(Int, String)]).toSeq.sortBy(_._1)
    val entries = events.toArray(Array.empty[(Int, String, String)]).toSeq.sortBy(_._1).map {
      case (i, loader, src) =>
        val kind = classDecl.findFirstMatchIn(src).map(_.group(1)).getOrElse("?")
        Entry(loader, kind, wscPlans.getOrElse(src, ""), ends.find(_._1 > i).map(_._2).getOrElse(""),
              src)
    }
    (out, entries)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Formatted whole-stage source → plan, over every stage of `qes`. */
  private def wholeStagePlans(qes: Seq[QueryExecution]): Map[String, String] =
    qes.flatMap { qe =>
      Plans.collect(qe.executedPlan) { case w: WholeStageCodegenExec => w }
    }.map(w => CodeFormatter.format(w.doCodeGen()._2).trim -> w.child.treeString.trim).toMap
}
