package graftbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.GraftBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters measured from outside the program: a SparkListener
  * (scheduler and executor layers), a QueryExecutionListener (Catalyst
  * phase times and scan rows of executed plans), CodegenMetrics (Janino
  * compiles and bytecode) and a log appender (compile time from the code
  * generator's INFO line, and the count of ERROR events). Values are
  * cumulative; `snapshot` drains the listener bus first, so a delta of two
  * snapshots holds exactly the work between them.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = lock.synchronized { c(k) += v }

  private val errors = mutable.ArrayBuffer[String]()
  /** The first ERROR log lines, logger name first. */
  def errorLines: Seq[String] = lock.synchronized(errors.toList)
  private val jobStarts = mutable.Map[Int, Long]()
  /** Closed job intervals (start, end) in epoch ms, for busy/gap time. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      c("scheduler.jobs") += 1
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      c("scheduler.tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        c("executor.run_ms") += m.executorRunTime
        c("executor.cpu_ms") += m.executorCpuTime / 1e6
        c("executor.gc_ms") += m.jvmGCTime
        c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        c("spill.disk_bytes") += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val scanned = scanLeaves(qe.executedPlan)
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      lock.synchronized {
        c("catalyst.query_executions") += 1
        c("catalyst.analysis_ms") += ms("analysis")
        c("catalyst.optimization_ms") += ms("optimization")
        c("catalyst.planning_ms") += ms("planning")
        c("store.rows_scanned") += scanned
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      add("catalyst.failed_executions", 1)
  }

  /** Leaf scans of an executed plan, descending through adaptive query
    * stages; a reused exchange is counted where it was first computed. */
  private def scanLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanLeaves(a.executedPlan)
    case s: QueryStageExec => scanLeaves(s.plan)
    case _: ReusedExchangeExec => Nil
    case leaf if leaf.children.isEmpty => Seq(leaf)
    case other => other.children.flatMap(scanLeaves)
  }

  private val appender = new AbstractAppender("graftbench", null, null, true,
      Property.EMPTY_ARRAY) {
    private val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit = {
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
        add("log.error_events", 1)
        lock.synchronized {
          if (errors.size < 20) errors += s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}"
        }
      }
      e.getMessage.getFormattedMessage match {
        case Compiled(ms) => add("codegen.compile_ms", ms.toDouble)
        case _ => ()
      }
    }
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    cfg.getRootLogger.addAppender(appender, Level.ERROR, null)
    // compile times are INFO lines of the code generator; route them to
    // this appender only, not to the console
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Cumulative counters, after every event posted so far was delivered. */
  def snapshot(): Map[String, Double] = {
    GraftBenchBus.drain(sc)
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    lock.synchronized {
      c.toMap ++ Map(
        "codegen.compiles" -> compile.getCount.toDouble,
        "codegen.bytecode_kb" -> bytecodeTotal.sum / 1024.0)
    }
  }

  /** Total bytes of generated class files, summed exactly. CodegenMetrics'
    * class-size histogram keeps a time-weighted sample of at most 1028
    * sizes, and a cold analytics pass generates more classes than that,
    * so its updates are routed through a reservoir that also sums them. */
  private val bytecodeTotal: LongAdder = {
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val summing = new SummingReservoir(f.get(h).asInstanceOf[Reservoir])
    f.set(h, summing)
    summing.total
  }

  /** Job-busy milliseconds inside [from, to] (epoch ms), intervals merged. */
  def busyMs(from: Long, to: Long): Double = lock.synchronized {
    val clipped = jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy.toDouble
  }
}

/** A reservoir that also sums every value it is given. */
final class SummingReservoir(inner: Reservoir) extends Reservoir {
  val total = new LongAdder
  override def size(): Int = inner.size()
  override def update(v: Long): Unit = { total.add(v); inner.update(v) }
  override def getSnapshot(): Snapshot = inner.getSnapshot()
}

object Trace {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).iterator
      .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
}

/** One span: a timed call at a layer boundary. Spans of one operation share
  * `op`; `parent` is the index of the enclosing span or -1. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

final class Spans {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def apply[T](name: String, op: Int)(body: => T): T = {
    val idx = spans.length
    spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }
}
