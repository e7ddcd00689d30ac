package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a benchmark call into the engine. Spans
  * nest (parent = enclosing span, -1 at top level); every span of one
  * op shares its `run` id. Counters hold what the listener and the
  * benchmark's own probes attributed to the span itself (not its
  * children).
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val run: String, val depth: Int) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = counters(k) += v
}

/** Spans recorded from the benchmark's side, kept in memory and written
  * as JSON at the end. When disabled, `span` runs its body and records
  * nothing, so an untraced op pays no bookkeeping at all.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var enabled = false

  def span[T](name: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1), run,
        parent.map(_.depth + 1).getOrElse(0))
      spans += s
      stack = s :: stack
      s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** A counter summed over the span and everything under it. */
  def inclusive(s: Span, k: String): Double = subtree(s).map(_.counters(k)).sum

  /** Duration minus the part of the interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Attribute listener events to the deepest span open at their time. */
  def attribute(stats: TaskStats): Unit = {
    def at(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs && s.endMs > 0)
        .maxByOption(_.depth)
    stats.jobs.foreach(t => at(t).foreach(_.add("jobs", 1)))
    stats.tasks.foreach { case (t, m) =>
      at(t).foreach(s => m.foreach { case (k, v) => s.add(k, v) })
    }
    stats.clear()
  }

  def toJson: String = Stats.json(spans.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_s" -> selfSeconds(s), "counters" -> s.counters.toMap)
  })
}

/** SparkListener the benchmark attaches for the traced ops: job start
  * times and per-task metrics keyed by task launch time, attributed to
  * spans afterwards.
  */
final class TaskStats extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Long]
  val tasks = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += ((e.taskInfo.launchTime, Map(
      "tasks" -> 1.0,
      "task_s" -> m.executorRunTime / 1e3,
      "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_rows" -> m.inputMetrics.recordsRead.toDouble,
      "input_b" -> m.inputMetrics.bytesRead.toDouble,
      "output_rows" -> m.outputMetrics.recordsWritten.toDouble,
      "output_b" -> m.outputMetrics.bytesWritten.toDouble)))
  }

  def clear(): Unit = synchronized { jobs.clear(); tasks.clear() }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchAccess.drain(sc)
}

/** SparkListener counting the rows every task read from its input
  * (files or JDBC), attached for a whole workload.
  */
final class InputRows extends SparkListener {
  private val rows = new AtomicLong()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

  /** Rows read by every task that has ended so far. */
  def read(sc: SparkContext): Long = { org.apache.spark.BenchAccess.drain(sc); rows.get }
}

/** Log appender counting the engine's codegen fallbacks, one event per
  * fallback: whole-stage codegen disabled for a plan after a failed
  * compile (WARN), a compiled stage with a method over the huge-method
  * limit that the JIT will not compile (INFO), and expression codegen
  * falling back to the interpreter (WARN). The compile error that
  * precedes the first and the last (CodeGenerator, ERROR) is not
  * counted again. It replaces the console appender and echoes ERROR
  * events to stderr.
  */
final class CodegenCounter
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong()

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("") +
      Option(e.getThrown).map(t => " " + t.getMessage).getOrElse("")
    if (CodegenCounter.patterns.exists(p => msg.contains(p))) count.incrementAndGet()
    if (e.getLevel.isMoreSpecificThan(Level.ERROR))
      System.err.println(s"[${e.getLevel}] ${e.getLoggerName}: ${msg.take(400)}")
  }
}

object CodegenCounter {
  val patterns: Seq[String] = Seq("Whole-stage codegen disabled for plan",
    "Found too long generated codes", "falling back to interpreter mode")
  /** Logs its huge-method fallback at INFO. */
  val WholeStage = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  /** Route all WARN+ events, and every INFO+ event of [[WholeStage]],
    * through a fresh counter. Call after the SparkSession exists: Spark
    * installs its default logging configuration on first use and would
    * replace this one.
    */
  def install(): CodegenCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenCounter
    app.start()
    cfg.addAppender(app)
    val root = cfg.getRootLogger
    root.getAppenders.keySet().toArray.foreach(n => root.removeAppender(n.toString))
    root.addAppender(app, Level.WARN, null)
    root.setLevel(Level.WARN)
    cfg.getLoggers.values().forEach { lc =>
      if (lc ne root) lc.setLevel(Level.WARN)
    }
    // not additive: its events reach the counter once, through this logger
    val ws = new LoggerConfig(WholeStage, Level.INFO, false)
    ws.addAppender(app, Level.INFO, null)
    cfg.removeLogger(WholeStage)
    cfg.addLogger(WholeStage, ws)
    ctx.updateLoggers()
    app
  }
}
