package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, GraftAccess, SparkSession}

/** The one metrics listener and measurement pass behind every measuring
  * main (Bench, KneeProbe, ScaleSweep, ScaleStress): it records one
  * [[RunMetrics.StageRow]] per completed stage and the start time of
  * every job, and [[measure]] turns them into a [[RunMetrics.Sample]]
  * for one timed body.
  *
  * Layers: a body that builds a DataFrame and then executes it marks the
  * boundary with [[constructed]] ([[materialize]] does). Jobs that start
  * before the mark ran eagerly during construction (checkpoints, collected
  * stats); the rest belong to execution. An unmarked body is all
  * construction.
  *
  * Besides the listener's stage rows, a sample counts the classes the
  * body compiled (Spark's JVM-wide codegen compilation counter): a
  * compile is a miss in the generated-class cache, so a repeated shape
  * that still compiles shows the cache evicting.
  */
final class RunMetrics extends SparkListener {
  import RunMetrics._

  private val stages = ArrayBuffer.empty[StageRow]
  private val jobStartMs = ArrayBuffer.empty[Long]
  @volatile private var markNs = -1L
  @volatile private var markMs = -1L

  override def onJobStart(j: SparkListenerJobStart): Unit =
    synchronized { jobStartMs += j.time }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { stages += StageRow(s.stageInfo) }

  /** Marks the end of construction inside a [[measure]]d body. */
  def constructed(): Unit = {
    markNs = System.nanoTime()
    markMs = System.currentTimeMillis()
  }

  /** Times `body` and returns what ran inside it. The listener bus is
    * drained before the clock starts (so earlier events cannot leak in)
    * and after it stops (so every event of `body` is counted); neither
    * drain is inside the timed window. An exception from `body`
    * propagates.
    */
  def measure(spark: SparkSession)(body: => Unit): Sample = {
    GraftAccess.drainListenerBus(spark)
    synchronized { stages.clear(); jobStartMs.clear() }
    markNs = -1L
    val c0 = compilations
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val compiles = compilations - c0
    GraftAccess.drainListenerBus(spark)
    val (cNs, cMs) = if (markNs < 0) (t1, Long.MaxValue) else (markNs, markMs)
    synchronized {
      val rows = stages.sortBy(_.submitMs).toSeq
      Sample(
        sec = (t1 - t0) / 1e9,
        constructSec = (cNs - t0) / 1e9,
        jobs = jobStartMs.size,
        // a job started at the mark's own millisecond belongs to the
        // write that follows it: an eager job has finished by then
        eagerJobs = jobStartMs.count(_ < cMs),
        compiles = compiles,
        rows = rows)
    }
  }

  /** Runs one registry entry: a stored-index build (all of it is
    * construction), or a query built and then written through the noop
    * sink (count() would let Catalyst time a smaller plan).
    */
  def materialize(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.benchBuilds.get(name) match {
      case Some(build) =>
        build(spark, dir)
        constructed()
      case None =>
        val df = queries(name)(spark, dir)
        constructed()
        df.write.format("noop").mode("overwrite").save()
    }
}

object RunMetrics {

  /** One completed stage; times in ms, sizes in bytes. `inputRows` is
    * the records the stage's scans read (a JDBC scan counts every row
    * the source served).
    */
  final case class StageRow(id: Int, submitMs: Long, durMs: Long,
                            taskMs: Long, cpuMs: Long, gcMs: Long,
                            tasks: Int, shufReadB: Long, shufWriteB: Long,
                            inputB: Long, inputRows: Long, spillB: Long,
                            peakExecB: Long, name: String)

  object StageRow {
    def apply(i: StageInfo): StageRow = {
      val m = Option(i.taskMetrics)
      def get(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.fold(0L)(f)
      val sub = i.submissionTime.getOrElse(0L)
      StageRow(i.stageId, sub, i.completionTime.getOrElse(sub) - sub,
        get(_.executorRunTime), get(_.executorCpuTime / 1000000L),
        get(_.jvmGCTime), i.numTasks,
        get(_.shuffleReadMetrics.totalBytesRead),
        get(_.shuffleWriteMetrics.bytesWritten),
        get(_.inputMetrics.bytesRead),
        get(_.inputMetrics.recordsRead),
        get(m => m.memoryBytesSpilled + m.diskBytesSpilled),
        get(_.peakExecutionMemory),
        i.name.replaceAll("[\r\n]", " "))
    }
  }

  /** Generated classes compiled in this JVM so far. */
  private def compilations: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One measured body. `peakExecB` is the largest stage's summed task
    * peak execution memory, an upper bound on what was live at once;
    * `compiles` is the generated classes the body compiled.
    */
  final case class Sample(sec: Double, constructSec: Double, jobs: Int,
                          eagerJobs: Int, compiles: Long,
                          rows: Seq[StageRow]) {
    def execSec: Double = sec - constructSec
    def stages: Int = rows.size
    def taskSec: Double = rows.map(_.taskMs).sum / 1000.0
    def cpuSec: Double = rows.map(_.cpuMs).sum / 1000.0
    def gcSec: Double = rows.map(_.gcMs).sum / 1000.0
    def shuffleReadB: Long = rows.map(_.shufReadB).sum
    def shuffleWriteB: Long = rows.map(_.shufWriteB).sum
    def inputB: Long = rows.map(_.inputB).sum
    def inputRows: Long = rows.map(_.inputRows).sum
    def spillB: Long = rows.map(_.spillB).sum
    def peakExecB: Long = rows.map(_.peakExecB).maxOption.getOrElse(0L)
  }

  def attach(spark: SparkSession): RunMetrics = {
    val m = new RunMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Releases every cached table and persisted RDD, so the next
    * measurement does not run beside the last one's blocks. Operators
    * return persisted frames under a "caller owns the unpersist"
    * contract; a 40-measurement sweep of leftovers filled a 64 GB heap
    * and slowed late entries ~10× from GC churn alone.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Oracle-gated queries plus the bench/sweep-only shapes, which are
    * production shapes (e.g. the scaled-nlist SemDeDup) timed like any
    * other query but with no correctness dump.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.sweepQueries

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character below 0x20 are escaped, so any text (SQL, exception
    * messages, labels) lands as valid JSON.
    */
  def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }
}
