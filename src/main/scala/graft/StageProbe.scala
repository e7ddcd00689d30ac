package graft

import scala.collection.mutable.ArrayBuffer

/** Per-stage breakdown of one registry entry — the localization tool
  * for scale findings (round 15: the `graph_hits` ×4.30 sf30 knee).
  *
  * A knee ratio says THAT an entry grew super-linearly; this main says
  * WHERE: every completed stage is logged with its callsite, wall
  * duration, task time, shuffle read/write, input bytes and spill, in
  * submission order. Running it at two scales and grouping by callsite
  * turns "the whole query is ×4.3" into "stage class X is ×7 while
  * everything else is ×3" — the measurement PLANS.md round-14 session 3
  * scheduled ahead of any fix. Iterative loops (hits/pagerank) cut
  * lineage eagerly, so their per-iteration stages appear live in
  * submission order, attributable by callsite + position.
  *
  * Protocol matches KneeProbe (fresh JVM, warm-at-target, measured
  * pass after the warm pass) so readings are comparable with
  * SCALE.json's knee block. Output: `STAGE` machine lines (measured
  * pass only) + a `STAGETOTAL` line, on stdout.
  *
  * Usage: `runMain graft.StageProbe <entry> <dir> [partitions]`.
  */
object StageProbe {

  private final case class StageRow(id: Int, submitMs: Long, durMs: Long,
                                    taskMs: Long, cpuMs: Long, gcMs: Long,
                                    tasks: Int,
                                    shufReadB: Long, shufWriteB: Long,
                                    inputB: Long, spillB: Long,
                                    name: String)

  private class StageLog extends org.apache.spark.scheduler.SparkListener {
    val rows = new ArrayBuffer[StageRow]()
    @volatile var enabled = false
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      if (enabled) {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val sub = i.submissionTime.getOrElse(0L)
        val done = i.completionTime.getOrElse(sub)
        rows.synchronized {
          rows += StageRow(i.stageId, sub, done - sub,
            if (m == null) 0L else m.executorRunTime,
            if (m == null) 0L else m.executorCpuTime / 1000000L,
            if (m == null) 0L else m.jvmGCTime,
            i.numTasks,
            if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
            if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
            if (m == null) 0L else m.inputMetrics.bytesRead,
            if (m == null) 0L
            else m.memoryBytesSpilled + m.diskBytesSpilled,
            i.name.replaceAll("[\r\n]", " "))
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val partitions = if (args.length > 2) args(2).toInt else 32
    val spark = Sessions.start(
      Sessions.builder(32, "stage-probe", partitions)
        // match KneeProbe's cleaning cadence (see the note there) so
        // breakdowns measure what the knee gates
        .config("spark.cleaner.periodicGC.interval",
          sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "60s")))
    spark.sparkContext.setLogLevel("ERROR")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.benchBuilds.get(name) match {
        case Some(build) => build(spark, dir)
        case None =>
          (SparkEntry.queries ++ SparkEntry.sweepQueries)(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(500) }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      sec
    }
    once() // warm at target, off the log
    log.enabled = true
    val sec = once()
    log.enabled = false
    val rows = log.rows.sortBy(_.submitMs)
    val t0 = rows.headOption.map(_.submitMs).getOrElse(0L)
    rows.foreach { r =>
      println(f"STAGE ${r.id}%5d +${(r.submitMs - t0) / 1000.0}%8.2fs " +
        f"dur=${r.durMs / 1000.0}%8.2fs task=${r.taskMs / 1000.0}%9.2fs " +
        f"cpu=${r.cpuMs / 1000.0}%9.2fs gc=${r.gcMs / 1000.0}%7.2fs " +
        f"n=${r.tasks}%3d sr=${r.shufReadB / 1e6}%9.1fMB " +
        f"sw=${r.shufWriteB / 1e6}%9.1fMB in=${r.inputB / 1e6}%9.1fMB " +
        f"spill=${r.spillB / 1e6}%7.1fMB  ${r.name}")
    }
    println(f"STAGETOTAL $name $dir parts=$partitions wall=$sec%.2f " +
      f"stages=${rows.size} taskSec=${rows.map(_.taskMs).sum / 1000.0}%.1f " +
      f"cpuSec=${rows.map(_.cpuMs).sum / 1000.0}%.1f " +
      f"gcSec=${rows.map(_.gcMs).sum / 1000.0}%.1f")
    spark.stop()
  }
}
