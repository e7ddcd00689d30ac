package perfbench

import scala.collection.mutable

import graft.pipeline.{Dag, Retention}

/** `replicate_daily`: the reference's daily job. Set-up builds the Derby
  * source and cold-loads the lake; only the cold load is timed. Then each simulated day inserts a
  * delta, runs `Dag.runV2` over the three tables, checks the lake
  * against the source, and serves the dashboard (its charts one after
  * another) with one client in a closed loop. Once a week (day 2, 9, ...) it also runs `Retention.optimizeFinal` on
  * the three tables.
  *
  * In a traced run every second day is traced and the others are not;
  * the ratio of their load times is the tracing overhead.
  */
object ReplicateDaily {
  val LogRows = 20000
  val Users = 2000
  val Dashboards = 300
  val DeltaLogs: Int = LogRows / 100
  val UserUpdates = 30
  val DashUpdates = 10
  val SetupReps = 3
  val MaintenanceEvery = 7
  /** The measured window starts mid-week: the weekly merge falls on day 2. */
  val MaintenanceDay = 2
  val DayMs: Long = 24L * 3600 * 1000
  val ChartStepMs: Long = 15L * 60 * 1000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var src: Source = null
    var lake = ""
    val setup = (1 to SetupReps).map { rep =>
      if (src != null) { src.drop(); Lake.delete(lake) }
      lake = s"${ctx.work}/lake/replicate_$rep"
      Lake.delete(lake)
      src = new Source(s"replicate$rep", ctx.seed, LogRows, Users, Dashboards)
      src.create()
      ctx.timed(Dag.runV2(spark, Pipeline.jobs(spark, src, lake)))._2
    }
    ctx.op("cold load")(Pipeline.checkLake(spark, src, lake))

    var now = src.day0
    val charts = new Charts(ctx, src, lake, () => now)
    val loads = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val dashboardMs = mutable.ArrayBuffer.empty[Double]
    val maintenance = mutable.ArrayBuffer.empty[Double]
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    var deltaRows, tracedDeltaRows, sourceRows = 0L
    val t0 = System.nanoTime()
    var day = 0
    while (ctx.elapsed(t0) < ctx.seconds) {
      day += 1
      val run = s"d$day/load"
      val traced = ctx.trace && day % 2 == 0
      src.applyDelta(day, DeltaLogs, UserUpdates, DashUpdates)
      now = src.day0 + day * DayMs
      val files0 = if (traced) Lake.files(lake)._1 else 0
      ctx.op(s"load $run") {
        val rows0 = CountingDriver.rows.get
        val (_, t) = ctx.timed {
          ctx.traced(traced) {
            ctx.tracer.span("Dag.runV2", run) {
              Dag.runV2(spark, Pipeline.jobs(spark, src, lake))
            }
          }
        }
        loads += ((t, traced))
        sourceRows += CountingDriver.rows.get - rows0
        deltaRows += src.lastDelta.values.sum
        if (traced) tracedDeltaRows += src.lastDelta.values.sum
        Pipeline.checkLake(spark, src, lake)
      }
      if (traced) filesWritten += Lake.files(lake)._1 - files0
      val served = charts.all.zipWithIndex.map { case (c, i) =>
        val ms = charts.serve(c, now, s"d$day/chart$i", traced)
        now += ChartStepMs
        ms
      }
      if (served.forall(_.isDefined)) dashboardMs += served.flatten.sum
      if (day % MaintenanceEvery == MaintenanceDay) ctx.op(s"maintenance day $day") {
        val (_, t) = ctx.timed {
          ctx.traced(ctx.trace) {
            ctx.tracer.span("maintenance", s"d$day/maintenance") {
              Pipeline.tables.foreach { tb =>
                val c = Pipeline.config(tb)
                ctx.tracer.span("Retention.optimizeFinal", s"d$day/maintenance") {
                  Retention.optimizeFinal(spark, s"$lake/$tb", c.tsCol, c.keyCol, c.versionCol)
                }
              }
            }
          }
        }
        maintenance += t
        Pipeline.checkLake(spark, src, lake)
      }
      ctx.sampleHeap()
    }

    val (files, bytes) = Lake.files(lake)
    ctx.notes("days") = day
    ctx.notes("maintenance_samples_s") = maintenance.toSeq
    ctx.notes("lake_bytes_per_row") = bytes.toDouble / src.totalRows
    val loadS = loads.map(_._1).toSeq
    ctx.reportCommon(setup, Stats.median(loadS), Stats.median(dashboardMs.toSeq),
      sourceRows.toDouble / deltaRows, loadS, dashboardMs.toSeq)
    if (ctx.trace) {
      val l = new LayerReport(ctx)
      val days = ctx.tracer.spans.filter(s => s.parent < 0 && s.name != "maintenance")
        .groupBy(_.run.takeWhile(_ != '/')).values.map(_.toSeq).toSeq
      l.pipeline(ctx.tracer.named("Dag.runV2"), tracedDeltaRows)
      l.ops(days, filesWritten.toSeq, files, bytes.toDouble / src.totalRows)
      l.maintenance(ctx.tracer.named("maintenance"), maintenance.toSeq)
      l.charts(charts.hitRatio)
      l.overhead(loads.toSeq)
      l.finish()
    }
  }
}
