package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Every workload prints all of
  * them; a layer that does no work in a workload reads 0. An "op" is the
  * workload's unit of work (a day or a mix pass), given as the traced
  * top-level spans that make it up.
  */
final class LayerReport(ctx: Ctx) {
  private val t = ctx.tracer
  private val m = mutable.LinkedHashMap(LayerReport.names.map { case (n, u) => n -> ((0.0, u)) }: _*)

  private def set(k: String, v: Double): Unit = {
    require(m.contains(k), s"undeclared per-layer metric $k")
    m(k) = (v, m(k)._2)
  }
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def sum(op: Seq[Span], k: String): Double = op.map(t.inclusive(_, k)).sum
  private def wall(op: Seq[Span]): Double = op.map(_.seconds).sum

  /** Job count, task time and core use inside `Dag.runV2`, and what the
    * source served for it.
    */
  def pipeline(loads: Seq[Span], deltaRows: Double): Unit = {
    set("pipeline.jobs_per_day", med(loads.map(s => t.inclusive(s, "jobs"))))
    set("pipeline.task_s_per_day", med(loads.map(s => t.inclusive(s, "task_s"))))
    set("pipeline.core_util",
      med(loads.map(s => t.inclusive(s, "task_s") / (s.seconds * ctx.cores))))
    set("sources.jdbc_queries_per_day", med(loads.map(s => t.inclusive(s, "jdbc_queries"))))
    set("sources.jdbc_rows_per_day", med(loads.map(s => t.inclusive(s, "jdbc_rows"))))
    val lakeRows = loads.map(s => t.inclusive(s, "input_rows") - t.inclusive(s, "jdbc_rows")).sum
    if (deltaRows > 0) set("sources.target_rows_scanned_per_delta_row", lakeRows / deltaRows)
  }

  /** Source rows, lake writes and Spark task totals per op. */
  def ops(ops: Seq[Seq[Span]], filesWritten: Seq[Double], targetFiles: Double,
          bytesPerRow: Double): Unit = {
    set("sources.files_written_per_day", med(filesWritten))
    set("sources.files_written", med(filesWritten))
    set("sources.target_files", targetFiles)
    set("sources.lake_bytes_per_row", bytesPerRow)
    set("sources.jdbc_rows", med(ops.map(sum(_, "jdbc_rows"))))
    set("sources.bytes_written", med(ops.map(sum(_, "output_b"))))
    set("spark.task_s", med(ops.map(sum(_, "task_s"))))
    set("spark.core_util", med(ops.map(o => sum(o, "task_s") / (wall(o) * ctx.cores))))
    set("spark.shuffle_write_b", med(ops.map(sum(_, "shuffle_write_b"))))
    set("spark.spill_b", med(ops.map(sum(_, "spill_b"))))
    set("spark.gc_s", med(ops.map(sum(_, "gc_s"))))
    set("functions.codegen_fallbacks", med(ops.map(sum(_, "codegen_fallbacks"))))
  }

  def maintenance(spans: Seq[Span], seconds: Seq[Double]): Unit = {
    set("pipeline.maintenance_s", med(seconds))
    set("pipeline.maintenance_bytes_rewritten", med(spans.map(t.inclusive(_, "output_b"))))
  }

  /** Plan/exec split, rows scanned and shuffle of the traced charts. */
  def charts(hitRatio: Double): Unit = {
    val charts = t.named("chart")
    set("operators.chart_plan_s", med(t.named("plan").filter(inChart).map(_.seconds)))
    set("operators.chart_exec_s", med(t.named("exec").filter(inChart).map(_.seconds)))
    set("operators.chart_rows_scanned", med(charts.map(t.inclusive(_, "input_rows"))))
    set("spark.chart_shuffle_b", med(charts.map(t.inclusive(_, "shuffle_write_b"))))
    set("pipeline.dict_hit_ratio", hitRatio)
  }
  private def inChart(s: Span): Boolean = t.spans.lift(s.parent).exists(_.name == "chart")

  /** Registry construct/plan/execute split per mix pass, and each
    * entry's median time.
    */
  def mix(passes: Seq[Seq[Span]], entrySeconds: Map[String, Seq[Double]]): Unit = {
    def per(name: String, k: String): Double =
      med(passes.map(_.flatMap(e => t.children(e).filter(_.name == name)).map(s =>
        if (k == "seconds") s.seconds else t.inclusive(s, k)).sum))
    set("queries.construct_s", per("construct", "seconds"))
    set("queries.eager_jobs", per("construct", "jobs"))
    set("queries.plan_s", per("plan", "seconds"))
    set("queries.exec_s", per("execute", "seconds"))
    set("queries.jobs", med(passes.map(sum(_, "jobs"))))
    entrySeconds.foreach { case (e, xs) => set(s"mix.${e}_s", med(xs)) }
  }

  /** Tracing overhead: traced ops' median time over untraced ops' median, minus 1. */
  def overhead(samples: Seq[(Double, Boolean)]): Unit = {
    val (on, off) = samples.partition(_._2)
    if (on.nonEmpty && off.nonEmpty)
      set("trace.overhead_frac", med(on.map(_._1)) / med(off.map(_._1)) - 1)
    ctx.notes("trace_overhead_samples") = Map("traced_s" -> on.map(_._1), "untraced_s" -> off.map(_._1))
  }

  def finish(): Unit = ctx.layer ++= m
}

object LayerReport {
  val names: Seq[(String, String)] = Seq(
    "pipeline.jobs_per_day" -> "count",
    "pipeline.task_s_per_day" -> "s",
    "pipeline.core_util" -> "ratio",
    "pipeline.maintenance_s" -> "s",
    "pipeline.maintenance_bytes_rewritten" -> "B",
    "pipeline.dict_hit_ratio" -> "ratio",
    "sources.jdbc_queries_per_day" -> "count",
    "sources.jdbc_rows_per_day" -> "count",
    "sources.target_rows_scanned_per_delta_row" -> "ratio",
    "sources.files_written_per_day" -> "count",
    "sources.target_files" -> "count",
    "sources.lake_bytes_per_row" -> "B/row",
    "sources.jdbc_rows" -> "count",
    "sources.bytes_written" -> "B",
    "sources.files_written" -> "count",
    "operators.chart_plan_s" -> "s",
    "operators.chart_exec_s" -> "s",
    "operators.chart_rows_scanned" -> "count",
    "spark.chart_shuffle_b" -> "B",
    "spark.task_s" -> "s",
    "spark.core_util" -> "ratio",
    "spark.shuffle_write_b" -> "B",
    "spark.spill_b" -> "B",
    "spark.gc_s" -> "s",
    "queries.construct_s" -> "s",
    "queries.eager_jobs" -> "count",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    "queries.jobs" -> "count",
    "functions.codegen_fallbacks" -> "count",
    "trace.overhead_frac" -> "ratio") ++
    OperatorMix.entries.map(e => s"mix.${e}_s" -> "s")
}
