package graft

/** One isolated knee measurement: a FRESH JVM per (query, scale) point.
  *
  * Round 13 measured the sf30 knee entries in-process at sweep position
  * ~60, where they inherit the 25 GB-shuffle predecessors' page-cache /
  * GC aftermath — `graph_hits` read ×3.68 in the artifact while the
  * same binaries in a fresh JVM read ×2.87, inside the
  * pro-rated bound. The committed artifact must measure what it gates,
  * so from round 14 the knee block runs each measurement through this
  * main in its own JVM (ScaleSweep forks it sequentially — never two
  * 100 GB heaps alive at once) and SCALE.json records
  * `knee_isolated:true`.
  *
  * Protocol (the idle-box convention): JIT/codegen/page-cache
  * warm-up on the SAME query at the TARGET dir, then min-of-2 with
  * clearCache + unpersist-all between passes. Spill/shuffle/peak come
  * from the min-time pass (ScaleSweep's rule: a spill that reproduces
  * on the faster pass is real). The warm-up MUST be at the target, not
  * a small fixture: round 14's first knee run warmed at sf0.1 and the
  * two ratio sides inherited ASYMMETRIC page-cache state — an sf10
  * denominator measured right after a predecessor child had read the
  * same fixture ran ~20 % faster than cold (text_repetition 24.2 s vs
  * 29.5 s cold, numerator rock-stable at 83.4 s), pushing an honestly
  * linear query to ×3.44 against the ×3.27 bound.
  *
  * It is also the per-stage breakdown tool for scale findings (round
  * 15: the `graph_hits` ×4.30 sf30 knee). A knee ratio says THAT an
  * entry grew super-linearly; the `STAGE` rows say WHERE: every stage of
  * the min pass with its callsite, wall duration, task/CPU/GC time,
  * shuffle read/write, input bytes and spill, in submission order.
  * Running it at two scales and grouping by callsite turns "the whole
  * query is ×4.3" into "stage class X is ×7 while everything else is ×3".
  *
  * Usage: `runMain graft.KneeProbe <entry> <dir> [warmDir] [partitions]`.
  * Output on stdout: the min pass's `STAGE` rows and a `STAGETOTAL`
  * line, then ONE machine line —
  * `KNEEPROBE <sec> <spillBytes> <shuffleWriteBytes> <peakExecMem>` or
  * `KNEEPROBE FAIL <message>`.
  */
object KneeProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val warmDir = if (args.length > 2) args(2) else dir
    // Parallelism analog (args(3), default 32): on a cluster, 3× data
    // arrives with 3× tasks per stage — per-task input is CONSTANT.
    // Holding 32 shuffle partitions while data triples grows per-task
    // sort inputs 3× and charges the single box an n·log n term no
    // real deployment pays; the knee step therefore scales partitions
    // with its factor (the r13 heap-follows-data convention, extended
    // to parallelism). Cores stay 32 — extra partitions run as waves.
    val partitions = if (args.length > 3) args(3).toInt else 32
    // Periodic cleaner GC (60 s vs Spark's 30 min default): on this
    // probe's 100 GB heap the JVM may not GC at all inside one
    // measurement, so ContextCleaner never learns that lineage-cut
    // shuffle state is unreachable — shuffle files from EVERY past
    // iteration accumulate and the round-15 stage breakdown measured
    // late-iteration edge-scan stages inflating ×5-8 (same class ×2-3
    // early in the run). A cluster sees executor-local GC far more
    // often; 60 s restores that cleaning cadence for the analog.
    val spark = Sessions.start(
      Sessions.builder(32, "knee-probe", partitions)
        .config("spark.cleaner.periodicGC.interval",
          sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "60s")))
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = RunMetrics.attach(spark)
    def once(d: String): RunMetrics.Sample = {
      // build entries time the build itself — their write IS the
      // materialization; query entries go through the noop sink
      val s = metrics.measure(spark)(metrics.materialize(spark, name, d))
      RunMetrics.isolate(spark)
      s
    }
    try {
      once(warmDir) // JIT + page-cache warm-up off the clock, AT target
      val best = Seq(once(dir), once(dir)).minBy(_.sec)
      val t0 = best.rows.headOption.map(_.submitMs).getOrElse(0L)
      best.rows.foreach { r =>
        println(f"STAGE ${r.id}%5d +${(r.submitMs - t0) / 1000.0}%8.2fs " +
          f"dur=${r.durMs / 1000.0}%8.2fs task=${r.taskMs / 1000.0}%9.2fs " +
          f"cpu=${r.cpuMs / 1000.0}%9.2fs gc=${r.gcMs / 1000.0}%7.2fs " +
          f"n=${r.tasks}%3d sr=${r.shufReadB / 1e6}%9.1fMB " +
          f"sw=${r.shufWriteB / 1e6}%9.1fMB in=${r.inputB / 1e6}%9.1fMB " +
          f"spill=${r.spillB / 1e6}%7.1fMB  ${r.name}")
      }
      println(f"STAGETOTAL $name $dir parts=$partitions wall=${best.sec}%.2f " +
        f"stages=${best.stages} taskSec=${best.taskSec}%.1f " +
        f"cpuSec=${best.cpuSec}%.1f gcSec=${best.gcSec}%.1f")
      println(s"KNEEPROBE ${best.sec} ${best.spillB} ${best.shuffleWriteB} " +
        s"${best.peakExecB}")
    } catch {
      case e: Throwable =>
        println("KNEEPROBE FAIL " +
          Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\r\n]", " ").take(300))
    }
    spark.stop()
  }
}
