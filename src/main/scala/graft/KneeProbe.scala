package graft

/** One isolated knee measurement: a FRESH JVM per (query, scale) point.
  *
  * Round 13 measured the sf30 knee entries in-process at sweep position
  * ~60, where they inherit the 25 GB-shuffle predecessors' page-cache /
  * GC aftermath — `graph_hits` read ×3.68 in the artifact while the
  * same binaries in a fresh JVM (GraphProbe) read ×2.87, inside the
  * pro-rated bound. The committed artifact must measure what it gates,
  * so from round 14 the knee block runs each measurement through this
  * main in its own JVM (ScaleSweep forks it sequentially — never two
  * 100 GB heaps alive at once) and SCALE.json records
  * `knee_isolated:true`.
  *
  * Protocol (the GraphProbe idle-box convention): JIT/codegen/page-cache
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
  * Output: ONE machine line on stdout —
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
    val metrics = new ScaleSweep.MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def drain(): Unit = try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }
    def once(d: String): (Double, Long, Long, Long) = {
      metrics.reset()
      val t0 = System.nanoTime()
      // build entries (Unit-returning stored-index writers) time the
      // build itself — their write IS the materialization; query
      // entries materialize through the noop sink (the Bench rule)
      SparkEntry.benchBuilds.get(name) match {
        case Some(build) => build(spark, d)
        case None =>
          (SparkEntry.queries ++ SparkEntry.sweepQueries)(name)(spark, d)
            .write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (sec, metrics.spill, metrics.shuffleWrite, metrics.peak)
    }
    try {
      once(warmDir) // JIT + page-cache warm-up off the clock, AT target
      val best = Seq(once(dir), once(dir)).minBy(_._1)
      println(s"KNEEPROBE ${best._1} ${best._2} ${best._3} ${best._4}")
    } catch {
      case e: Throwable =>
        println("KNEEPROBE FAIL " +
          Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\r\n]", " ").take(300))
    }
    spark.stop()
  }
}
