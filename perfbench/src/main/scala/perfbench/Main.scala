package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the op tally, the
  * tracer and the metrics to print.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val cores: Int,
                val fixtures: String, val record: Option[String]) {
  val tracer = new Tracer
  val listener = new TaskStats
  val codegen: CodegenCounter = CodegenCounter.install()
  var attempted = 0
  var failed = 0
  /** name -> (value, unit) */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  private var heapPeak = 0.0

  /** One op: counts as attempted, and as failed when it throws or its
    * check returns false.
    */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace(System.err)
        false
    }
    if (!ok) { failed += 1; System.err.println(s"[perfbench] $what FAILED") }
    ok
  }

  /** Run `body` with tracing on: the listener attached, spans recorded,
    * events attributed to spans when it ends. What the source served and
    * the codegen fallbacks logged meanwhile go to the block's first span.
    */
  def traced[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val first = tracer.spans.length
      val (q0, r0, c0) = (CountingDriver.queries.get, CountingDriver.rows.get, codegen.count.get)
      sc.addSparkListener(listener)
      tracer.enabled = true
      try body
      finally {
        tracer.enabled = false
        listener.drain(sc)
        sc.removeSparkListener(listener)
        tracer.attribute(listener)
        tracer.spans.lift(first).foreach { s =>
          s.add("jdbc_queries", CountingDriver.queries.get - q0)
          s.add("jdbc_rows", CountingDriver.rows.get - r0)
          s.add("codegen_fallbacks", codegen.count.get - c0)
        }
      }
    }

  /** Heap in use after a full collection, folded into the run's peak. */
  def sampleHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeak = math.max(heapPeak, used)
  }
  def heapPeakMb: Double = heapPeak

  def elapsed(sinceNs: Long): Double = (System.nanoTime() - sinceNs) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, elapsed(t0))
  }

  /** The e2e metrics every workload reports: the median set-up, the
    * typical op and query (a day's load and a served dashboard, or a pass
    * over the entries and one entry), and the rows its sources served
    * per row it delivered. The op and query samples go to the stamp with
    * their tails; tails and the heap peak are not gated, because on a
    * shared 4-vCPU box they spread too widely between runs.
    */
  def reportCommon(setup: Seq[Double], opS: Double, queryMs: Double,
                   sourceRowsPerDeltaRow: Double, ops: Seq[Double],
                   queriesMs: Seq[Double]): Unit = {
    e2e("setup_s") = (Stats.median(setup), "s")
    e2e("op_p50_s") = (opS, "s")
    e2e("query_p50_ms") = (queryMs, "ms")
    e2e("source_rows_per_delta_row") = (sourceRowsPerDeltaRow, "ratio")
    e2e("ok_frac") = (1.0 - failed.toDouble / attempted, "ratio")
    val (opTail, opPct, opN) = Stats.tail(ops)
    val (qTail, qPct, qN) = Stats.tail(queriesMs)
    notes("op_tail") = Map("s" -> opTail, "pct" -> opPct, "n" -> opN)
    notes("query_tail") = Map("ms" -> qTail, "pct" -> qPct, "n" -> qN)
    notes("heap_peak_mb") = heapPeakMb
    notes("setup_samples_s") = setup
    notes("op_samples_s") = ops
  }

  def writeTrace(workload: String): Unit = if (trace) {
    val dir = Paths.get(work, "trace")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$workload-$seed.json"),
      tracer.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

/** The benchmark's command line:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * [--fixtures <dir>] [--record <file>]`.
  * The last line of standard output is the result JSON; the line
  * before it (`STAMP {...}`) identifies the run.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "replicate_daily" -> ReplicateDaily.run,
    "operator_mix" -> OperatorMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload),
      s"unknown workload '$workload'; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = graft.Sessions.local(cores, s"perfbench-$workload")
    val startS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, seed, seconds, trace, work, cores,
      opts("fixtures"), opts.get("record"))
    try {
      val calibPre = calibrate(spark)
      val steal0 = stealSeconds()
      val (_, workloadS) = ctx.timed(workloads(workload)(ctx))
      val steal = stealSeconds() - steal0
      val calibPost = calibrate(spark)
      ctx.writeTrace(workload)
      val stamp = ctx.notes ++ Seq(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "calib_pre_s" -> calibPre, "calib_post_s" -> calibPost,
        "jvm_to_session_s" -> startS, "workload_s" -> workloadS,
        "steal_frac" -> steal / (workloadS * Runtime.getRuntime.availableProcessors()),
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
      println("STAMP " + Stats.json(stamp.toMap))
      val metrics = (if (trace) ctx.layer else ctx.e2e).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u)
      }
      println(Stats.json(Map(
        "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "metrics" -> metrics.toMap)))
    } finally spark.stop()
  }

  /** CPU time the hypervisor gave to other guests, summed over the
    * CPUs (the `steal` column of /proc/stat); NaN where it cannot be read.
    */
  def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toDouble / 100 // USER_HZ
    } catch { case _: Exception => Double.NaN }

  /** Bench's fixed-cost calibration probe (`bit_xor(xxhash64(id))`, no
    * I/O, no shuffle), best of two. A contended run reads high.
    */
  def calibrate(spark: SparkSession): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(64L << 20).selectExpr("bit_xor(xxhash64(id)) AS h")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
}
