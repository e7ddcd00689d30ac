package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `operator_mix`: five fixed registry entries over the read-only
  * fixtures, each run as construct → force `executedPlan` → `noop`
  * write, then checked against its row count and an order-independent
  * content hash recorded at the commit that defined the benchmark.
  * Set-up resolves the fixture tables; one untimed warm-up pass follows;
  * every timed pass runs the entries in an order drawn from the seed.
  *
  * In a traced run every second pass is traced.
  */
object OperatorMix {
  val entries: Seq[String] = Seq(
    "dedup_cluster_canonical", // eager-job heavy
    "emb_pca_project", "ann_jl_topk", // inline-matrix codegen
    "ann_brute_topk", // kernel-bound
    "q9_product_profit") // relational
  val SetupReps = 3
  val Expected = "/perfbench/mix_expected.tsv"

  private lazy val registry = graft.SparkEntry.queries ++ graft.SparkEntry.sweepQueries

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.fixtures
    require(Files.isDirectory(Paths.get(dir)), s"fixture directory $dir not found")
    val setup = (1 to SetupReps).map { _ =>
      ctx.timed(graft.Tables.all.foreach(t => graft.Tables.load(spark, dir, t).schema))._2
    }
    val expected = loadExpected()
    val (_, warm) = ctx.timed(entries.foreach(e => runEntry(ctx, e, dir, "warmup")))
    ctx.notes("warmup_s") = warm

    val inputs = new InputRows
    ctx.spark.sparkContext.addSparkListener(inputs)
    var rowsRead, rowsDelivered = 0L
    val rnd = new Random(ctx.seed)
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val perEntry = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
    val hashes = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val t0 = System.nanoTime()
    var pass = 0
    while (ctx.elapsed(t0) < ctx.seconds) {
      pass += 1
      val traced = ctx.trace && pass % 2 == 0
      var passS = 0.0
      rnd.shuffle(entries).foreach { e =>
        var df: DataFrame = null
        var s = 0.0
        var read = 0L
        val ok = ctx.op(s"entry $e pass $pass") {
          val read0 = inputs.read(ctx.spark.sparkContext)
          ctx.traced(traced) {
            ctx.tracer.span("entry", s"p$pass/$e") {
              val (d, t) = ctx.timed(runEntry(ctx, e, dir, s"p$pass/$e"))
              df = d; s = t
            }
          }
          read = inputs.read(ctx.spark.sparkContext) - read0
          val h = contentHash(df)
          hashes(e) = h
          val ok = ctx.record.isDefined || expected.get(e).contains(h)
          if (!ok) System.err.println(s"[perfbench] $e: rows/hash $h, recorded ${expected.get(e)}")
          ok
        }
        if (ok) {
          rowsRead += read
          rowsDelivered += hashes(e)._1
          passS += s
          perEntry.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += ((s, traced))
        }
      }
      passes += ((passS, traced))
      ctx.sampleHeap()
    }

    ctx.notes("passes") = pass
    ctx.notes("fixtures") = dir
    val entryMedianS = perEntry.map { case (k, v) => k -> Stats.median(v.map(_._1).toSeq) }.toMap
    ctx.notes("entry_median_s") = entryMedianS
    ctx.record.foreach { path =>
      Files.write(Paths.get(path), hashes.map { case (e, (n, h)) => s"$e\t$n\t$h" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    // op: a typical pass, the sum of the entries' medians; query: a typical
    // entry, the geometric mean of the entries' medians (their latencies lie
    // far apart); source: the fixture tables; delivered: the entries' rows
    val medians = entryMedianS.values.toSeq
    ctx.reportCommon(setup, medians.sum,
      math.exp(medians.map(m => math.log(m * 1e3)).sum / medians.size),
      rowsRead.toDouble / rowsDelivered, passes.map(_._1).toSeq,
      perEntry.values.flatten.map(_._1 * 1e3).toSeq)
    if (ctx.trace) {
      val l = new LayerReport(ctx)
      val tracedPasses = ctx.tracer.named("entry").groupBy(_.run.takeWhile(_ != '/')).values.map(_.toSeq).toSeq
      l.ops(tracedPasses, Nil, 0, 0)
      l.mix(tracedPasses, perEntry.map { case (k, v) => k -> v.filter(_._2).map(_._1).toSeq }.toMap)
      l.overhead(passes.toSeq)
      l.finish()
    }
  }

  /** Construct, plan and execute one entry; returns the constructed frame. */
  private def runEntry(ctx: Ctx, e: String, dir: String, run: String): DataFrame = {
    val df = ctx.tracer.span("construct", run)(registry(e)(ctx.spark, dir))
    ctx.tracer.span("plan", run)(df.queryExecution.executedPlan)
    ctx.tracer.span("execute", run)(df.write.format("noop").mode("overwrite").save())
    df
  }

  /** (row count, order-independent hash): the sum of each row's
    * xxhash64, modulo 2^64. Floating-point values are rounded to 9
    * significant digits first, so a change in summation order alone does
    * not move it.
    */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.longValue)
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // 9 significant digits, by scaling with the value's magnitude
      val d = c.cast(DoubleType)
      val mag = floor(log10(abs(d)))
      when(d === 0 || d.isNaN || d.isNull || abs(d) === lit(Double.PositiveInfinity), d)
        .otherwise(round(d * pow(lit(10.0), lit(8) - mag)) / pow(lit(10.0), lit(8) - mag))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => c
    case _ => c
  }

  private def loadExpected(): Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream(Expected)
    if (in == null) Map.empty
    else try {
      new String(in.readAllBytes(), StandardCharsets.UTF_8).linesIterator
        .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2).toLong))).toMap
    } finally in.close()
  }
}
