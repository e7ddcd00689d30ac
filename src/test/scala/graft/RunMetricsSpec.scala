package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The measurement pass every measuring main shares, and the Bench
  * metric line, parsed back as JSON.
  */
class RunMetricsSpec extends SparkSpec {

  private lazy val metrics = RunMetrics.attach(spark)

  test("jobs run while the frame is built count as eager, the write's " +
      "jobs do not") {
    val s = metrics.measure(spark) {
      val n = spark.sparkContext.parallelize(1 to 100, 2).count()
      val df = spark.range(n).selectExpr("id * 2 AS x")
      metrics.constructed()
      df.write.format("noop").mode("overwrite").save()
    }
    assert(s.eagerJobs == 1)
    assert(s.jobs >= 2)
    assert(s.constructSec > 0.0 && s.execSec > 0.0)
  }

  test("a shuffle's stages and bytes are counted when measure returns") {
    val s = metrics.measure(spark) {
      spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k").sum("v")
        .write.format("noop").mode("overwrite").save()
    }
    assert(s.stages >= 2, s.rows)
    assert(s.shuffleWriteB > 0L)
    assert(s.taskSec > 0.0)
    assert(s.constructSec == s.sec, "an unmarked body is all construction")
    assert(s.eagerJobs == s.jobs)
  }

  test("isolate drops every cached table and persisted RDD") {
    spark.range(100).createOrReplaceTempView("run_metrics_v")
    spark.catalog.cacheTable("run_metrics_v")
    spark.table("run_metrics_v").count()
    spark.sparkContext.parallelize(1 to 10).cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    RunMetrics.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!spark.catalog.isCached("run_metrics_v"))
  }

  test("jsonString escapes quote, backslash and every control character") {
    val s = "q\"b\\n\nr\rt\t" + (0 until 0x20).map(_.toChar).mkString + "é—"
    val doc = parse("{" + RunMetrics.jsonString(s) + ":" +
      RunMetrics.jsonString(s) + "}")
    assert(doc == JObject(s -> JString(s)))
    assert(RunMetrics.jsonString("\u0001\t\"") == "\"\\u0001\\t\\\"\"")
  }

  test("Bench metric line: contract fields, value = sum of queries, one key " +
      "set, finite entry numbers even for a failed entry") {
    val build = Bench.timeEntry(metrics, spark, "build", "b\"uild", 1) {
      spark.range(10).write.format("noop").mode("overwrite").save()
    }
    val ok = Bench.timeEntry(metrics, spark, "query", "ok_q", 2) {
      val df = spark.range(1000).groupBy(expr("id % 3")).count()
      metrics.constructed()
      df.write.format("noop").mode("overwrite").save()
    }
    val failed = Bench.timeEntry(metrics, spark, "query", "failed_q", 2) {
      spark.range(10).count()
      throw new IllegalStateException("planted")
    }
    assert(build.ok && ok.ok && !failed.ok)
    val line = Bench.metricLine(2, 0.3, 0.31, Seq("pre" -> 0.3,
      "before:x" -> 0.7, "post" -> 0.31), 0.30, Seq(build),
      Seq(ok, failed), "/data/sf", "")
    val doc = parse(line)
    implicit val fmts: Formats = DefaultFormats
    assert((doc \ "metric").extract[String] == "total")
    val queries = (doc \ "queries").extract[Map[String, Double]]
    assert(math.abs((doc \ "value").extract[Double] - queries.values.sum)
      < 1e-9)
    assert((doc \ "failed").extract[Int] == 1)
    assert((doc \ "contended").extract[Boolean])
    assert((doc \ "calib_max_at").extract[String] == "before:x")
    val names = Set("b\"uild", "ok_q", "failed_q")
    assert(queries.keySet == names)
    val buildOk = (doc \ "build_ok").extract[Map[String, Boolean]]
    val queryOk = (doc \ "query_ok").extract[Map[String, Boolean]]
    assert(buildOk.keySet ++ queryOk.keySet == names)
    assert((buildOk.keySet & queryOk.keySet).isEmpty)
    assert(!queryOk("failed_q"))
    val entries = (doc \ "entries").extract[Map[String, Map[String, Double]]]
    assert(entries.keySet == names)
    val fields = Set("construct_sec", "exec_sec", "jobs", "eager_jobs",
      "stages", "task_sec", "gc_sec", "shuffle_write_b", "spill_b",
      "peak_exec_b")
    entries.foreach { case (n, e) =>
      assert(e.keySet == fields, n)
      assert(e.values.forall(v => !v.isNaN && !v.isInfinite), n)
    }
    assert(entries("failed_q")("eager_jobs") >= 1.0)
    assert(entries("ok_q")("stages") >= 1.0)
  }

  private def expr(s: String) = org.apache.spark.sql.functions.expr(s)
}
