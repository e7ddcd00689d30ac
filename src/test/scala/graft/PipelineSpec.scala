package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftAccess}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{DictionaryRefresh, IncrementalLoad, Retention}
import graft.sources.IO

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.load(spark, sf, "events")
  private val cfg = IncrementalLoad.Config(
    keyCol = "event_id", tsCol = "ts", versionCol = "ts",
    projection = Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    sourceName = "superset")

  test("incremental load: full load == union of incremental batches (§5 invariant)") {
    val path = tempDir("inc")
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    IncrementalLoad.run(spark, events.filter($"ts" < cut), path, cfg)
    IncrementalLoad.run(spark, events, path, cfg)
    val target = IncrementalLoad.readDeduped(spark, path, "event_id", "ts")
    assert(target.count() == events.count())
    // second incremental run with no new data writes nothing new
    IncrementalLoad.run(spark, events, path, cfg)
    assert(IncrementalLoad.readDeduped(spark, path, "event_id", "ts").count()
      == events.count())
  }

  test("incremental load stamps lineage and months") {
    val path = tempDir("inc2")
    IncrementalLoad.run(spark, events, path, cfg)
    val t = spark.read.parquet(path)
    assert(t.columns.contains("month"))
    assert(t.select("source").distinct().as[String].collect().toSeq == Seq("superset"))
  }

  test("partition swap load is idempotent (M1 REPLACE PARTITION semantics)") {
    val path = tempDir("swap")
    val v1 = cfg.copy(sourceName = "", monthTruncatedWatermark = true)
    IncrementalLoad.run(spark, events, path, v1)
    val c1 = spark.read.parquet(path).count()
    IncrementalLoad.run(spark, events, path, v1)
    val c2 = spark.read.parquet(path).count()
    assert(c1 == events.count() && c2 == c1)
  }

  test("cold start: a missing target and a target holding only _SUCCESS " +
      "both load the whole source") {
    val n = events.count()
    assert(IncrementalLoad.run(spark, events, tempDir("cold_missing"), cfg) == n)
    val marked = tempDir("cold_success")
    new java.io.File(marked).mkdirs()
    assert(new java.io.File(marked, "_SUCCESS").createNewFile())
    assert(IncrementalLoad.run(spark, events, marked, cfg) == n)
    assert(spark.read.parquet(marked).count() == n)
  }

  test("a target that exists but cannot be read fails the load and " +
      "writes nothing (no silent cold start)") {
    val path = tempDir("unreadable")
    // a file whose columns differ only in case: the read fails with
    // COLUMN_ALREADY_EXISTS, which is not "nothing written yet"
    spark.conf.set("spark.sql.caseSensitive", "true")
    try Seq((1L, 2L)).toDF("a", "A").write.parquet(path)
    finally spark.conf.unset("spark.sql.caseSensitive")
    def files = new java.io.File(path).list().toSeq.sorted
    val before = files
    val e = intercept[org.apache.spark.sql.AnalysisException](
      IncrementalLoad.run(spark, events, path, cfg))
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e.getMessage)
    assert(files == before)
  }

  test("cold start is decided by the listing: a missing and a " +
      "_SUCCESS-only target run no failing analysis") {
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        failures.incrementAndGet()
    }
    val marked = tempDir("cold_quiet")
    new java.io.File(marked).mkdirs()
    assert(new java.io.File(marked, "_SUCCESS").createNewFile())
    GraftAccess.drainListenerBus(spark) // earlier tests' events stay out
    spark.listenerManager.register(listener)
    try {
      IncrementalLoad.run(spark, events, tempDir("cold_quiet_missing"), cfg)
      IncrementalLoad.run(spark, events, marked, cfg)
      GraftAccess.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(failures.get == 0)
  }

  test("readParquet: a month-partitioned fact table with _SUCCESS and " +
      ".crc files resolves with no job, to the schema Spark infers") {
    val path = tempDir("footer")
    IO.writeFact(events, path, "ts", "event_id", overwritePartitions = false)
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val m = RunMetrics.attach(spark)
    var schema: StructType = null
    val s = try m.measure(spark) { schema = IO.readParquet(spark, path).schema }
      finally spark.sparkContext.removeSparkListener(m)
    assert(s.jobs == 0)
    val inferred = spark.read.parquet(path).schema
    assert(schema == inferred)
    assert(schema.last.name == "month" &&
      schema("month").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("readParquet: files with different schemas read as the first by " +
      "path, the one spark.read.parquet infers from") {
    val path = tempDir("two_schemas")
    new java.io.File(path).mkdirs()
    def place(df: DataFrame, name: String): Unit = {
      val one = tempDir("one_file")
      df.coalesce(1).write.parquet(one)
      val part = new java.io.File(one).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, new java.io.File(path, name).toPath)
    }
    place(Seq((1L, "x")).toDF("a", "b"), "part-1.parquet")
    place(Seq((2L, 1.5)).toDF("a", "c"), "part-0.parquet")
    val schema = IO.readParquet(spark, path).schema
    assert(schema == spark.read.parquet(path).schema)
    assert(schema.fieldNames.toSeq == Seq("a", "c"))
  }

  test("retention rewrite drops rows older than the horizon") {
    val path = tempDir("ret")
    // lineitem spans 1995-2001 → a 30-month horizon at 1998-06 bites
    val li = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_shipdate", "ts")
    graft.sources.IO.writeFact(li, path, "ts", "l_orderkey",
      overwritePartitions = false)
    val kept = Retention.rewrite(spark, path, "ts", "l_orderkey", 30,
      java.sql.Timestamp.valueOf("1998-06-15 00:00:00"))
    val expected = li.filter($"ts" >= lit("1995-12-01 00:00:00").cast("timestamp")).count()
    assert(kept.count() == expected)
    assert(kept.count() < li.count())
  }

  test("retention rewrite preserves streaming replay markers") {
    import graft.streaming.EventStream
    val path = tempDir("ret_markers")
    val li = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_shipdate", "ts")
    graft.sources.IO.writeFact(li, path, "ts", "l_orderkey",
      overwritePartitions = false)
    // a streaming sink committed batches 0 and 1 into this target
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach { b =>
      fs.create(new org.apache.hadoop.fs.Path(s"$path/_graft_commits/$b"),
        true).close()
    }
    Retention.rewrite(spark, path, "ts", "l_orderkey", 30,
      java.sql.Timestamp.valueOf("1998-06-15 00:00:00"))
    // markers survived the generation swap: a replayed batch stays a no-op
    assert(EventStream.isCommitted(spark, path, 0L))
    assert(EventStream.isCommitted(spark, path, 1L))
    // and resetCommits clears them for a recreated checkpoint
    EventStream.resetCommits(spark, path)
    assert(!EventStream.isCommitted(spark, path, 0L))
  }

  test("retention swap is crash-safe: every interruption point leaves a " +
    "recoverable table") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def seed(): String = {
      val p = tempDir("ret_crash")
      Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(p)
      p
    }
    def writeTmp(p: String, suffix: String): Unit =
      Seq((3, "c")).toDF("id", "v").write.parquet(p + suffix)

    // crash BEFORE the swap (mid tmp-write): live intact, stale tmp —
    // recover() keeps live, drops the partial tmp
    val p1 = seed(); writeTmp(p1, "__retained")
    assert(Retention.recover(spark, p1))
    assert(spark.read.parquet(p1).count() == 2)
    assert(!fs.exists(new Path(p1 + "__retained")))

    // crash BETWEEN rename(live→backup) and rename(tmp→live): zero live
    // dirs, but both a complete backup and a complete tmp — recover()
    // promotes the tmp (the retention result) and drops the backup
    val p2 = seed(); writeTmp(p2, "__retained")
    assert(fs.rename(new Path(p2), new Path(p2 + "__backup")))
    assert(Retention.recover(spark, p2))
    assert(spark.read.parquet(p2).count() == 1) // the new generation
    assert(!fs.exists(new Path(p2 + "__backup")))

    // crash AFTER rename(tmp→live), before the backup delete: live is the
    // new generation; recover() just drops the stale backup
    val p3 = seed()
    assert(fs.rename(new Path(p3), new Path(p3 + "__backup")))
    writeTmp(p3, "") // plays the role of the promoted tmp
    assert(Retention.recover(spark, p3))
    assert(spark.read.parquet(p3).count() == 1)
    assert(!fs.exists(new Path(p3 + "__backup")))

    // no crash: recover() is a no-op
    val p4 = seed()
    assert(!Retention.recover(spark, p4))
    assert(spark.read.parquet(p4).count() == 2)
  }

  test("retention rewrite survives a stale partial tmp from a prior crash") {
    val path = tempDir("ret_stale")
    val li = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_shipdate", "ts")
    graft.sources.IO.writeFact(li, path, "ts", "l_orderkey",
      overwritePartitions = false)
    // a previous run died mid-write and left junk in the tmp dir
    Seq((99, "junk")).toDF("l_orderkey", "ts_junk")
      .write.parquet(path + "__retained")
    val kept = Retention.rewrite(spark, path, "ts", "l_orderkey", 30,
      java.sql.Timestamp.valueOf("1998-06-15 00:00:00"))
    val expected = li.filter($"ts" >= lit("1995-12-01 00:00:00").cast("timestamp")).count()
    assert(kept.count() == expected)
  }

  test("dictionary refresh caches within TTL and reloads after") {
    var loads = 0
    var now = 0L
    val dict = new DictionaryRefresh(
      () => { loads += 1; Seq((1, "a")).toDF("id", "v") },
      ttlMillis = 1000, clock = () => now)
    dict.get(); dict.get()
    assert(loads == 1)
    now = 1500
    dict.get()
    assert(loads == 2)
  }

  test("TTL loop also drives the dict_get SQL surface: one reload " +
      "refreshes both the join-form frame and the SQL dictionary, and " +
      "a plan bound before the reload drains safely") {
    var now = 0L
    var gen = 0
    val dict = DictionaryRefresh.asSqlDict(spark, "dr_sql", "k",
      () => { gen += 1; Seq((1L, s"v$gen")).toDF("k", "name") },
      ttlMillis = 1000, clock = () => now)
    Seq(1L).toDF("uid").createOrReplaceTempView("dr_sql_f")
    def sqlAnswer = spark.sql(
      "SELECT dict_get('dr_sql', 'name', uid) FROM dr_sql_f")
    // first get(): join form and SQL form serve the same snapshot
    val join1 = dict.get()
    assert(join1.as[(Long, String)].head() == ((1L, "v1")))
    assert(sqlAnswer.as[String].head() == "v1")
    // bind a plan against generation 1, then cross the TTL boundary
    val bound = sqlAnswer
    bound.queryExecution.executedPlan
    now = 1500
    assert(dict.get().as[(Long, String)].head() == ((1L, "v2")))
    assert(sqlAnswer.as[String].head() == "v2")
    // the pre-reload plan still answers from its own snapshot (the
    // drain-safe unpersist swap), never a destroyed-broadcast error
    assert(bound.as[String].head() == "v1")
    // within TTL: no further reload on either surface
    dict.get()
    assert(gen == 2 && sqlAnswer.as[String].head() == "v2")
  }

  test("script runner substitutes params and executes statements in order (S10/S11)") {
    val out = graft.sources.IO.runScript(spark,
      """CREATE OR REPLACE TEMP VIEW sr_test AS SELECT {{ params.n }} AS x;
        |SELECT x + 1 AS y FROM sr_test;
        |""".stripMargin,
      Map("n" -> "41"))
    assert(out.get.as[Long].head() == 42L)
  }

  test("script runner keeps ';' inside quoted literals intact (quote-aware " +
    "split — the reference op:49-50's intent, not its bug)") {
    val out = graft.sources.IO.runScript(spark,
      """CREATE OR REPLACE TEMP VIEW sr_semi AS
        |  SELECT 'a;b' AS s, 'it''s; fine' AS t;
        |SELECT concat(s, ';', t) AS u FROM sr_semi;
        |""".stripMargin)
    assert(out.get.as[String].head() == "a;b;it's; fine")
    // splitter unit shapes: escaped quote, backslash escape, backticks
    assert(graft.sources.IO.splitStatements("SELECT 1") == Seq("SELECT 1"))
    assert(graft.sources.IO.splitStatements("SELECT ';'; SELECT 2")
      == Seq("SELECT ';'", "SELECT 2"))
    assert(graft.sources.IO.splitStatements("SELECT 'a''b;c'; SELECT 2")
      == Seq("SELECT 'a''b;c'", "SELECT 2"))
    assert(graft.sources.IO.splitStatements("SELECT 'a\\';b'; SELECT 2")
      == Seq("SELECT 'a\\';b'", "SELECT 2"))
    assert(graft.sources.IO.splitStatements("SELECT `a;b` FROM t; SELECT 2")
      == Seq("SELECT `a;b` FROM t", "SELECT 2"))
  }

  test("script splitter ignores quotes and semicolons inside comments") {
    // an apostrophe in a line comment must not open a phantom literal
    // that swallows the next statement boundary
    assert(graft.sources.IO.splitStatements(
      "-- don't panic\nSELECT 2; SELECT 3")
      == Seq("-- don't panic\nSELECT 2", "SELECT 3"))
    // a semicolon inside a block comment is not a boundary either
    assert(graft.sources.IO.splitStatements(
      "SELECT /* won't; break */ 1; SELECT 2")
      == Seq("SELECT /* won't; break */ 1", "SELECT 2"))
    // a trailing comment-only fragment is not a statement
    assert(graft.sources.IO.splitStatements("SELECT 1; -- done\n")
      == Seq("SELECT 1"))
    assert(graft.sources.IO.splitStatements("/* header only */")
      == Seq.empty)
    // join-hint comments survive verbatim inside their statement
    assert(graft.sources.IO.splitStatements(
      "SELECT /*+ BROADCAST(t) */ * FROM t; SELECT 2")
      == Seq("SELECT /*+ BROADCAST(t) */ * FROM t", "SELECT 2"))
    // and a commented-out apostrophe still composes with real literals
    assert(graft.sources.IO.splitStatements(
      "SELECT ';' -- the real ';' was above'\n; SELECT 2")
      == Seq("SELECT ';' -- the real ';' was above'", "SELECT 2"))
  }

  test("reference CSV dialect round-trips with NULL literals (S7)") {
    val path = tempDir("csv")
    val df = Seq((1, "a"), (2, null)).toDF("id", "name")
    graft.sources.IO.writeReferenceCsv(df, path)
    val back = graft.sources.IO.readReferenceCsv(spark, path, df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("JSONEachRow round-trips explicit nulls and µs timestamps " +
      "under a schema-enforced read") {
    val path = tempDir("jsoneachrow")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456"), "a"),
      (2L, null.asInstanceOf[java.sql.Timestamp], null))
      .toDF("id", "ts", "name")
    graft.sources.IO.writeJsonEachRow(df, path)
    val back = graft.sources.IO.readJsonEachRow(spark, path, df.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("ORC round-trips nulls and µs timestamps under a " +
      "schema-enforced read") {
    val path = tempDir("orc")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456"), "a"),
      (2L, null.asInstanceOf[java.sql.Timestamp], null))
      .toDF("id", "ts", "name")
    graft.sources.IO.writeOrc(df, path)
    val back = graft.sources.IO.readOrc(spark, path, df.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("listMonthPartitions reflects written months (S3)") {
    val path = tempDir("parts")
    graft.sources.IO.writeFact(events, path, "ts", "event_id",
      overwritePartitions = false)
    val months = graft.sources.IO.listMonthPartitions(spark, path)
    assert(months.nonEmpty)
    assert(months.forall(_.startsWith("2024-01")))
  }

  test("compact shrinks the file count, preserves content and replay " +
    "markers, and swaps atomically") {
    val path = tempDir("compact")
    events.repartition(40).write.parquet(path)
    // a replay marker like a streaming sink would leave
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + "/_graft_commits"))
    fs.create(new org.apache.hadoop.fs.Path(path + "/_graft_commits/7"))
      .close()
    val before = spark.read.parquet(path)
    val beforeRows = before.orderBy("event_id").collect().toSeq
    val (nBefore, nAfter) = Retention.compact(spark, path,
      targetFileBytes = 1L << 20)
    assert(nBefore == 40)
    assert(nAfter < nBefore, s"no compaction: $nBefore -> $nAfter")
    val partFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(partFiles == nAfter, s"wrote $partFiles files, planned $nAfter")
    assert(spark.read.parquet(path).orderBy("event_id").collect().toSeq ==
      beforeRows)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      path + "/_graft_commits/7")), "replay marker lost in compaction")
    // no leftover tmp/backup generations
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__retained")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__backup")))
  }

  test("optimizeFinal collapses versions per month partition and is " +
      "idempotent") {
    val path = tempDir("optfinal")
    import graft.sources.IO
    // gen1: all events at ver 1; gen2: even ids superseded in place,
    // id 42 moved a month forward (cross-partition dup must SURVIVE)
    val g1 = events.withColumn("ver", lit(1L))
    val g2 = events.filter($"event_id" % 2 === 0)
      .withColumn("ts", when($"event_id" === 42L,
        $"ts" + expr("INTERVAL 1 MONTH")).otherwise($"ts"))
      .withColumn("ver", lit(2L))
    IO.writeFact(g1, path, "ts", "event_id", overwritePartitions = false)
    IO.writeFact(g2, path, "ts", "event_id", overwritePartitions = false)
    val n = events.count()
    val merged = Retention.optimizeFinal(spark, path, "ts", "event_id", "ver")
    // every same-month dup collapsed to ver 2; id 42 keeps both months
    assert(merged.count() == n + 1)
    val vers = merged.groupBy("ver").count()
      .as[(Long, Long)].collect().toMap
    val nEven = events.filter($"event_id" % 2 === 0).count()
    assert(vers(2L) == nEven)
    assert(vers(1L) == n - nEven + 1) // odd ids + id 42's stale month row
    val after = spark.read.parquet(path).orderBy("event_id", "ver")
      .collect().toSeq
    // a second pass must be a pure no-op rewrite
    Retention.optimizeFinal(spark, path, "ts", "event_id", "ver")
    assert(spark.read.parquet(path).orderBy("event_id", "ver")
      .collect().toSeq == after)
  }

  test("swapInto refuses object stores whose rename is copy+delete") {
    // the swap's at-every-instant-one-complete-copy invariant holds only
    // under atomic directory rename; S3A-style stores break it silently
    for (s <- Seq("s3a", "S3A", "gs", "abfss"))
      intercept[IllegalArgumentException](Retention.requireAtomicRename(s))
    Retention.requireAtomicRename("file")
    Retention.requireAtomicRename("hdfs")
  }
}
