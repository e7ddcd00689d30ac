package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.pipeline.{Dag, DictionaryRefresh, IncrementalLoad}

/** The reference's v2 job over the Derby source: three table loads
  * (`logs`, `ab_user`, `dashboards`) with the typed configs of
  * `graft.examples.SupersetReplicationJob`, and the checks of a lake
  * against its source.
  */
object Pipeline {
  val tables: Seq[String] = Seq("logs", "ab_user", "dashboards")

  def config(table: String): IncrementalLoad.Config = table match {
    case "logs" => IncrementalLoad.Config("id", "dttm", "dttm",
      Seq("id", "action", "user_id", "json", "dttm", "dashboard_id", "slice_id",
        "duration_ms", "referrer"),
      sourceName = "superset",
      defaults = Map("action" -> "undefined", "user_id" -> -1))
    case "ab_user" => IncrementalLoad.Config("id", "changed_on", "changed_on",
      Seq("id", "username", "first_name", "last_name", "email", "login_count",
        "changed_on"), sourceName = "")
    case "dashboards" => IncrementalLoad.Config("id", "changed_on", "changed_on",
      Seq("id", "dashboard_title", "slug", "json_metadata", "published", "changed_on"),
      sourceName = "")
  }

  /** The partitioned JDBC scan of one source table, connecting through
    * [[CountingDriver]] so that what the source serves is counted.
    */
  def scan(spark: SparkSession, src: Source, table: String): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("driver", classOf[CountingDriver].getName)
    props.setProperty(CountingDriver.Marker, "1")
    graft.sources.IO.readJdbc(spark, src.url, table, "id", 1, src.maxId(table),
      if (table == "logs") 4 else 1, props)
  }

  def jobs(spark: SparkSession, src: Source, lake: String): Seq[Dag.TableJob] =
    tables.map(t => Dag.TableJob(t, scan(spark, src, t), s"$lake/$t", config(t)))

  def deduped(spark: SparkSession, lake: String, table: String): DataFrame = {
    val c = config(table)
    IncrementalLoad.readDeduped(spark, s"$lake/$table", c.keyCol, c.versionCol)
  }

  /** The lake's deduped view against the source: per-month count, sum
    * of `id` and max `dttm` of `logs`, and the latest username per user.
    * The Spark and Derby sides run concurrently.
    */
  def checkLake(spark: SparkSession, src: Source, lake: String): Boolean = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val months = Future(collect(deduped(spark, lake, "logs")
      .groupBy(year(col("dttm")), month(col("dttm")))
      .agg(count(lit(1)), sum(col("id")), max(col("dttm")))))
    val users = Future(collect(deduped(spark, lake, "ab_user").select("id", "username")))
    val wantMonths = src.query(
      "SELECT YEAR(dttm), MONTH(dttm), COUNT(*), SUM(id), MAX(dttm) FROM logs " +
        "GROUP BY YEAR(dttm), MONTH(dttm)")
    val wantUsers = src.query("SELECT id, username FROM ab_user")
    val okLogs = same("logs by month", Await.result(months, Duration.Inf), wantMonths)
    val okUsers = same("usernames", Await.result(users, Duration.Inf), wantUsers)
    okLogs && okUsers
  }

  def collect(df: DataFrame): Seq[String] =
    df.collect().map(r => r.toSeq.map(Canon(_)).mkString("|")).sorted.toSeq

  def same(what: String, got: Seq[String], want: Seq[String]): Boolean = {
    val ok = got == want
    if (!ok) System.err.println(s"[perfbench] mismatch in $what: got ${got.size} rows " +
      s"(first ${got.diff(want).take(3).mkString("; ")}), want ${want.size} rows " +
      s"(first ${want.diff(got).take(3).mkString("; ")})")
    ok
  }
}

/** Part files and bytes of a lake directory tree, from the file system. */
object Lake {
  def files(path: String): (Int, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        val parts = s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          n.startsWith("part-") && Files.isRegularFile(f)
        }.toSeq
        (parts.size, parts.map(Files.size(_: Path)).sum)
      } finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/** Superset-style dashboard charts over the lake: the deduped `logs`
  * view, enriched through TTL dictionaries of users and dashboards.
  * Each chart has a Derby twin over the source it must equal.
  */
final class Charts(ctx: Ctx, src: Source, lake: String, clock: () => Long) {
  private val spark = ctx.spark
  var dictGets = 0
  var dictLoads = 0
  private val ttlMs = 43200L * 1000

  private def dict(table: String): DictionaryRefresh =
    new DictionaryRefresh(() => { dictLoads += 1; Pipeline.deduped(spark, lake, table) },
      ttlMs, clock)
  private val users = dict("ab_user")
  private val dashboards = dict("dashboards")

  private def get(d: DictionaryRefresh, run: String): DataFrame =
    ctx.tracer.span("DictionaryRefresh.get", run) { dictGets += 1; d.get() }

  private def logsSince(since: Timestamp, run: String): DataFrame =
    ctx.tracer.span("IncrementalLoad.readDeduped", run) {
      Pipeline.deduped(spark, lake, "logs")
    }.filter(col("dttm") >= lit(since))

  private def enrich(f: DataFrame, dim: DataFrame, key: String, attr: String, run: String) =
    ctx.tracer.span("Relational.enrich", run) { Relational.enrich(f, dim, key, "id", Seq(attr)) }

  import Charts.Chart

  /** The dashboard: both charts go through the dashboards dictionary,
    * so its second `get` of a day is served from the cache.
    */
  val all: Seq[Chart] = Seq(
    Chart("top_user_dashboards_30d", 30, (since, run) => {
      val views = logsSince(since, run).filter(col("dashboard_id").isNotNull)
      val byUser = enrich(views, get(users, run), "user_id", "username", run)
      val e = enrich(byUser, get(dashboards, run), "dashboard_id", "dashboard_title", run)
      e.groupBy(coalesce(col("username"), lit("undefined")).as("u"),
          coalesce(col("dashboard_title"), lit("")).as("t")).count()
        .orderBy(col("count").desc, col("u"), col("t")).limit(10)
    }, "SELECT COALESCE(u.username, 'undefined') AS un, COALESCE(d.dashboard_title, '') AS t, " +
      "COUNT(*) AS c FROM logs l LEFT JOIN ab_user u ON l.user_id = u.id " +
      "LEFT JOIN dashboards d ON l.dashboard_id = d.id " +
      "WHERE l.dttm >= ? AND l.dashboard_id IS NOT NULL " +
      "GROUP BY COALESCE(u.username, 'undefined'), COALESCE(d.dashboard_title, '') " +
      "ORDER BY c DESC, un, t FETCH FIRST 10 ROWS ONLY"),
    Chart("dashboard_views_7d", 7, (since, run) => {
      val e = enrich(logsSince(since, run).filter(col("dashboard_id").isNotNull),
        get(dashboards, run), "dashboard_id", "dashboard_title", run)
      e.groupBy("dashboard_title").count()
    }, "SELECT d.dashboard_title, COUNT(*) FROM logs l LEFT JOIN dashboards d " +
      "ON l.dashboard_id = d.id WHERE l.dttm >= ? AND l.dashboard_id IS NOT NULL " +
      "GROUP BY d.dashboard_title"))

  /** Serve one chart as of `now`: build, plan, execute, then check it
    * against its Derby twin. Returns the served latency in ms, or None
    * when the chart failed.
    */
  def serve(c: Chart, now: Long, run: String, traced: Boolean): Option[Double] = {
    val since = new Timestamp(now - c.days * 24L * 3600 * 1000)
    var ms = 0.0
    var rows: Seq[String] = Nil
    val ok = ctx.op(s"chart ${c.name} $run") {
      ctx.traced(traced) {
        ctx.tracer.span("chart", run) {
          val t0 = System.nanoTime()
          val df = c.build(since, run)
          ctx.tracer.span("plan", run) { df.queryExecution.executedPlan }
          rows = ctx.tracer.span("exec", run) { Pipeline.collect(df) }
          ms = (System.nanoTime() - t0) / 1e6
        }
      }
      Pipeline.same(s"chart ${c.name} $run", rows, src.query(c.sql, since))
    }
    if (ok) Some(ms) else None
  }

  def hitRatio: Double = if (dictGets == 0) 0.0 else (dictGets - dictLoads).toDouble / dictGets
}

object Charts {
  /** A chart over the lake as of a `since` bound, and its Derby twin. */
  final case class Chart(name: String, days: Int, build: (Timestamp, String) => DataFrame,
                         sql: String)
}
