package graft.examples

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Relational
import graft.pipeline.{Dag, DictionaryRefresh, IncrementalLoad}

/** The reference's complete use case as a user of this library would
  * write it: replicate Superset's `logs` / `ab_user` / `dashboards`
  * from an RDBMS into month-partitioned, shard-keyed lake tables, then
  * serve enrichment queries off dictionary joins.
  *
  * Embedded Derby stands in for PostgreSQL (same JDBC path the real
  * deployment uses); everything else is the production code path:
  * partitioned JDBC scan (S1), the v2 DAG with three parallel
  * incremental loads (§2.12/§3.2), watermark cold start + second
  * incremental run, defaults repair, keep-latest dedup, and dictionary
  * enrichment (J1).
  *
  * Run: sbt "runMain graft.examples.SupersetReplicationJob"
  */
object SupersetReplicationJob {

  private val url = "jdbc:derby:memory:superset;create=true"

  private def seed(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE logs (id INT NOT NULL, action VARCHAR(64),
        |  user_id INT, dttm TIMESTAMP NOT NULL, dashboard_id INT)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE ab_user (id INT NOT NULL, username VARCHAR(64) NOT NULL,
        |  changed_on TIMESTAMP NOT NULL)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE dashboards (id INT NOT NULL, dashboard_title VARCHAR(64),
        |  changed_on TIMESTAMP NOT NULL)""".stripMargin)
    (0 until 500).foreach { i =>
      val month = 1 + i % 3
      st.executeUpdate(
        s"""INSERT INTO logs VALUES ($i, ${if (i % 7 == 0) "NULL" else s"'view_$i'"},
           |  ${if (i % 11 == 0) "NULL" else (i % 20).toString},
           |  TIMESTAMP('2024-0$month-0${1 + i % 9} 12:00:00'), ${i % 5})""".stripMargin
          .replaceAll("\n", " "))
    }
    (0 until 20).foreach { u =>
      st.executeUpdate(
        s"INSERT INTO ab_user VALUES ($u, 'user_$u', TIMESTAMP('2024-01-01 00:00:00'))")
      if (u % 4 == 0) // SCD update: a later version of the same user
        st.executeUpdate(
          s"INSERT INTO ab_user VALUES ($u, 'user_${u}_v2', TIMESTAMP('2024-02-01 00:00:00'))")
    }
    (0 until 5).foreach { d =>
      st.executeUpdate(
        s"INSERT INTO dashboards VALUES ($d, 'dash_$d', TIMESTAMP('2024-01-01 00:00:00'))")
    }
    st.close(); conn.close()
  }

  private def lateArrivals(): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    (500 until 600).foreach { i =>
      st.executeUpdate(
        s"INSERT INTO logs VALUES ($i, 'view_$i', ${i % 20}, TIMESTAMP('2024-03-15 09:00:00'), ${i % 5})")
    }
    st.close(); conn.close()
  }

  private def scan(spark: SparkSession, table: String, upper: Long): DataFrame =
    graft.sources.IO.readJdbc(spark, url, table, "id", 0, upper, 2,
      new java.util.Properties())

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8, "superset-replication")
    spark.sparkContext.setLogLevel("ERROR")
    seed()
    val base = java.nio.file.Files.createTempDirectory("superset_lake").toString

    def jobs(upper: Long) = Seq(
      Dag.TableJob("logs", scan(spark, "logs", upper), s"$base/logs",
        IncrementalLoad.Config("id", "dttm", "dttm",
          Seq("id", "action", "user_id", "dttm", "dashboard_id"),
          sourceName = "superset",
          defaults = Map("action" -> "undefined", "user_id" -> -1))),
      Dag.TableJob("ab_user", scan(spark, "ab_user", 100), s"$base/ab_user",
        IncrementalLoad.Config("id", "changed_on", "changed_on",
          Seq("id", "username", "changed_on"), sourceName = "")),
      Dag.TableJob("dashboards", scan(spark, "dashboards", 100), s"$base/dashboards",
        IncrementalLoad.Config("id", "changed_on", "changed_on",
          Seq("id", "dashboard_title", "changed_on"), sourceName = "")))

    // day 1: cold start (epoch watermark), three tables in parallel
    val day1 = Dag.runV2(spark, jobs(500))
    println(s"day1 loaded: $day1")
    // ab_user: 25 source rows, 20 ids — keep-latest dedup writes one each
    require(day1 == Map("logs" -> 500L, "ab_user" -> 20L, "dashboards" -> 5L),
      s"day 1 must load every source row once: $day1")

    // day 2: new source rows; strict watermark ships only the delta
    lateArrivals()
    val day2 = Dag.runV2(spark, jobs(600))
    println(s"day2 loaded: $day2")
    require(day2 == Map("logs" -> 100L, "ab_user" -> 0L, "dashboards" -> 0L),
      s"day 2 must load only the 100 late logs rows: $day2")

    // serve: keep-latest views + dictionary enrichment
    val logs = IncrementalLoad.readDeduped(spark, s"$base/logs", "id", "dttm")
    val userDict = new DictionaryRefresh(
      () => IncrementalLoad.readDeduped(spark, s"$base/ab_user", "id", "changed_on"),
      ttlMillis = 43200L * 1000)
    val enriched = Relational.enrich(logs, userDict.get(), "user_id", "id",
      Seq("username"))
      .withColumn("username", coalesce(col("username"), lit("undefined")))
    val logRows = logs.count()
    println(s"logs rows: $logRows")
    require(logRows == 600, s"logs must hold 600 rows, got $logRows")
    println("top users:")
    enriched.groupBy("username").count()
      .orderBy(col("count").desc, col("username")).limit(5).show()
    val scd = userDict.get().filter(col("id") === 0)
      .select("username").first().getString(0)
    println(s"user 0 resolves to latest version: $scd")
    require(scd == "user_0_v2", s"user 0 must resolve to user_0_v2, got $scd")
    spark.stop()
  }
}
