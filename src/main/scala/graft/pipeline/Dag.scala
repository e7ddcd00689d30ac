package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's Airflow DAG wiring (SURVEY.md §2.12) as a plain
  * driver program. Parallel branches are Futures over the shared
  * SparkSession — Spark's FAIR/FIFO scheduler interleaves the jobs,
  * which is exactly what Airflow's 3-way `upload_data` fan-out
  * (v2/dag:156-168) achieves with worker processes. Barriers are Await
  * points; the conditional retention skip (F6, v2/dag:129-130
  * AirflowSkipException) is an Option.
  *
  * Both generations run here: a v1 table (staged shard loads + month
  * swap, v1/dag:59-104) is a `TableJob` whose config sets
  * `monthTruncatedWatermark = true` — its 2-way shard fan-out
  * (v1/dag:114-126) becomes the scan's own partitions and its swap the
  * load's dynamic partition overwrite (see [[IncrementalLoad]]).
  */
object Dag {

  final case class TableJob(name: String, source: DataFrame,
                            targetPath: String, cfg: IncrementalLoad.Config)

  /** start → create → [N parallel table loads] → retention (skippable)
    * → teardown. Returns the rows each table's load wrote; every source
    * is extracted once.
    */
  def runV2(spark: SparkSession, jobs: Seq[TableJob],
            retention: Option[() => Unit] = None): Map[String, Long] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fanOut = jobs.map { j =>
      Future(j.name -> IncrementalLoad.run(spark, j.source, j.targetPath, j.cfg))
    }
    val loaded = Await.result(Future.sequence(fanOut), Duration.Inf).toMap
    retention.foreach(_()) // F6: None == skip (legacy connection case)
    loaded
  }
}
