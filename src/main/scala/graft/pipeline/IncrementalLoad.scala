package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.IO

/** The engine's one load, for both generations of the reference job.
  *
  * One logical plan per run:
  *   watermark(target) → filter source newer-than → project → lineage
  *   literal → null-repair → keep-latest dedup → month-partitioned,
  *   shard-keyed, sorted write.
  *
  *   - v2 `upload_data` (SURVEY.md §3.2; reference v2/dag:98-122): strict
  *     watermark, append; duplicates across batches resolve
  *     ReplacingMergeTree-style at read ([[readDeduped]]).
  *   - v1 staged shard loads + `REPLACE PARTITION` (SURVEY.md §3.3;
  *     v1/dag:59-104): `monthTruncatedWatermark = true`, `sourceName = ""`.
  *     The month-truncated watermark and inclusive filter reload whole
  *     months, and dynamic partition overwrite replaces them atomically
  *     through the write's commit protocol. The manual id%2 fan-out
  *     becomes the scan's own partitions and the staging table
  *     disappears. The reference's `partitions[0]` iteration bug
  *     (v1/dag:97) and its unordered LIMIT batch cap are deliberately not
  *     reproduced (SURVEY.md §7.4). The only step v1 gains is the
  *     keep-latest dedup, a no-op on a keyed source; the byte-identical
  *     `pipeline_partition_swap_e2e` oracle row pins that.
  *
  * The reference runs this per table (logs/ab_user/dashboards) with
  * `(table, refresh_field)` parameters (v2/dag:157-168); `Config` is the
  * typed replacement for its `{{ params.* }}` string templating.
  *
  * Scale: the watermark is the only driver-side value; everything else is
  * one distributed plan — the incremental filter pushes to the source
  * scan, and dynamic overwrite touches only the months present in the
  * batch. The plan shuffles twice: the dedup window on the key, then the
  * write's `repartition(month, key)` ([[IO.writeFact]]), because Spark
  * drops a repartition only when its input is already hash-partitioned
  * on the same expressions. The source is read once: the row count comes
  * from an observation on the write itself.
  */
object IncrementalLoad {

  /** Typed job parameters (replaces op:36-43 textual templating). */
  final case class Config(
      keyCol: String,          // dedup + shard key ("id")
      tsCol: String,           // watermark + partition column ("dttm")
      versionCol: String,      // dedup freshness column ("changed_on")
      projection: Seq[String], // P1 explicit column list
      sourceName: String,      // P2 lineage literal; "" to skip
      defaults: Map[String, Any] = Map.empty, // §1.4 null repair
      monthTruncatedWatermark: Boolean = false) // v1 (F2) vs v2 (F1)

  /** One incremental run: returns the number of rows written. A missing
    * or never-written target is a cold start (watermark = the 2000-01-01
    * epoch, v2/dag:113-114); any other failure to read it fails the load
    * before the source is touched ([[IO.readParquetIfPresent]]).
    */
  def run(spark: SparkSession, source: DataFrame, targetPath: String,
          cfg: Config): Long = {
    val target = IO.readParquetIfPresent(spark, targetPath)
      .map(_.drop("month")).getOrElse(source.filter(lit(false)))
    val wm =
      if (cfg.monthTruncatedWatermark) Relational.monthWatermark(target, cfg.tsCol)
      else Relational.watermark(target, cfg.tsCol)
    val incremental =
      if (cfg.monthTruncatedWatermark)
        Relational.onOrAfter(source, cfg.tsCol, wm.toString)
      else Relational.newerThan(source, cfg.tsCol, wm.toString)
    val projected = Relational.project(incremental, cfg.projection)
    val withSource =
      if (cfg.sourceName.nonEmpty) Relational.withLineage(projected, cfg.sourceName)
      else projected
    val repaired = graft.schema.Schemas.applyDefaults(withSource, cfg.defaults)
    val deduped = Relational.dedupLatest(repaired, Seq(cfg.keyCol), cfg.versionCol)
    val written = Observation()
    // v2 (strict watermark): batches are disjoint → append. v1 (month
    // watermark): whole months reload → dynamic partition overwrite makes
    // the re-load idempotent.
    IO.writeFact(deduped.observe(written, count(lit(1)).as("rows")),
      targetPath, cfg.tsCol, cfg.keyCol,
      overwritePartitions = cfg.monthTruncatedWatermark)
    // A batch that AQE finds empty at run time reports no `rows` at all.
    written.get.get("rows").fold(0L)(_.asInstanceOf[Long])
  }

  /** Read the target with ReplacingMergeTree read-side semantics: the
    * storage may hold multiple versions of a key (append path); the
    * query view collapses to the latest (A4).
    */
  def readDeduped(spark: SparkSession, path: String, keyCol: String,
                  versionCol: String): DataFrame =
    Relational.dedupLatest(IO.readParquet(spark, path), Seq(keyCol), versionCol)
}
