package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.pipeline.Rollup
import graft.sources.IO

/** Streaming materialized-view maintenance — the ClickHouse pattern
  * where a materialized view populates an Aggregating/SummingMergeTree
  * rollup ON INSERT, Spark-first: each micro-batch reduces to its own
  * partial-aggregate state ([[Rollup.aggregateState]]) and folds into
  * the stored rollup with the same reduction ([[Rollup.merge]]) —
  * per-batch cost ∝ |batch| + |keys|, never a base-table rescan. The
  * batch twin is `pipeline_rollup_incremental_e2e`; this is the same
  * merge driven by Structured Streaming.
  *
  * Exactly-once is structural, the [[DocStream]] discipline adapted to
  * a REPLACED (not appended) artifact: each batch writes the merged
  * state to its own `gen=<batchId>` directory, reading the latest
  * COMMITTED generation strictly BEFORE its own id as the merge base.
  * A replayed batch (foreachBatch is at-least-once) recomputes from
  * that same base — its own half-written generation is excluded by the
  * `< batchId` bound, and Structured Streaming only starts batch N+1
  * after N's checkpoint commit, so the base is always the true
  * predecessor. Generations older than `keepGenerations` are pruned
  * after a successful write; the current generation is never touched.
  */
object RollupStream {

  /** AvailableNow maintenance sink over an event stream. */
  def maintainSink(events: DataFrame, statePath: String, keys: Seq[String],
                   valCol: String, distinctCol: String, k: Int,
                   keepGenerations: Int = 3): DataStreamWriter[Row] = {
    requireKeep(keepGenerations)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, statePath, keys, valCol, distinctCol, k,
          batchId, keepGenerations)
      }
  }

  /** One micro-batch fold (also the testable batch-mode entry).
    * Idempotent in `batchId`: a replay re-reads the same predecessor
    * generation and overwrites its own. */
  def mergeBatch(batch: DataFrame, statePath: String, keys: Seq[String],
                 valCol: String, distinctCol: String, k: Int,
                 batchId: Long, keepGenerations: Int = 3): Unit =
    foldGeneration(batch.sparkSession, statePath, batchId, keepGenerations,
      Rollup.aggregateState(batch, keys, valCol, distinctCol, k),
      (base, inc) => Rollup.merge(Seq(base, inc), keys, k))

  // --- windowFunnel state maintenance ---------------------------------

  /** The funnel twin of [[maintainSink]]: each micro-batch reduces to
    * its (instant, step) event-set state
    * ([[Rollup.aggregateFunnelState]]) and set-unions into the stored
    * state — CH's windowFunnelState materialized view, with the same
    * generation-versioned replay idempotency (the union is idempotent,
    * so even a double-applied batch cannot shift a level). */
  def maintainFunnelSink(events: DataFrame, statePath: String,
                         keys: Seq[String], tsCol: String, typeCol: String,
                         steps: Seq[String],
                         keepGenerations: Int = 3): DataStreamWriter[Row] = {
    requireKeep(keepGenerations)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeFunnelBatch(batch, statePath, keys, tsCol, typeCol, steps,
          batchId, keepGenerations)
      }
  }

  def mergeFunnelBatch(batch: DataFrame, statePath: String,
                       keys: Seq[String], tsCol: String, typeCol: String,
                       steps: Seq[String], batchId: Long,
                       keepGenerations: Int = 3): Unit =
    foldGeneration(batch.sparkSession, statePath, batchId, keepGenerations,
      Rollup.aggregateFunnelState(batch, keys, tsCol, typeCol, steps),
      (base, inc) => Rollup.mergeFunnelStates(Seq(base, inc), keys))

  /** Latest committed funnel state, walked to per-key levels. */
  def readFinalizedFunnel(spark: SparkSession, statePath: String,
                          keys: Seq[String], steps: Seq[String],
                          windowSec: Long): DataFrame =
    latestCommittedGen(spark, statePath, before = Long.MaxValue) match {
      case Some(g) => Rollup.finalizeFunnel(
        IO.readParquet(spark, s"$statePath/gen=$g"), keys, steps, windowSec)
      case None => throw new IllegalStateException(
        s"funnel state at $statePath has no committed generation")
    }

  // --- topK state maintenance -----------------------------------------

  /** The topK twin of [[maintainSink]]: each micro-batch reduces to
    * its Misra–Gries counter-list state
    * ([[Rollup.aggregateTopKState]]) and folds into the stored state
    * through the weighted sketch ([[Rollup.mergeTopKStates]]) — CH's
    * `topKState` materialized view. Replay safety comes from the
    * generation versioning, not merge idempotency: a replayed batch
    * re-reads the same committed predecessor and overwrites its own
    * generation (the scalar-state design — sums aren't idempotent
    * either). */
  def maintainTopKSink(events: DataFrame, statePath: String,
                       keys: Seq[String], itemCol: String, k: Int,
                       keepGenerations: Int = 3): DataStreamWriter[Row] = {
    requireKeep(keepGenerations)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeTopKBatch(batch, statePath, keys, itemCol, k, batchId,
          keepGenerations)
      }
  }

  def mergeTopKBatch(batch: DataFrame, statePath: String,
                     keys: Seq[String], itemCol: String, k: Int,
                     batchId: Long, keepGenerations: Int = 3): Unit =
    foldGeneration(batch.sparkSession, statePath, batchId, keepGenerations,
      Rollup.aggregateTopKState(batch, keys, col(itemCol), k),
      (base, inc) => Rollup.mergeTopKStates(Seq(base, inc), keys, k))

  /** Latest committed topK state, ranked to per-key top-n rows. */
  def readFinalizedTopK(spark: SparkSession, statePath: String,
                        keys: Seq[String], n: Int): DataFrame =
    latestCommittedGen(spark, statePath, before = Long.MaxValue) match {
      case Some(g) => Rollup.finalizeTopK(
        IO.readParquet(spark, s"$statePath/gen=$g"), keys, n)
      case None => throw new IllegalStateException(
        s"topK state at $statePath has no committed generation")
    }

  /** Count–Min maintenance: each micro-batch reduces to its own grid
    * ([[Rollup.aggregateCmState]]) and adds cell-wise into the stored
    * state ([[Rollup.mergeCmStates]]) — the frequency-sketch MV. Same
    * generation-versioned replay safety as the scalar states (cell
    * adds aren't idempotent either). */
  def maintainCmSink(events: DataFrame, statePath: String,
                     keys: Seq[String], termCol: String, depth: Int,
                     width: Int, keepGenerations: Int = 3)
      : DataStreamWriter[Row] = {
    requireKeep(keepGenerations)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeCmBatch(batch, statePath, keys, termCol, depth, width,
          batchId, keepGenerations)
      }
  }

  def mergeCmBatch(batch: DataFrame, statePath: String, keys: Seq[String],
                   termCol: String, depth: Int, width: Int, batchId: Long,
                   keepGenerations: Int = 3): Unit =
    foldGeneration(batch.sparkSession, statePath, batchId, keepGenerations,
      Rollup.aggregateCmState(batch, keys, col(termCol), depth, width),
      (base, inc) => Rollup.mergeCmStates(Seq(base, inc), keys, depth,
        width))

  /** Latest committed CM state, probed for `terms` point frequencies. */
  def readFinalizedCm(spark: SparkSession, statePath: String,
                      keys: Seq[String], terms: DataFrame, termCol: String,
                      depth: Int, width: Int): DataFrame =
    latestCommittedGen(spark, statePath, before = Long.MaxValue) match {
      case Some(g) => Rollup.finalizeCm(
        IO.readParquet(spark, s"$statePath/gen=$g"), keys, terms, termCol,
        depth, width)
      case None => throw new IllegalStateException(
        s"CM state at $statePath has no committed generation")
    }

  /** Quantile-grid maintenance: each micro-batch reduces to its own
    * counting grid ([[Rollup.aggregateQuantileState]]) and adds
    * cell-wise into the stored state
    * ([[Rollup.mergeQuantileStates]]) — the percentile MV. Same
    * generation-versioned replay safety (bucket adds aren't
    * idempotent either). Grid geometry (lo, res, nbins) is the
    * table's contract, fixed at sink creation.
    */
  def maintainQuantileSink(events: DataFrame, statePath: String,
                           keys: Seq[String], valueCol: String, lo: Double,
                           res: Double, nbins: Int,
                           keepGenerations: Int = 3)
      : DataStreamWriter[Row] = {
    requireKeep(keepGenerations)
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeQuantileBatch(batch, statePath, keys, valueCol, lo, res,
          nbins, batchId, keepGenerations)
      }
  }

  def mergeQuantileBatch(batch: DataFrame, statePath: String,
                         keys: Seq[String], valueCol: String, lo: Double,
                         res: Double, nbins: Int, batchId: Long,
                         keepGenerations: Int = 3): Unit =
    foldGeneration(batch.sparkSession, statePath, batchId, keepGenerations,
      Rollup.aggregateQuantileState(batch, keys, col(valueCol), lo, res,
        nbins),
      (base, inc) => Rollup.mergeQuantileStates(Seq(base, inc), keys))

  /** Latest committed quantile state, finalized to per-key brackets. */
  def readFinalizedQuantile(spark: SparkSession, statePath: String,
                            keys: Seq[String], qs: Seq[Double], lo: Double,
                            res: Double, nbins: Int): DataFrame =
    latestCommittedGen(spark, statePath, before = Long.MaxValue) match {
      case Some(g) => Rollup.finalizeQuantile(
        IO.readParquet(spark, s"$statePath/gen=$g"), keys, qs, lo, res, nbins)
      case None => throw new IllegalStateException(
        s"quantile state at $statePath has no committed generation")
    }

  /** Shared generation fold: merge `inc` onto the latest committed
    * predecessor (strictly before `batchId`), land as `gen=<batchId>`,
    * prune. */
  private def foldGeneration(spark: SparkSession, statePath: String,
                             batchId: Long, keepGenerations: Int,
                             inc: DataFrame,
                             mergeWith: (DataFrame, DataFrame) => DataFrame)
      : Unit = {
    requireKeep(keepGenerations)
    val merged = latestCommittedGen(spark, statePath, before = batchId) match {
      case Some(g) =>
        mergeWith(IO.readParquet(spark, s"$statePath/gen=$g"), inc)
      case None => inc
    }
    merged.write.mode("overwrite").parquet(s"$statePath/gen=$batchId")
    prune(spark, statePath, batchId, keepGenerations)
  }

  /** The rollup a reader sees: latest committed state, finalized. */
  def readFinalized(spark: SparkSession, statePath: String,
                    keys: Seq[String], k: Int): DataFrame =
    latestCommittedGen(spark, statePath, before = Long.MaxValue) match {
      case Some(g) => Rollup.finalizeState(
        IO.readParquet(spark, s"$statePath/gen=$g"), keys, k)
      case None => throw new IllegalStateException(
        s"rollup state at $statePath has no committed generation")
    }

  /** keepGenerations < 2 would let prune delete the immediate
    * predecessor of the current generation — exactly the base a
    * replayed batch (foreachBatch is at-least-once) must re-read if
    * the process crashes between the state write and the checkpoint
    * commit. The replay would then silently rebuild from its own batch
    * alone, discarding all history. */
  private def requireKeep(keep: Int): Unit =
    require(keep >= 2,
      s"keepGenerations >= 2 required for replay idempotency (a replayed " +
        s"batch must find its committed predecessor generation), got $keep")

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)

  /** FileSystem that OWNS the path — resolved from the path itself so
    * s3a://, hdfs:// and file:// state dirs all work (a java.io.File
    * listing would silently see nothing on a remote FS and merge every
    * batch against an empty base). Retention/IO use the same rule. */
  private def fsOf(spark: SparkSession, p: String) =
    hPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Largest `gen=<id>` directory with a `_SUCCESS` marker and
    * `id < before` — half-written generations (no marker) and the
    * caller's own replayed generation are both excluded. */
  private def latestCommittedGen(spark: SparkSession, statePath: String,
                                 before: Long): Option[Long] = {
    val fs = fsOf(spark, statePath)
    val root = hPath(statePath)
    if (!fs.exists(root)) return None
    fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap { d =>
        d.getPath.getName match {
          case s if s.startsWith("gen=") =>
            scala.util.Try(s.stripPrefix("gen=").toLong).toOption
          case _ => None
        }
      }
      .filter(g => g < before &&
        fs.exists(hPath(s"$statePath/gen=$g/_SUCCESS")))
      .reduceOption(_ max _)
  }

  private def prune(spark: SparkSession, statePath: String,
                    current: Long, keep: Int): Unit = {
    val fs = fsOf(spark, statePath)
    val root = hPath(statePath)
    if (!fs.exists(root)) return
    val gens = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("gen="))
      .flatMap(d => scala.util.Try(
        d.getPath.getName.stripPrefix("gen=").toLong).toOption)
      .sorted
    // Belt-and-braces beside requireKeep: never delete the immediate
    // committed predecessor of `current`, whatever `keep` says.
    val predecessor = gens.filter(_ < current).lastOption
    gens.dropRight(keep)
      .filter(g => g < current && !predecessor.contains(g))
      .foreach(g => fs.delete(hPath(s"$statePath/gen=$g"), true))
  }
}
