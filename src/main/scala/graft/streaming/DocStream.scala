package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Quality}
import graft.sources.IO

/** Streaming corpus ingest: the training-data tier's arrival path.
  * Documents stream in (directory source here; Kafka/queue at scale),
  * and every micro-batch runs the same pipeline a batch build runs:
  *
  *   quality gate → minhash-dedup against the STORED signature index
  *   (and within the batch) → append survivors to the corpus, their
  *   signatures to the index.
  *
  * The dedup join is [[Dedup.minHashLshPairsIncremental]] — new×index
  * band rows only, never index×index — so per-batch cost scales with
  * batch size × bucket occupancy, not corpus size: the property that
  * lets ingest keep up while the corpus grows to 100 TB.
  *
  * Exactly-once is structural: each micro-batch writes its survivors
  * (and their signatures) into an `ingest_batch=<batchId>` partition
  * with dynamic partition overwrite, so a replayed batch — after a
  * crash at ANY point, before or after the commit marker — overwrites
  * its own partition instead of appending a duplicate copy. The replay
  * recomputes identical drop decisions because the index read excludes
  * the batch's own partition (a crashed attempt may have landed its
  * signatures already; without the exclusion a replay would see its own
  * fingerprints and drop everything). The [[EventStream]] batchId
  * markers remain as a fast-skip so fully-committed batches cost
  * nothing on replay; they are no longer load-bearing for correctness.
  */
object DocStream {

  /** Fixture `documents` schema for the directory stream source. */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsSchema).parquet(dir)

  /** The quality gate applies unchanged to a stream: `Quality.clean` is
    * a pure per-row filter predicate (no aggregation, no state).
    */
  def qualityFiltered(docs: DataFrame, t: Quality.Thresholds): DataFrame =
    Quality.clean(docs, "doc_id", "text", t)

  /** Ingest sink. `corpusPath` receives surviving documents (parquet
    * append), `indexPath` their minhash signatures — the persistent
    * corpus index the next batch dedups against.
    */
  def ingestSink(docs: DataFrame, corpusPath: String, indexPath: String,
                 thresholds: Quality.Thresholds, shingleN: Int,
                 bands: Int, rowsPerBand: Int): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty &&
            !EventStream.isCommitted(spark, corpusPath, batchId)) {
          ingestBatch(batch, corpusPath, indexPath, thresholds, shingleN,
            bands, rowsPerBand, batchId)
          EventStream.markCommitted(spark, corpusPath, batchId)
        }
      }

  /** One micro-batch (also the testable batch-mode entry): returns the
    * number of documents that survived both gates. Idempotent in
    * `batchId` — re-running the same batch overwrites its own
    * `ingest_batch` partition in both corpus and index (see object doc).
    */
  def ingestBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                  thresholds: Quality.Thresholds, shingleN: Int,
                  bands: Int, rowsPerBand: Int, batchId: Long = 0L): Long = {
    val spark = batch.sparkSession
    val clean = Quality.clean(batch, "doc_id", "text", thresholds)
    // signatures feed the drop decision AND the index append — persist
    // so the batch is shingled once
    val sigs = Dedup.minHashSignatures(clean, "doc_id", "text", shingleN,
      bands * rowsPerBand).persist()
    try {
      val existing = readIndexOrEmpty(spark, indexPath, sigs, batchId)
      // the tiny drop-id set feeds both anti-joins; persist it so the
      // index read + incremental band join run once per batch, not twice
      val drops = Dedup.incrementalDropIds(existing, sigs, "doc_id", bands,
        rowsPerBand).persist()
      val kept = clean.join(drops, Seq("doc_id"), "left_anti").persist()
      try {
        val n = kept.count()
        if (n > 0) {
          writeBatchPartition(kept, corpusPath, batchId)
          writeBatchPartition(sigs.join(drops, Seq("doc_id"), "left_anti"),
            indexPath, batchId)
        }
        n
      } finally {
        kept.unpersist(blocking = false)
        drops.unpersist(blocking = false)
      }
    } finally sigs.unpersist(blocking = false)
  }

  /** Idempotent per-batch landing: dynamic partition overwrite replaces
    * only this batch's `ingest_batch` partition, leaving earlier batches
    * untouched — the same per-write isolation [[graft.sources.IO.writeFact]]
    * uses for M1 partition swaps.
    */
  private def writeBatchPartition(df: DataFrame, path: String,
                                  batchId: Long): Unit =
    df.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(path)

  /** Corpus/index read path for consumers: the physical `ingest_batch`
    * partition column is commit plumbing, not document data.
    */
  def readCorpus(spark: SparkSession, path: String): DataFrame =
    IO.readParquet(spark, path).drop("ingest_batch")

  /** First-batch bootstrap: an index that was never written reads as
    * empty ([[graft.sources.IO.readParquetIfPresent]]). Anything else —
    * a corrupt index, a wrong-schema index, or a mistyped `indexPath`
    * that resolves to something else — fails loudly, because silently
    * returning empty would disable cross-batch dedup and let duplicates
    * into the corpus.
    */
  private def readIndexOrEmpty(spark: SparkSession, indexPath: String,
                               like: DataFrame, batchId: Long): DataFrame =
    IO.readParquetIfPresent(spark, indexPath) match {
      // exclude this batch's own partition: a crashed earlier attempt of
      // the SAME batch may have landed signatures, and a replay that saw
      // its own fingerprints would drop every document as a duplicate.
      // An index written before the partitioned format has no
      // `ingest_batch` column — every row there predates this batch by
      // construction, so it reads as all-prior-batches instead of
      // crashing the ingest on UNRESOLVED_COLUMN.
      case Some(idx) if idx.columns.contains("ingest_batch") =>
        idx.filter(col("ingest_batch") =!= lit(batchId)).drop("ingest_batch")
      case Some(idx) => idx
      case None => like.filter(lit(false))
    }
}
