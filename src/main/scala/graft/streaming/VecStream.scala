package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Streaming embedding ingest: the vector-side twin of [[DocStream]].
  * Embeddings stream in (directory source here; Kafka/queue at scale)
  * and every micro-batch is encoded against the STORED index model —
  * cell assignment vs the broadcast centroids, PQ codes from the
  * literal codebooks — exactly the [[Similarity.appendVectors]] math,
  * so per-batch cost is ∝ |batch| and the quantizer never retrains on
  * the hot path.
  *
  * Landing differs from appendVectors on purpose: a bucketed-table
  * append is not replay-safe, so micro-batches land in
  * `ingest_batch=<batchId>` partitions under `streamPath` with dynamic
  * partition overwrite — the [[DocStream]] exactly-once shape: a batch
  * replayed after a crash at ANY point overwrites its own partition
  * instead of appending a duplicate copy. The [[EventStream]] commit
  * markers remain a fast-skip, not load-bearing.
  *
  * Queries union the bucketed base table with the streamed partitions
  * through [[Similarity.ivfPqTopKOverRows]] — old and new vectors are
  * scored identically because they were encoded identically. When the
  * streamed tail grows large, fold it in by re-running
  * `writeVectorIndex` over the full corpus (cheap now that training is
  * bounded) or batch-append it via `appendVectors` and clear the
  * stream path during a maintenance window.
  */
object VecStream {

  /** Fixture `embeddings` schema for the directory stream source. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def readVectors(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(vecSchema).parquet(dir)

  /** Ingest sink: every micro-batch encodes against `indexTable`'s
    * stored model and lands in its own partition under `streamPath`.
    */
  def ingestSink(vecs: DataFrame, indexTable: String,
                 streamPath: String): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty &&
            !EventStream.isCommitted(spark, streamPath, batchId)) {
          ingestBatch(batch, indexTable, streamPath, batchId)
          EventStream.markCommitted(spark, streamPath, batchId)
        }
      }

  /** One micro-batch (also the testable batch-mode entry): encode with
    * the stored model, land idempotently. Returns rows landed. The
    * caller owns id uniqueness across batches (the appendVectors
    * contract); a replay of the SAME batch is safe by construction.
    */
  def ingestBatch(batch: DataFrame, indexTable: String, streamPath: String,
                  batchId: Long = 0L): Long = {
    val spark = batch.sparkSession
    val centDf = spark.table(indexTable + "_centroids")
    val (books, residual) = Similarity.readCodebooksAndMode(spark, indexTable)
    val coreEncoded = Similarity.encodeForIndex(batch, "vec_id", "embedding",
      centDf, books, residual)
    // payload-carrying base index (built with metaCols): streamed rows
    // must carry the payload too or the query-side unionByName dies
    // opaquely — same contract and same join as appendVectors
    val metaCols = spark.table(indexTable).columns.toSeq
      .filterNot(Similarity.ReservedCoreIndexCols.contains)
    val missing = metaCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"ingestBatch: index '$indexTable' carries metadata columns " +
        s"[${metaCols.mkString(", ")}] but the batch lacks " +
        s"[${missing.mkString(", ")}] — stream the payload with the " +
        "vectors (the index is payload-carrying)")
    val encoded = (
      if (metaCols.isEmpty) coreEncoded
      else coreEncoded.join(
        batch.select(col("vec_id").as("cand_id") +: metaCols.map(col): _*),
        Seq("cand_id"))).persist()
    try {
      val n = encoded.count()
      if (n > 0) {
        encoded.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(streamPath)
      }
      n
    } finally encoded.unpersist(blocking = false)
  }

  /** Streamed index rows for the query-side union; empty when nothing
    * has streamed yet ([[graft.sources.IO.readParquetIfPresent]]) —
    * anything else fails loudly.
    */
  def readStreamed(spark: SparkSession, streamPath: String,
                   indexTable: String): DataFrame =
    graft.sources.IO.readParquetIfPresent(spark, streamPath)
      .map(_.drop("ingest_batch"))
      .getOrElse(spark.table(indexTable).limit(0))

  /** Top-k over base + streamed rows uniformly. */
  def topK(spark: SparkSession, indexTable: String, streamPath: String,
           queries: DataFrame, k: Int, nprobe: Int,
           overquery: Int = 5): DataFrame = {
    val indexed = spark.table(indexTable)
      .unionByName(readStreamed(spark, streamPath, indexTable))
    Similarity.ivfPqTopKOverRows(indexed,
      spark.table(indexTable + "_centroids"),
      Similarity.readCodebooksAndMode(spark, indexTable),
      queries, "vec_id", "embedding", k, nprobe, overquery)
  }
}
