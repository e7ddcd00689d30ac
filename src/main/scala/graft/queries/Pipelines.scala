package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{Mp4, Multimodal, Webm}
import graft.pipeline.IncrementalLoad
import graft.sources.IO

/** End-to-end pipeline queries: each runs a whole composed job (write +
  * read-back) inside a scratch directory and returns the final target
  * content, which the DuckDB oracle checks against the equivalent
  * one-shot SQL over the source. This is the strongest correctness form:
  * the oracle sees none of the intermediate machinery, only the contract
  * "after the pipeline, the target equals X".
  */
object Pipelines {

  private def scratch(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.resolve("target").toString
  }

  private val eventCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  // rollup e2e: KMV sketch size for the distinct-user state (small on
  // purpose — most (type, day) keys saturate, exercising the estimator)
  private val RollupK = 16
  // funnel rollup e2e: same chain/window as Extensions' funnel_window
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelWindowSec = 43200L
  private val HllC2: Double = graft.functions.Hll.C2

  // DuckDB has no conv(): widen a 13-hex-digit prefix to its numeric
  // value digit by digit (same helper as Extensions' KMV oracle).
  private def hex13ToDouble(hx: String): String =
    (1 to 13).map { i =>
      val f = 1L << (4 * (13 - i))
      s"(strpos('0123456789abcdef', substr($hx,$i,1))-1)*$f.0"
    }.mkString("(", " + ", ")")

  // cm-rollup e2e: grid geometry + probe size (Extensions' CM query
  // uses its own constants; these are deliberately smaller so the
  // per-source grids collide more)
  private val CmDepth = 4
  private val CmWidth = 256
  private val CmProbeN = 10

  // the 8-hex-digit (first 4 md5 bytes) variant for the CM cell replica
  private def hex8ToInt(hx: String): String =
    (1 to 8).map { i =>
      val f = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substr($hx,$i,1))-1)*$f.0"
    }.mkString("(", " + ", ")")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // v2 flagship (SURVEY.md §3.2): cold start on the first half of the
    // month, then a true incremental run over the full source; final
    // target must equal one lineage-stamped copy of the whole source.
    "pipeline_incremental_e2e" -> ((s, dir) => {
      val src = Tables.load(s, dir, "events")
      val path = scratch("graft_inc")
      val cfg = IncrementalLoad.Config(
        keyCol = "event_id", tsCol = "ts", versionCol = "ts",
        projection = eventCols, sourceName = "superset")
      val firstHalf = src.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      IncrementalLoad.run(s, firstHalf, path, cfg) // cold start (epoch wm)
      IncrementalLoad.run(s, src, path, cfg)       // incremental (wm = max of half)
      IncrementalLoad.readDeduped(s, path, "event_id", "ts")
        .drop("month")
        .select("event_id", "ts", "user_id", "event_type", "value", "props", "source")
        .orderBy("event_id")
    }),

    // v1 (SURVEY.md §3.3): month-truncated watermark + whole-month
    // replacement; second run reloads the watermark month idempotently.
    "pipeline_partition_swap_e2e" -> ((s, dir) => {
      val src = Tables.load(s, dir, "events")
      val path = scratch("graft_swap")
      val cfg = IncrementalLoad.Config(
        keyCol = "event_id", tsCol = "ts", versionCol = "ts",
        projection = eventCols, sourceName = "",
        monthTruncatedWatermark = true)
      IncrementalLoad.run(s, src, path, cfg)
      IncrementalLoad.run(s, src, path, cfg) // idempotent re-run
      IO.readParquet(s, path).drop("month")
        .select(eventCols.map(col): _*)
        .orderBy("event_id")
    }),

    // M-tier OPTIMIZE FINAL (ReplacingMergeTree background merge): two
    // appended generations with explicit versions — gen2 supersedes
    // even-id rows IN PLACE, and for id % 100 = 1 lands in the NEXT
    // month, exercising the per-partition collapse scope (CH merges
    // never cross partitions: those keys keep one row per month).
    // After the rewrite the target must equal the one-shot windowed
    // dedup over the unioned generations.
    "pipeline_optimize_final_e2e" -> ((s, dir) => {
      val src = Tables.load(s, dir, "events")
      val path = scratch("graft_opt")
      val g1 = src.withColumn("ver", lit(1L))
      val g2 = src
        .filter(col("event_id") % 2 === 0 || col("event_id") % 100 === 1)
        .withColumn("ts", when(col("event_id") % 100 === 1,
          col("ts") + expr("INTERVAL 1 MONTH")).otherwise(col("ts")))
        .withColumn("value", col("value") + lit(100.0))
        .withColumn("ver", lit(2L))
      graft.sources.IO.writeFact(g1, path, "ts", "event_id",
        overwritePartitions = false)
      graft.sources.IO.writeFact(g2, path, "ts", "event_id",
        overwritePartitions = false)
      graft.pipeline.Retention.optimizeFinal(s, path, "ts", "event_id", "ver")
        .drop("month")
        .select("event_id", "ts", "user_id", "event_type", "value",
          "props", "ver")
        .orderBy("event_id", "ver")
    }),

    // DQ-gated ingest: a JSON-payload gate routes rows BEFORE the fact
    // write — good rows land in the month-partitioned fact, poison
    // pills in a replayable quarantine archive, and nothing is lost
    // (the union of both targets equals the gated source). Three
    // malformed payloads are planted so the quarantine target is
    // real, not vacuously empty.
    "pipeline_quarantine_e2e" -> ((s, dir) => {
      val planted = s.range(3).select(
        (-col("id") - 1).as("event_id"),
        lit("2024-01-05 00:00:00").cast("timestamp").as("ts"),
        lit(0L).as("user_id"), lit("planted").as("event_type"),
        lit(0.0).as("value"),
        element_at(array(lit("{broken"), lit("not json at all"),
          lit("""{"other": 1}""")), (col("id") + 1).cast("int")).as("props"))
      val src = Tables.load(s, dir, "events")
        .select(eventCols.map(col): _*).unionByName(planted)
      val gated = graft.operators.Quality.jsonQuarantine(src, "props", "k")
      val factPath = scratch("graft_gate")
      val qPath = scratch("graft_gate_q")
      graft.sources.IO.writeFact(
        gated.filter(col("status") === "ok").select(eventCols.map(col): _*),
        factPath, "ts", "event_id", overwritePartitions = false)
      gated.filter(col("status") === "quarantine")
        .select(eventCols.map(col): _*).write.parquet(qPath)
      IO.readParquet(s, factPath).drop("month")
        .select(eventCols.map(col): _*)
        .withColumn("status", lit("ok"))
        .unionByName(
          IO.readParquet(s, qPath).select(eventCols.map(col): _*)
            .withColumn("status", lit("quarantine")))
        .orderBy("event_id")
    }),

    // Summing/AggregatingMergeTree e2e: the stored rollup table holds
    // mergeable partial-aggregate STATE per (event_type, day); three
    // batches split at MID-DAY instants (so day keys straddle batches
    // and genuinely merge) build their own states and fold in with the
    // same reduction — no base-table rescan anywhere. The read-side
    // finalize must equal the one-shot GROUP BY over the whole source:
    // build(all) ≡ merge(build(b₁), build(b₂), build(b₃)).
    "pipeline_rollup_incremental_e2e" -> ((s, dir) => {
      import graft.pipeline.Rollup
      val keys = Seq("event_type", "day")
      val src = Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
      def cut(a: String) = lit(a).cast("timestamp")
      val b1 = src.filter(col("ts") < cut("2024-01-11 12:00:00"))
      val b2 = src.filter(col("ts") >= cut("2024-01-11 12:00:00") &&
        col("ts") < cut("2024-01-21 12:00:00"))
      val b3 = src.filter(col("ts") >= cut("2024-01-21 12:00:00"))
      val base = scratch("graft_rollup")
      Rollup.aggregateState(b1, keys, "value", "user_id", RollupK)
        .write.parquet(s"$base/g1")
      Rollup.merge(Seq(IO.readParquet(s, s"$base/g1"),
        Rollup.aggregateState(b2, keys, "value", "user_id", RollupK)),
        keys, RollupK).write.parquet(s"$base/g2")
      Rollup.merge(Seq(IO.readParquet(s, s"$base/g2"),
        Rollup.aggregateState(b3, keys, "value", "user_id", RollupK)),
        keys, RollupK).write.parquet(s"$base/g3")
      Rollup.finalizeState(IO.readParquet(s, s"$base/g3"), keys, RollupK)
        .orderBy("event_type", "day")
    }),

    // windowFunnel over AggregatingMergeTree state (CH's
    // windowFunnelState combinator): the stored state per (user, day)
    // is the day's (instant, step) event SET — levels are not
    // algebraic across batch splits (a chain can straddle batches),
    // the event set is — and the mid-day batch cuts below slice
    // conversion chains in half on purpose. Finalize explodes the
    // state through the oracle-checked funnel walk; the DuckDB twin
    // runs the greedy replica per (user, day) over the raw source.
    "pipeline_rollup_funnel_e2e" -> ((s, dir) => {
      import graft.pipeline.Rollup
      val keys = Seq("user_id", "day")
      val src = Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
      def cut(a: String) = lit(a).cast("timestamp")
      val b1 = src.filter(col("ts") < cut("2024-01-11 12:00:00"))
      val b2 = src.filter(col("ts") >= cut("2024-01-11 12:00:00") &&
        col("ts") < cut("2024-01-21 12:00:00"))
      val b3 = src.filter(col("ts") >= cut("2024-01-21 12:00:00"))
      val base = scratch("graft_funnel_rollup")
      Rollup.aggregateFunnelState(b1, keys, "ts", "event_type", FunnelSteps)
        .write.parquet(s"$base/g1")
      Rollup.mergeFunnelStates(Seq(IO.readParquet(s, s"$base/g1"),
        Rollup.aggregateFunnelState(b2, keys, "ts", "event_type",
          FunnelSteps)), keys).write.parquet(s"$base/g2")
      Rollup.mergeFunnelStates(Seq(IO.readParquet(s, s"$base/g2"),
        Rollup.aggregateFunnelState(b3, keys, "ts", "event_type",
          FunnelSteps)), keys).write.parquet(s"$base/g3")
      Rollup.finalizeFunnel(IO.readParquet(s, s"$base/g3"), keys,
        FunnelSteps, FunnelWindowSec)
        .orderBy("user_id", "day")
    }),

    // ClickHouse topKState/topKMerge over AggregatingMergeTree: the
    // per-key-day Misra–Gries counter list as mergeable state, folded
    // across three mid-day-split batches through the WEIGHTED sketch
    // (a counter fed as one weighted entry IS the summaries merge).
    // 5 distinct event types ≪ k=32 ⇒ no counter ever decrements ⇒
    // the merged sketch is EXACTLY the one-shot GROUP BY count — the
    // regime the oracle can pin (the KMV-exactness convention).
    "pipeline_rollup_topk_e2e" -> ((s, dir) => {
      import graft.pipeline.Rollup
      val keys = Seq("user_id", "day")
      val src = Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
      def cut(a: String) = lit(a).cast("timestamp")
      val b1 = src.filter(col("ts") < cut("2024-01-11 12:00:00"))
      val b2 = src.filter(col("ts") >= cut("2024-01-11 12:00:00") &&
        col("ts") < cut("2024-01-21 12:00:00"))
      val b3 = src.filter(col("ts") >= cut("2024-01-21 12:00:00"))
      val base = scratch("graft_topk_rollup")
      val k = 32
      Rollup.aggregateTopKState(b1, keys, col("event_type"), k)
        .write.parquet(s"$base/g1")
      Rollup.mergeTopKStates(Seq(IO.readParquet(s, s"$base/g1"),
        Rollup.aggregateTopKState(b2, keys, col("event_type"), k)),
        keys, k).write.parquet(s"$base/g2")
      Rollup.mergeTopKStates(Seq(IO.readParquet(s, s"$base/g2"),
        Rollup.aggregateTopKState(b3, keys, col("event_type"), k)),
        keys, k).write.parquet(s"$base/g3")
      Rollup.finalizeTopK(IO.readParquet(s, s"$base/g3"), keys, 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("user_id", "day", "rnk")
    }),

    // cmState over AggregatingMergeTree: per-SOURCE Count–Min grids
    // maintained across three batch merges (cell-wise integer adds —
    // the unconditionally exact merge of the state family), then
    // point-frequency probes for the global top terms. merge(build(bᵢ))
    // ≡ build(all) by construction, so the one-shot DuckDB grid replica
    // IS the merge proof.
    "pipeline_rollup_cm_e2e" -> ((s, dir) => {
      import graft.pipeline.Rollup
      val keys = Seq("source")
      val toks = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("term"))
      val b1 = toks.filter(col("doc_id") % 3 === 0)
      val b2 = toks.filter(col("doc_id") % 3 === 1)
      val b3 = toks.filter(col("doc_id") % 3 === 2)
      val base = scratch("graft_cm_rollup")
      Rollup.aggregateCmState(b1, keys, col("term"), CmDepth, CmWidth)
        .write.parquet(s"$base/g1")
      Rollup.mergeCmStates(Seq(IO.readParquet(s, s"$base/g1"),
        Rollup.aggregateCmState(b2, keys, col("term"), CmDepth, CmWidth)),
        keys, CmDepth, CmWidth).write.parquet(s"$base/g2")
      Rollup.mergeCmStates(Seq(IO.readParquet(s, s"$base/g2"),
        Rollup.aggregateCmState(b3, keys, col("term"), CmDepth, CmWidth)),
        keys, CmDepth, CmWidth).write.parquet(s"$base/g3")
      val probe = toks.groupBy("term").agg(count(lit(1)).as("gn"))
        .orderBy(col("gn").desc, col("term")).limit(CmProbeN)
      Rollup.finalizeCm(IO.readParquet(s, s"$base/g3"), keys, probe,
        "term", CmDepth, CmWidth)
        .orderBy("source", "term")
    }),

    // Quantile rollup state: the fixed-resolution counting grid
    // (the engine-independent reading of CH quantileState — a
    // reservoir is merge-order-dependent by design) maintained across
    // a 3-batch merge chain; finalize reads p50/p90/p99 brackets.
    // Merge is cell-wise integer adds — unconditionally exact, so the
    // one-shot DuckDB grid checks the whole chain.
    "pipeline_rollup_quantile_e2e" -> ((s, dir) => {
      import graft.pipeline.Rollup
      val keys = Seq("event_type")
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
      val b1 = e.filter(col("event_id") % 3 === 0)
      val b2 = e.filter(col("event_id") % 3 === 1)
      val b3 = e.filter(col("event_id") % 3 === 2)
      val base = scratch("graft_q_rollup")
      Rollup.aggregateQuantileState(b1, keys, col("value"), 0.0, 10.0, 100)
        .write.parquet(s"$base/g1")
      Rollup.mergeQuantileStates(Seq(IO.readParquet(s, s"$base/g1"),
        Rollup.aggregateQuantileState(b2, keys, col("value"), 0.0, 10.0,
          100)), keys).write.parquet(s"$base/g2")
      Rollup.mergeQuantileStates(Seq(IO.readParquet(s, s"$base/g2"),
        Rollup.aggregateQuantileState(b3, keys, col("value"), 0.0, 10.0,
          100)), keys).write.parquet(s"$base/g3")
      Rollup.finalizeQuantile(IO.readParquet(s, s"$base/g3"), keys,
        Seq(0.5, 0.9, 0.99), 0.0, 10.0, 100)
        .orderBy("event_type", "q")
    }),

    // Multimodal plumbing, SQL-expressible slice: binary payload size +
    // checksum (the decode stage itself is exercised in the test suite —
    // deterministic stub, no SQL equivalent).
    "multimodal_binary_meta" -> ((s, dir) => {
      val m = Multimodal.attachBinary(Tables.load(s, dir, "documents"),
        "doc_id", "text")
      m.select(col("doc_id"), col("kind"),
        length(col("media")).cast("long").as("n_bytes"),
        sha2(col("media"), 256).as("checksum"))
        .orderBy("doc_id")
    }),

    // MP4 container metadata: per document, a deterministic
    // (geometry, frame count, cadence) is synthesized into a byte-real
    // ISO BMFF container (Mp4.build) and parsed BACK through the
    // independent box walk (Mp4.parseMeta) — the oracle recomputes the
    // same fields closed-form, so any drift between the builder, the
    // parser, and the spec'd layout breaks the row. Runs as a typed map
    // in the documents scan partition — no shuffle, no driver decode.
    "multimodal_video_meta" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents").select("doc_id").as[Long]
        .map { id =>
          val w = (16 + (id % 16) * 8).toInt
          val h = (16 + (id % 9) * 8).toInt
          val frames = 1 + id % 60
          val delta = 20 + (id % 5) * 10
          val m = Mp4.parseMeta(Mp4.build(w, h, frames, delta))
            .getOrElse(throw new IllegalStateException(
              s"unparseable synthesized mp4 for doc $id"))
          (id, m.brand, m.codec, m.width, m.height, m.n_frames,
            m.duration_ms)
        }
        .toDF("doc_id", "brand", "codec", "width", "height", "n_frames",
          "duration_ms")
        .orderBy("doc_id")
    }),

    // WebM/Matroska container metadata: the EBML twin of
    // multimodal_video_meta — per-doc deterministic geometry/duration
    // synthesized into byte-real EBML (Webm.build), walked back
    // independently (Webm.parseMeta), oracle recomputed closed-form.
    "multimodal_webm_meta" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents").select("doc_id").as[Long]
        .map { id =>
          val w = (32 + (id % 12) * 16).toInt
          val h = (32 + (id % 7) * 16).toInt
          val durMs = 1000L + (id % 90) * 250L
          val m = Webm.parseMeta(Webm.build(w, h, durMs))
            .getOrElse(throw new IllegalStateException(
              s"unparseable synthesized webm for doc $id"))
          (id, m.docType, m.codec, m.width, m.height, m.duration_ms)
        }
        .toDF("doc_id", "doc_type", "codec", "width", "height",
          "duration_ms")
        .orderBy("doc_id")
    }),

    // §2.10 streaming tier: watermarked tumbling-window aggregation run
    // through Structured Streaming (memory sink), checked against the
    // one-shot batch SQL — stream/batch equivalence as an oracle test.
    "streaming_window_counts" -> ((s, dir) => {
      val staged = scratch("graft_stream")
      Tables.load(s, dir, "events").write.parquet(staged)
      val stream = graft.streaming.EventStream.readEvents(s, staged)
      val agg = graft.streaming.EventStream.windowedCounts(stream, "1 day", "1 hour")
      val name = "win_" + math.abs(staged.hashCode).toString
      val q = graft.streaming.EventStream.runToMemory(agg, name)
      try {
        s.table(name)
          .select(col("window.start").as("w"), col("event_type"),
            col("n_events"))
          .orderBy("w", "event_type")
          .localCheckpoint() // detach from the stopped streaming query
      } finally q.stop()
    }),

    // Streaming ⇄ batch dict_get parity: foreachBatch enriches each
    // micro-batch through the SQL dictionary surface (the same
    // codegen'd broadcast probe the batch J1 row uses) and appends to
    // the target. The final target must equal the one-shot batch
    // enrichment — the last seam between the two tiers closed by an
    // oracle row, and the shape a DictionaryRefresh-driven streaming
    // job has between dictionary reloads.
    "streaming_dict_enrich" -> ((s, dir) => {
      graft.functions.Dictionaries.create(s, "sd_customers",
        Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment"), "c_custkey")
      val staged = scratch("graft_sdict_src")
      Tables.load(s, dir, "events").write.parquet(staged)
      val target = scratch("graft_sdict_out")
      val q = graft.streaming.EventStream.readEvents(s, staged)
        .writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", scratch("graft_sdict_ckpt"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.selectExpr("event_id", "user_id",
            "dict_get_or_default('sd_customers', 'c_name', user_id, " +
              "'undefined') AS user_name",
            "dict_get_or_default('sd_customers', 'c_mktsegment', " +
              "user_id, 'undefined') AS segment")
            .write.mode("append").parquet(target)
        }.start()
      q.awaitTermination()
      IO.readParquet(s, target).orderBy("event_id")
    }),

    // S7: CSV bulk load with the reference dialect (header, ';', NULL
    // literal, quoting disabled — hook:92-112) — write+read round trip
    // must be lossless against the source.
    // Z-order clustered write (multi-dim pruning layout): content must
    // round-trip exactly; ZOrderSpec separately measures the per-file
    // span narrowing that makes the layout worth paying for.
    "zorder_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val path = scratch("graft_zorder")
      graft.sources.IO.writeZOrdered(e, path, Seq("user_id", "value"),
        bits = 4, numFiles = 8)
      IO.readParquet(s, path).orderBy("event_id")
    }),

    "csv_bulk_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_csv")
      graft.sources.IO.writeReferenceCsv(e, path)
      graft.sources.IO.readReferenceCsv(s, path,
        graft.streaming.EventStream.eventsSchema)
        .orderBy("event_id")
    }),

    // ORC interchange: the columnar lake format beside parquet (what a
    // Hive/Trino consumer reads natively) — schema-enforced read, µs
    // timestamps native, stripe-splittable. Content must round-trip
    // losslessly.
    "orc_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_orc")
      graft.sources.IO.writeOrc(e, path)
      graft.sources.IO.readOrc(s, path, e.schema)
        .orderBy("event_id")
    }),

    // ClickHouse FORMAT JSONEachRow: the same bulk-interchange contract
    // as the CSV dialect (µs timestamps, explicit nulls, schema-enforced
    // read) over CH's default row-stream format.
    "jsoneachrow_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_jsoneachrow")
      graft.sources.IO.writeJsonEachRow(e, path)
      graft.sources.IO.readJsonEachRow(s, path,
        graft.streaming.EventStream.eventsSchema)
        .orderBy("event_id")
    }),

    // ClickHouse FORMAT RowBinary: the native-protocol bulk transport
    // (hook:27-40,92-112) — LE fixed-width numerics, LEB128-length
    // strings, DateTime64(6) µs, Nullable flag bytes; unsplittable by
    // construction, so parallelism is per-file (one per partition).
    "rowbinary_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_rowbinary")
      graft.sources.RowBinary.write(e, path)
      // the read schema is the wire contract — nullability decides the
      // flag-byte layout, so it must be the writer's exact StructType
      graft.sources.RowBinary.read(s, path, e.schema)
        .orderBy("event_id")
    }),

    // ClickHouse FORMAT Native: the columnar block dump (what
    // clickhouse-client --format Native moves) — self-describing
    // (name, type) headers verified on read, null maps + type defaults,
    // 64 Ki-row blocks; small blockRows here so the multi-block path is
    // what the oracle actually checks.
    "native_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_native")
      graft.sources.Native.write(e, path, blockRows = 4096)
      graft.sources.Native.read(s, path, e.schema)
        .orderBy("event_id")
    }),

    // RowBinary Decimal lanes: a money-typed lineitem slice rides the
    // transport as Decimal32/64/128 (unscaled LE ints sized by
    // precision) and must round-trip value-exactly. The exactness proof
    // stays IN-QUERY at decimal precision — the round-trip joins back
    // to the source and any scale-exact inequality surfaces as
    // mismatch=1, hash-failing against the oracle's literal 0. The
    // OUTPUT columns then bridge to DOUBLE (exact for these integral
    // quantities): the driver value-hashes the dumped parquet against
    // DuckDB, where a true decimal128 column vs DuckDB's float64 would
    // hash-differ on REPRESENTATION even with equal values (round 12's
    // one red row). Wire-format bytes stay pinned by the golden-byte
    // codec specs in RowBinarySpec.
    "rowbinary_decimal_roundtrip" -> ((s, dir) => {
      // one row per order (the synthetic fixture's (orderkey, linenumber)
      // is NOT unique, so the raw grain has no join-back key): per-order
      // quantity sums are integral and ≤ a few hundred, so every cast —
      // and the DOUBLE bridge below — is exact
      val li = Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("q"))
        .select(col("l_orderkey"),
          col("q").cast("decimal(9,2)").as("qty_d32"),
          col("q").cast("decimal(18,4)").as("qty_d64"),
          (-col("q")).cast("decimal(38,10)").as("qty_d128"))
      val path = scratch("graft_rowbinary_dec")
      graft.sources.RowBinary.write(li, path)
      val back = graft.sources.RowBinary.read(s, path, li.schema)
      val src = li.select(col("l_orderkey").as("ok"),
        col("qty_d32").as("s32"), col("qty_d64").as("s64"),
        col("qty_d128").as("s128"))
      back.join(src, col("l_orderkey") === col("ok"))
        .select(col("l_orderkey"),
          col("qty_d32").cast("double").as("qty_d32"),
          col("qty_d64").cast("double").as("qty_d64"),
          col("qty_d128").cast("double").as("qty_d128"),
          (col("qty_d32") =!= col("s32") || col("qty_d64") =!= col("s64") ||
            col("qty_d128") =!= col("s128")).cast("int").as("mismatch"))
        .orderBy("l_orderkey")
    }),

    // ClickHouse FORMAT TSVWithNamesAndTypes: the text dialect with
    // two verified header rows (names, CH types), CH TSV escaping and
    // \N nulls — what clickhouse-client pipes to tooling.
    "tsv_roundtrip" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val path = scratch("graft_tsv")
      graft.sources.Tsv.write(e, path)
      graft.sources.Tsv.read(s, path, e.schema)
        .orderBy("event_id")
    }),

    // S10/S11: multi-statement script runner with {{ params.* }}
    // substitution (op:36-55) — DDL (temp view) then query.
    "ddl_script_runner" -> ((s, dir) =>
      graft.sources.IO.runScript(s,
        """CREATE OR REPLACE TEMP VIEW sr_li AS
          |  SELECT * FROM parquet.`{{ params.dir }}/lineitem.parquet`;
          |SELECT l_returnflag, count(*) AS n FROM sr_li
          |  GROUP BY l_returnflag ORDER BY l_returnflag;
          |""".stripMargin,
        Map("dir" -> dir)).get))

  val oracle: Map[String, String] = Map(
    "pipeline_incremental_e2e" ->
      """SELECT event_id, ts, user_id, event_type, value, props, 'superset' AS source
        |FROM events ORDER BY event_id""".stripMargin,
    "pipeline_partition_swap_e2e" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "pipeline_optimize_final_e2e" ->
      """WITH g1 AS (
        |  SELECT event_id, ts, user_id, event_type, value, props, 1 AS ver
        |  FROM events),
        |g2 AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 100 = 1 THEN ts + INTERVAL 1 MONTH
        |              ELSE ts END AS ts,
        |         user_id, event_type, value + 100.0 AS value, props, 2 AS ver
        |  FROM events WHERE event_id % 2 = 0 OR event_id % 100 = 1),
        |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |d AS (SELECT *, row_number() OVER (
        |        PARTITION BY date_trunc('month', ts), event_id
        |        ORDER BY ver DESC) AS rn FROM u)
        |SELECT event_id, ts, user_id, event_type, value, props, CAST(ver AS BIGINT) AS ver
        |FROM d WHERE rn = 1 ORDER BY event_id, ver""".stripMargin,
    "pipeline_quarantine_e2e" ->
      """WITH src AS (
        |  SELECT event_id, ts, user_id, event_type, value, props FROM events
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), TIMESTAMP '2024-01-05 00:00:00',
        |     CAST(0 AS BIGINT), 'planted', 0.0, '{broken'),
        |    (CAST(-2 AS BIGINT), TIMESTAMP '2024-01-05 00:00:00',
        |     CAST(0 AS BIGINT), 'planted', 0.0, 'not json at all'),
        |    (CAST(-3 AS BIGINT), TIMESTAMP '2024-01-05 00:00:00',
        |     CAST(0 AS BIGINT), 'planted', 0.0, '{"other": 1}'))
        |    v(event_id, ts, user_id, event_type, value, props))
        |SELECT event_id, ts, user_id, event_type, value, props,
        |  CASE WHEN json_valid(props)
        |            AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |                IS NOT NULL
        |       THEN 'ok' ELSE 'quarantine' END AS status
        |FROM src ORDER BY event_id""".stripMargin,
    "pipeline_rollup_incremental_e2e" -> {
      import graft.functions.Rounding
      s"""WITH base AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, value,
         |         CAST(user_id AS VARCHAR) AS uv FROM events),
         |sc AS (
         |  SELECT event_type, day, count(*) AS n,
         |         sum(CAST(${Rounding.sqlPround("value", 9)} AS DECIMAL(38,12))) AS sum_d,
         |         min(value) AS min_v, max(value) AS max_v
         |  FROM base GROUP BY 1, 2),
         |dv AS (SELECT DISTINCT event_type, day, md5(uv) AS h FROM base),
         |kth AS (
         |  SELECT event_type, day, count(*) AS n_seen, max(h) AS kth FROM (
         |    SELECT event_type, day, h, row_number() OVER (
         |      PARTITION BY event_type, day ORDER BY h) AS r
         |    FROM dv) WHERE r <= $RollupK GROUP BY 1, 2),
         |est AS (
         |  SELECT event_type, day, n_seen,
         |         ${hex13ToDouble("kth")} / 4503599627370496.0 AS frac
         |  FROM kth),
         |fin AS (
         |  SELECT event_type, day,
         |         CASE WHEN n_seen < $RollupK OR frac <= 0.0 THEN n_seen
         |              ELSE CAST(floor(${RollupK - 1}.0 / frac + 0.5) AS BIGINT)
         |         END AS distinct_est
         |  FROM est),
         |hr AS (
         |  SELECT event_type, day,
         |         CAST((strpos('0123456789abcdef', substr(h,1,1))-1)*16
         |              + (strpos('0123456789abcdef', substr(h,2,1))-1)
         |              AS INT) AS bucket,
         |         CAST(${hex13ToDouble("substr(h,3,13)")} AS BIGINT) AS w
         |  FROM dv),
         |hreg AS (
         |  SELECT event_type, day, bucket,
         |         max(CASE WHEN w = 0 THEN 53
         |                  ELSE 53 - length(bin(w)) END) AS m_j
         |  FROM hr GROUP BY 1, 2, 3),
         |hgr AS (
         |  SELECT event_type, day,
         |         sum(CAST(power(2, 53 - m_j) AS BIGINT)) AS s_occ,
         |         count(*) AS occ
         |  FROM hreg GROUP BY 1, 2),
         |hest AS (
         |  SELECT event_type, day,
         |         CASE WHEN ($HllC2 / CAST(s_occ + (256 - occ) * 9007199254740992 AS DOUBLE)) <= 640.0
         |                   AND (256 - occ) > 0
         |              THEN ${Rounding.sqlPround("256.0 * ln(256.0 / CAST(256 - occ AS DOUBLE))", 6)}
         |              ELSE ${Rounding.sqlPround(s"$HllC2 / CAST(s_occ + (256 - occ) * 9007199254740992 AS DOUBLE)", 6)}
         |         END AS hll_reg_est
         |  FROM hgr),
         |nd AS (SELECT event_type, day, count(*) AS n_dist FROM dv
         |       GROUP BY 1, 2)
         |SELECT s.event_type, s.day, s.n,
         |       ${Rounding.sqlPround("CAST(sum_d AS DOUBLE)", 6)} AS sum_v,
         |       min_v, max_v,
         |       ${Rounding.sqlPround("CAST(sum_d AS DOUBLE) / n", 6)} AS avg_v,
         |       f.distinct_est,
         |       CASE WHEN d.n_dist <= 256 THEN CAST(d.n_dist AS DOUBLE)
         |            ELSE h.hll_reg_est END AS hll_distinct_est,
         |       CASE WHEN d.n_dist <= 256 THEN 'sparse'
         |            ELSE 'dense' END AS hll_mode
         |FROM sc s JOIN fin f USING (event_type, day)
         |          JOIN hest h USING (event_type, day)
         |          JOIN nd d USING (event_type, day)
         |ORDER BY event_type, day""".stripMargin
    },
    // Greedy funnel replica PER (user, day) — chains confined to the
    // day's events, exactly what the stored per-key-day state holds.
    "pipeline_rollup_topk_e2e" ->
      s"""WITH c AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |             event_type AS item, count(*) AS cnt
         |           FROM events GROUP BY 1, 2, 3),
         |r AS (SELECT user_id, day, item, cnt,
         |        row_number() OVER (PARTITION BY user_id, day
         |          ORDER BY cnt DESC, item) AS rnk
         |      FROM c)
         |SELECT user_id, day, item, CAST(cnt AS BIGINT) AS cnt,
         |       CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3
         |ORDER BY user_id, day, rnk""".stripMargin,
    "pipeline_rollup_quantile_e2e" ->
      """WITH v AS (SELECT event_type, value FROM events
        |           WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |        CASE WHEN floor((value - 0.0)/10.0) < 0 THEN CAST(-1 AS BIGINT)
        |             WHEN floor((value - 0.0)/10.0) >= 100 THEN CAST(100 AS BIGINT)
        |             ELSE CAST(floor((value - 0.0)/10.0) AS BIGINT) END AS bucket
        |      FROM v),
        |g AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT event_type, bucket,
        |        sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |          ROWS UNBOUNDED PRECEDING) AS cum,
        |        sum(cnt) OVER (PARTITION BY event_type) AS n
        |      FROM g),
        |qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
        |       UNION ALL SELECT CAST(0.9 AS DOUBLE)
        |       UNION ALL SELECT CAST(0.99 AS DOUBLE)),
        |sel AS (SELECT c.event_type, qs.q, min(c.bucket) AS bucket
        |        FROM c, qs WHERE c.cum >= ceil(qs.q * c.n) GROUP BY 1, 2)
        |SELECT event_type, bucket, q,
        |  CASE WHEN bucket >= 0
        |       THEN CAST(0.0 + bucket * 10.0 AS DOUBLE) END AS lo_edge,
        |  CASE WHEN bucket < 100
        |       THEN CAST(0.0 + (bucket + 1) * 10.0 AS DOUBLE) END AS up_edge
        |FROM sel ORDER BY event_type, q""".stripMargin,
    // one-shot grid replica: per-source md5-celled counts, probe = min
    // over depth rows with empty cells at 0 (the grid's default)
    "pipeline_rollup_cm_e2e" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
         |              FROM documents),
         |t AS (SELECT source, term, count(*) AS n FROM toks GROUP BY 1, 2),
         |rj AS (SELECT source, term, n,
         |         unnest(generate_series(0, ${CmDepth - 1})) AS j FROM t),
         |cm AS (SELECT source, j,
         |         CAST(${hex8ToInt("substr(md5(term || ':cm' || CAST(j AS VARCHAR)), 1, 8)")} % $CmWidth AS BIGINT) AS cell,
         |         n FROM rj),
         |cells AS (SELECT source, j, cell, CAST(sum(n) AS BIGINT) AS cnt
         |          FROM cm GROUP BY 1, 2, 3),
         |gtot AS (SELECT term, count(*) AS gn FROM toks GROUP BY 1),
         |top AS (SELECT term FROM gtot ORDER BY gn DESC, term LIMIT $CmProbeN),
         |probe AS (SELECT s.source, tp.term, j.j,
         |            CAST(${hex8ToInt("substr(md5(tp.term || ':cm' || CAST(j.j AS VARCHAR)), 1, 8)")} % $CmWidth AS BIGINT) AS cell
         |          FROM (SELECT DISTINCT source FROM documents) s
         |          CROSS JOIN top tp
         |          CROSS JOIN generate_series(0, ${CmDepth - 1}) j(j)),
         |est AS (SELECT p.source, p.term,
         |          min(COALESCE(c.cnt, 0)) AS cm_est
         |        FROM probe p LEFT JOIN cells c
         |          ON c.source = p.source AND c.j = p.j AND c.cell = p.cell
         |        GROUP BY 1, 2)
         |SELECT source, term, cm_est FROM est
         |ORDER BY source, term""".stripMargin,
    "pipeline_rollup_funnel_e2e" -> {
      val wUs = FunnelWindowSec * 1000000L
      s"""WITH ev AS (SELECT user_id AS k, CAST(ts AS DATE) AS day,
         |                   epoch_us(ts) AS t, event_type FROM events),
         |s1 AS (SELECT DISTINCT k, day, t AS t1 FROM ev
         |       WHERE event_type = '${FunnelSteps(0)}'),
         |c2 AS (SELECT s1.k, s1.day, s1.t1, min(e.t) AS t2
         |       FROM s1 LEFT JOIN ev e ON e.k = s1.k AND e.day = s1.day
         |         AND e.event_type = '${FunnelSteps(1)}' AND e.t > s1.t1
         |       GROUP BY 1, 2, 3),
         |c3 AS (SELECT c2.k, c2.day, c2.t1, c2.t2, min(e.t) AS t3
         |       FROM c2 LEFT JOIN ev e ON e.k = c2.k AND e.day = c2.day
         |         AND e.event_type = '${FunnelSteps(2)}'
         |         AND c2.t2 IS NOT NULL AND e.t > c2.t2
         |       GROUP BY 1, 2, 3, 4),
         |lv AS (SELECT k, day,
         |              CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $wUs THEN 3
         |                   WHEN t2 IS NOT NULL AND t2 - t1 <= $wUs THEN 2
         |                   ELSE 1 END AS level
         |       FROM c3)
         |SELECT k AS user_id, day, CAST(max(level) AS INT) AS funnel_level
         |FROM lv GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin
    },
    "multimodal_binary_meta" ->
      """SELECT doc_id, 'application/x-fake' AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "streaming_window_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w, event_type,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    "streaming_dict_enrich" ->
      """SELECT e.event_id, e.user_id,
        |       coalesce(c.c_name, 'undefined') AS user_name,
        |       coalesce(c.c_mktsegment, 'undefined') AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "csv_bulk_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "jsoneachrow_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "orc_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "rowbinary_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "native_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "tsv_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events ORDER BY event_id",
    "rowbinary_decimal_roundtrip" ->
      """WITH agg AS (
        |  SELECT l_orderkey, sum(l_quantity) AS q
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |       CAST(CAST(q AS DECIMAL(9,2)) AS DOUBLE) AS qty_d32,
        |       CAST(CAST(q AS DECIMAL(18,4)) AS DOUBLE) AS qty_d64,
        |       CAST(CAST(-q AS DECIMAL(38,10)) AS DOUBLE) AS qty_d128,
        |       0 AS mismatch
        |FROM agg ORDER BY l_orderkey""".stripMargin,
    "multimodal_webm_meta" ->
      """SELECT doc_id, 'webm' AS doc_type, 'V_VP9' AS codec,
        |       CAST(32 + (doc_id % 12) * 16 AS INT) AS width,
        |       CAST(32 + (doc_id % 7) * 16 AS INT) AS height,
        |       CAST(1000 + (doc_id % 90) * 250 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_video_meta" ->
      """SELECT doc_id, 'isom' AS brand, 'avc1' AS codec,
        |       CAST(16 + (doc_id % 16) * 8 AS INT) AS width,
        |       CAST(16 + (doc_id % 9) * 8 AS INT) AS height,
        |       CAST(1 + doc_id % 60 AS BIGINT) AS n_frames,
        |       CAST((1 + doc_id % 60) * (20 + (doc_id % 5) * 10) AS BIGINT)
        |         AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "zorder_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value FROM events ORDER BY event_id",
    "ddl_script_runner" ->
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
}
