package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational, Similarity}

/** Degenerate-input robustness: empty frames, empty text, mismatched
  * keys. These paths run unattended in production pipelines (a day with
  * zero new rows is normal), so none of them may throw.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyEvents =
    Tables.load(spark, sf, "events").filter(lit(false))

  test("dedup/watermark/filters on an empty frame") {
    assert(Relational.dedupLatest(emptyEvents, Seq("event_id"), "ts").count() == 0)
    assert(Relational.watermark(emptyEvents, "ts").toString.startsWith("2000-01-01"))
    assert(Relational.newerThan(emptyEvents, "ts", "2024-01-01 00:00:00").count() == 0)
    assert(Relational.debounce(emptyEvents, Seq("user_id"), "ts", 60).count() == 0)
  }

  test("text operators on empty and single-word documents") {
    val docs = Seq((1L, ""), (2L, "word"), (3L, "a b")).toDF("doc_id", "text")
    val sh = docs.select(graft.functions.TextFunctions
      .wordShingles($"text", 5).as("s")).as[Seq[String]].collect()
    assert(sh.forall(_.nonEmpty)) // guard yields whole-text shingle
    assert(Dedup.exact(docs, "doc_id", "text").count() == 3)
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5).count() == 0)
    val q = docs.select(graft.functions.TextFunctions.qualityScore($"text").as("q"))
      .as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("null/degenerate documents in the training-tier operators") {
    import graft.operators.{LineDedup, Packing, Quality, Sampling}
    val docs = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "the a of to and in is it that"))
      .toDF("doc_id", "text")
    // null text is rejected explicitly, never "keep"
    val v = Quality.verdict(docs, "doc_id", "text",
      Quality.Thresholds(minTokens = 1, allowedLangs = Seq("en", "unknown")))
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(v(1L) == "null_text")
    assert(v(3L) == "keep")
    val kept = Quality.clean(docs, "doc_id", "text",
      Quality.Thresholds(minTokens = 1, allowedLangs = Seq("en", "unknown")))
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(1L) && kept.contains(3L))
    // null split keys land in train, not null
    val s = docs.select(Sampling.splitLabel(lit(null).cast("string"), 16, 32)
      .as("sp")).distinct().as[String].collect().toSeq
    assert(s == Seq("train"))
    // null line arrays: doc reported with zero lines, no null arithmetic
    val ld = LineDedup.dedupLines(
      Seq((1L, Array("x y z")), (2L, null.asInstanceOf[Array[String]]))
        .toDF("doc_id", "lines"), "doc_id", $"lines", maxDocs = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(ld(2L) == ((0L, 0L)))
    // zero-token documents do not corrupt packing offsets
    val p = Packing.packBins(
      Seq((1L, "g", 5L), (2L, "g", 0L), (3L, "g", 5L)).toDF("doc_id", "g", "n"),
      "doc_id", "g", col("n"), budget = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(p == Map(1L -> 0L, 2L -> 5L, 3L -> 5L))
  }

  test("contamination with an empty eval set returns empty, not error") {
    import graft.operators.Contamination
    val docs = Seq((1L, "some training text here that is long enough"),
      (2L, "other training text entirely")).toDF("doc_id", "text")
    val out = Contamination.overlap(docs, "doc_id", "text", n = 3,
      lit(false), minContainment = 0.1)
    assert(out.count() == 0)
  }

  test("similarity with an empty query set returns empty, not error") {
    val emb = Tables.load(spark, sf, "embeddings")
    val out = Similarity.bruteForceTopK(emb,
      emb.filter(lit(false)), "vec_id", "embedding", 5)
    assert(out.count() == 0)
  }

  test("incremental load with an empty source is a no-op") {
    val path = tempDir("empty_inc")
    val cfg = graft.pipeline.IncrementalLoad.Config(
      "event_id", "ts", "ts",
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"), "s")
    val events = Tables.load(spark, sf, "events")
    graft.pipeline.IncrementalLoad.run(spark, events, path, cfg)
    val before = spark.read.parquet(path).count()
    // second run: nothing newer than the watermark → write of 0 rows,
    // a batch only found empty at run time (AQE reports no metrics row)
    assert(graft.pipeline.IncrementalLoad.run(spark, events, path, cfg) == 0)
    assert(spark.read.parquet(path).count() == before)
  }

  test("profile of an empty frame reports zero rows without throwing") {
    val p = graft.operators.Profile.profile(
      emptyEvents.select("event_id", "event_type"))
    assert(p.count() == 2)
    assert(p.select("n_rows").distinct().as[Long].head() == 0)
  }

  test("bm25 with an empty query predicate returns empty, not error") {
    val d = Tables.load(spark, sf, "documents")
    val out = graft.operators.Retrieval.bm25TopK(d, "doc_id", "text",
      lit(false), 3)
    assert(out.count() == 0)
    out.unpersist()
  }

  test("weighted sample with n above the population returns everything " +
    "with positive weight") {
    val df = Seq((1L, 3L), (2L, 0L), (3L, 9L)).toDF("id", "w")
    val got = graft.operators.Sampling.weightedSample(df, "id", "w",
      100, "s").select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("compact of a missing or empty directory is a no-op (0, 0)") {
    val missing = tempDir("compact_missing")
    assert(graft.pipeline.Retention.compact(spark, missing) == (0, 0))
    val empty = tempDir("compact_empty")
    new java.io.File(empty).mkdirs()
    assert(graft.pipeline.Retention.compact(spark, empty) == (0, 0))
  }

  test("z-order on a constant column degenerates gracefully (all rows " +
    "one bucket, content intact)") {
    val df = Seq((1L, 5L, 1.0), (2L, 5L, 2.0), (3L, 5L, 3.0))
      .toDF("id", "const_col", "v")
    val path = tempDir("zorder_const")
    graft.sources.IO.writeZOrdered(df, path, Seq("const_col", "v"),
      bits = 2, numFiles = 2)
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    assert(back.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("SCD2 and decay operators on empty/degenerate frames") {
    import graft.operators.{Scd, Temporal}
    val emptyChanges = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("key", "ts", "attr")
    // empty change log -> empty history; snapshot onto it opens
    // every key fresh
    val h0 = Scd.buildHistory(emptyChanges, "key", "ts", Seq("attr"))
    assert(h0.count() == 0)
    val opened = Scd.applySnapshot(h0, Seq((1L, "a")).toDF("key", "attr"),
      "key", Seq("attr"), "2024-01-01 00:00:00")
      .as[(Long, String, java.sql.Timestamp,
        Option[java.sql.Timestamp], Boolean)].collect()
    assert(opened.length == 1 && opened(0)._5 && opened(0)._4.isEmpty)
    // diff of two empties is empty; one-sided diffs classify whole
    val d = Scd.snapshotDiff(emptyChanges.select($"key", $"attr"),
      Seq((1L, "x")).toDF("key", "attr"), Seq("key"), Seq("attr"))
      .select($"key", $"change").as[(Long, String)].collect()
    assert(d.toSeq == Seq((1L, "insert")))
    // single-event key: running counter is its own value; empty frame
    // flows through both decay forms without throwing
    val one = Seq((1L, 1L, java.sql.Timestamp.valueOf(
      "2024-01-01 00:00:00"), 3.5)).toDF("event_id", "key", "ts", "value")
    assert(Temporal.decayedRunning(one, "key", "ts", "value", 3600L,
      tieBreak = Seq("event_id"))
      .select("decayed_running").as[Double].head() == 3.5)
    val emptyEv = one.filter(lit(false))
    assert(Temporal.decayedRunning(emptyEv, "key", "ts", "value", 3600L)
      .count() == 0)
    assert(Temporal.decayedAgg(emptyEv, "key", "ts", "value", 3600L,
      "2024-01-01 00:00:00").count() == 0)
    // empty corpus -> empty bin table, not a divide-by-zero
    assert(graft.operators.Profile.scoreBinnedMix(
      Seq.empty[(Long, Double, Long)].toDF("id", "score", "ntok"),
      $"score", Seq(0.5), $"ntok").count() == 0)
  }

  test("round-9 data-quality operators flow empty frames through " +
      "without throwing (the decayedRunning-NPE lesson applied up front)") {
    import graft.operators.{Profile, Quality, Temporal}
    val e = emptyEvents
    assert(Profile.madOutliers(
      e.select("event_id", "event_type", "value"),
      "event_type", "value").count() == 0)
    assert(Profile.psi(e, col("event_type"), "value", Seq(1.0)).count() == 0)
    assert(Quality.jsonQuarantine(
      e.select("event_id", "props"), "props", "k").count() == 0)
    // empty frame: the bounds guard sees a NULL worst span, not an NPE
    assert(Temporal.resampleFfill(e, "user_id", "ts", "value",
      stepSec = 3600L).count() == 0)
    val emptyVecs = Tables.load(spark, sf, "embeddings").filter(lit(false))
    assert(Profile.centroidDrift(emptyVecs, "label", "embedding")
      .count() == 0)
    val emptyMix = Seq.empty[(String, Long)].toDF("source", "n_tokens")
    assert(Profile.epochPlan(emptyMix, "source", "n_tokens",
      1.0, 100L, 1.0).count() == 0)
  }

  test("round-9 sequence/sketch/budget operators flow empty frames " +
      "through without throwing") {
    import graft.operators.{Profile, Sampling, Sequence}
    val e = emptyEvents
    assert(Sequence.matchSpanning(e, "user_id", "ts",
      Seq(col("event_type") === "signup", col("event_type") === "view"))
      .count() == 0)
    assert(Sequence.countAdjacentPairs(e, "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "click")
      .count() == 0)
    assert(Profile.hllEstimate(e, "event_type", col("user_id"))
      .count() == 0)
    assert(Profile.hllOverlapMatrix(e, "event_type", col("user_id"))
      .count() == 0)
    val emptyDocs = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "source", "toks")
    assert(Profile.weightedQuantiles(
      emptyDocs.withColumn("n_chars", lit(1)),
      "source", "n_chars", "toks", Seq(0.5)).count() == 0)
    assert(Sampling.tokenBudgetSelect(emptyDocs, "source", "doc_id",
      "toks", 100L, "s").count() == 0)
    // a key whose events match NO condition yields no row, not a null
    val noMatch = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      "error", 1L)).toDF("user_id", "ts", "event_type", "event_id")
    assert(Sequence.countAdjacentPairs(noMatch, "user_id", "ts", "event_id",
      col("event_type") === "view", col("event_type") === "click")
      .count() == 0)
  }
}
