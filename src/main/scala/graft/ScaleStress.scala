package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale sanity: amplifies the fixtures (20x events = 2M rows, 10x
  * embeddings = 20k vectors, 10x documents = 50k docs in 10-near-dup
  * cliques) into a temp dir and times the flagship paths, to check the
  * operators scale with data — plus PASS/FAIL bounds on the guard
  * paths (LSH hot-bucket star, image hot-bucket star, df-cap): the
  * 100×-shape evidence, reproducible with one command each round.
  *
  * Two entry points: [[main]] for ad-hoc runs, and [[run]] which the
  * bench invokes when `SPARK_GRAFT_STRESS=1` so the per-round
  * BENCH.json carries a `stress` section with the same numbers.
  */
object ScaleStress {

  final case class StressResult(label: String, sec: Double, ok: Boolean,
                                spillBytes: Long = 0L,
                                peakExecMem: Long = 0L)

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32, "scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    val results = run(spark, "/root/testdata/sf0.1")
    results.foreach(r =>
      println(f"STRESS ${if (r.ok) "ok " else "FAIL"} ${r.label} ${r.sec}%.2f s" +
        f" spill=${r.spillBytes} peak=${r.peakExecMem}"))
    // Landed as a per-round artifact (committed STRESS.json) so every
    // round carries machine-checkable proof the guard bounds ran — the
    // same file-landing rule as Bench's BENCH.json.
    val entries = results.map(r =>
      RunMetrics.jsonString(r.label) + ":{\"sec\":" + r.sec +
        ",\"ok\":" + r.ok + ",\"spillBytes\":" + r.spillBytes +
        ",\"peakExecMem\":" + r.peakExecMem + "}").mkString("{", ",", "}")
    val line = s"""{"stress_ok":${results.forall(_.ok)},"stages":$entries}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("STRESS.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (results.exists(!_.ok)) sys.exit(1)
    spark.stop()
  }

  /** Runs every stress stage; a stage is ok=false if it throws OR (for
    * the guard stages) its explicit bound is violated. Each stage's
    * spill bytes and peak execution memory are captured via a
    * listener; stages flagged `noSpill` (map-only / streaming-shaped
    * passes) additionally FAIL if any byte spilled — a scan-speed
    * stage that starts spilling has silently grown a shuffle or an
    * unbounded buffer.
    */
  def run(spark: SparkSession, base: String): Seq[StressResult] = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val out = scala.collection.mutable.ArrayBuffer.empty[StressResult]
    val metrics = RunMetrics.attach(spark)

    /** Time a stage whose body returns its own pass/fail verdict. */
    def check(label: String, noSpill: Boolean = false)(f: => Boolean): Unit = {
      var bodyOk = false
      val s = metrics.measure(spark) {
        bodyOk = try f catch {
          case e: Throwable =>
            System.err.println(s"[stress] $label FAILED: ${e.getMessage}")
            false
        }
      }
      val ok = bodyOk && (!noSpill || s.spillB == 0L)
      if (bodyOk && noSpill && s.spillB > 0L)
        System.err.println(
          s"[stress] $label FAILED zero-spill bound: ${s.spillB} bytes spilled")
      out += StressResult(label, s.sec, ok, s.spillB, s.peakExecB)
    }
    /** Time a throughput stage: ok = completed (+ the zero-spill bound
      * when flagged). */
    def time(label: String, noSpill: Boolean = false)(f: => Unit): Unit =
      check(label, noSpill) { f; true }

    // ---- guard bounds: the planted pathologies a 100 TB crawl WILL
    // contain, asserted to stay linear ---------------------------------

    check("guard: LSH hot bucket emits a star (10k identical docs)") {
      val n = 10000
      val planted = (1 to n).map(i =>
        (i.toLong, "exactly the same duplicated text in every document"))
        .toDF("doc_id", "text")
      operators.Dedup.minHashLshPairs(planted, "doc_id", "text", 3, 4, 3,
        maxBucket = 100, materialize = false).count() == (n - 1).toLong
    }
    check("guard: image hot bucket emits a star (10k identical hashes)") {
      val n = 10000
      val hashes = (1 to n).map(i => (i.toLong, 0L)).toDF("doc_id", "hash")
      multimodal.Multimodal.imageDupPairs(hashes, maxHamming = 3,
        maxBucket = 100).count() == (n - 1).toLong
    }
    check("guard: df-cap drops a planted stop-shingle (no pair fan-out)") {
      val n = 5000
      val boiler = (1 to n).map(i =>
        (i.toLong, s"common header words repeated everywhere u$i v$i w$i x$i y$i"))
        .toDF("doc_id", "text")
      operators.Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 5, 0.0,
        maxDf = 100).count() == 0L
    }
    check("guard: semDedup hot cell fails loudly (all vectors one cell)") {
      val vecs = (1 to 2000).map(i => (i.toLong, Array.fill(64)(1f)))
        .toDF("vec_id", "embedding")
      val cents = Seq(Seq.fill(64)(1f), Seq.fill(64)(-1f))
      try {
        operators.Similarity.semDedupWithCentroids(vecs, "vec_id",
          "embedding", cents, 0.99, maxCellSize = 500).count()
        false // the guard must throw, not fan out
      } catch { case _: IllegalStateException => true }
    }

    check("guard: 10k-hop dup chain — star contraction converges where " +
        "propagation's budget trips") {
      // A transitive republication chain (each doc a near-dup of the
      // previous) has diameter = corpus size: min-label propagation
      // needs 10k+1 rounds. Alternating large/small-star contraction
      // must label the whole chain with cluster_id = 1 within its
      // default ~log n round budget.
      val n = 10000
      val chainDocs = (1L to n.toLong).toDF("doc_id")
      val chain = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val labels = operators.DedupCluster
        .componentsAlternating(chainDocs, "doc_id", chain)
      val allMin = labels.agg(max("cluster_id"), count(lit(1))).head()
      operators.DedupCluster.release(labels)
      allMin.getLong(0) == 1L && allMin.getLong(1) == n.toLong
    }

    // ---- throughput stages (amplified fixtures) -----------------------

    // 20x events with disjoint ids and shifted timestamps (6 months span)
    val ev = Tables.load(spark, base, "events")
    val big = (0 until 20).map(i => ev
      .withColumn("event_id", $"event_id" + lit(i.toLong * 10_000_000L))
      .withColumn("ts", $"ts" + expr(s"INTERVAL ${i % 6} MONTHS")))
      .reduce(_.unionByName(_))
    time("write 2M events (month-partitioned, shard-keyed)") {
      sources.IO.writeFact(big, s"$tmp/events", "ts", "event_id",
        overwritePartitions = false)
    }
    val bigEv = sources.IO.readParquet(spark, s"$tmp/events").drop("month")

    time("flagship incremental load (cold start, 2M rows)") {
      val cfg = pipeline.IncrementalLoad.Config(
        keyCol = "event_id", tsCol = "ts", versionCol = "ts",
        projection = Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
        sourceName = "superset")
      pipeline.IncrementalLoad.run(spark, bigEv, s"$tmp/target", cfg)
    }
    time("A4 dedup window over 2M rows") {
      operators.Relational.dedupLatest(bigEv, Seq("user_id"), "ts",
        Seq("event_id")).write.format("noop").mode("overwrite").save()
    }
    time("enrichment join + agg over 2M rows") {
      val c = Tables.load(spark, base, "customer")
      operators.Relational.enrich(bigEv, c, "user_id", "c_custkey",
        Seq("c_mktsegment"))
        .groupBy("c_mktsegment").agg(count(lit(1)), sum("value"))
        .write.format("noop").mode("overwrite").save()
    }

    // 10x embeddings
    val emb = Tables.load(spark, base, "embeddings")
    val bigEmb = (0 until 10).map(i => emb
      .withColumn("vec_id", $"vec_id" + lit(i.toLong * 1_000_000L)))
      .reduce(_.unionByName(_)).cache()
    time("brute-force ANN: 10 queries x 20k vectors (native expr)") {
      operators.Similarity.bruteForceTopK(bigEmb, bigEmb.filter($"vec_id" < 10),
        "vec_id", "embedding", 5,
        (a, b) => functions.CosineSimilarity.column(a, b))
        .write.format("noop").mode("overwrite").save()
    }
    time("LSH-bucketed ANN: same, sign-bucket prefilter") {
      operators.Similarity.bucketedTopK(bigEmb, bigEmb.filter($"vec_id" < 10),
        "vec_id", "embedding", 5, 8)
        .write.format("noop").mode("overwrite").save()
    }
    time("IVF-PQ top-5: 10 queries x 20k vectors (nlist=32, 8x16 codes)") {
      operators.Similarity.ivfPqTopK(bigEmb, bigEmb.filter($"vec_id" < 10),
        "vec_id", "embedding", 5, nlist = 32, nprobe = 4,
        nsub = 8, ksub = 16)
        .write.format("noop").mode("overwrite").save()
    }
    time("SemDeDup over 20k vectors (KMeans 64 cells, 10-cliques)") {
      operators.Similarity.semDedup(bigEmb, "vec_id", "embedding",
        nlist = 64, minCosine = 0.95)
        .write.format("noop").mode("overwrite").save()
    }

    // 10x documents (50k docs, each base doc in a 10-near-dup clique) —
    // copies get a distinct tail so they are near-dups (shared
    // shingles) rather than exact dups: the realistic LSH load.
    val docs = Tables.load(spark, base, "documents")
    val bigDocs = (0 until 10).map(i => docs
      .withColumn("doc_id", $"doc_id" + lit(i.toLong * 10_000_000L))
      .withColumn("text", concat($"text", lit(s" stress tail marker $i"))))
      .reduce(_.unionByName(_)).cache()
    time("quality verdict over 50k docs (map-only pass)", noSpill = true) {
      operators.Quality.verdict(bigDocs, "doc_id", "text",
        operators.Quality.Thresholds())
        .write.format("noop").mode("overwrite").save()
    }
    time("line dedup over 50k docs (10-word chunks)") {
      operators.LineDedup.dedupLines(bigDocs, "doc_id",
        functions.TextFunctions.wordChunks($"text", 10), maxDocs = 12)
        .write.format("noop").mode("overwrite").save()
    }
    time("minhash LSH pairs over 50k docs, 10-cliques (lazy plan)") {
      operators.Dedup.minHashLshPairs(bigDocs, "doc_id", "text",
        5, 4, 3, materialize = false)
        .write.format("noop").mode("overwrite").save()
    }
    time("sequence packing over 50k docs (per-language windows)") {
      operators.Packing.packBins(bigDocs, "doc_id", "lang",
        functions.TextFunctions.tokenCount($"text"), 2048,
        Seq(operators.Sampling.shuffleKey($"doc_id", "stress"), $"doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
    time("bm25 top-3 for 25 queries over 50k docs (inverted index)") {
      operators.Retrieval.bm25TopK(bigDocs, "doc_id", "text",
        $"doc_id" < 25, 3)
        .write.format("noop").mode("overwrite").save()
    }
    time("bloom-prefiltered decontamination over 50k docs") {
      operators.Contamination.overlapPrefiltered(bigDocs, "doc_id", "text",
        5, $"doc_id" % 20 === 0, 0.2)
        .write.format("noop").mode("overwrite").save()
    }
    time("misra_gries(40) heavy hitters over 50k docs' tokens") {
      bigDocs.select(explode(functions.TextFunctions.tokens($"text")).as("t"))
        .agg(functions.MisraGries.column($"t", 40))
        .write.format("noop").mode("overwrite").save()
    }
    time("weighted sample 1000 of 50k docs") {
      operators.Sampling.weightedSample(bigDocs, "doc_id", "n_chars",
        1000, "stress")
        .write.format("noop").mode("overwrite").save()
    }
    time("z-order write of 2M events on (user_id, value)") {
      sources.IO.writeZOrdered(bigEv
        .select("event_id", "user_id", "ts", "value"),
        s"$tmp/events_z", Seq("user_id", "value"))
    }
    time("BPE: learn 200 merges (one word-count pass) + tokenize 50k docs") {
      val merges = operators.Bpe.learn(bigDocs, "text", nMerges = 200,
        maxWords = 20000)
      operators.Bpe.tokenize(bigDocs, "doc_id", "text", merges)
        .write.format("noop").mode("overwrite").save()
    }
    time("t-digest p50/p95/p99 of 2M event values (delta=100)",
        noSpill = true) {
      bigEv.agg(functions.TDigestQuantiles.column($"value", 100,
        Seq(0.5, 0.95, 0.99)))
        .write.format("noop").mode("overwrite").save()
    }
    time("sliding 64/48 chunking of 50k docs (explode, no shuffle)",
        noSpill = true) {
      bigDocs.select($"doc_id",
        posexplode(functions.TextFunctions.slidingChunks($"text", 64, 48)))
        .write.format("noop").mode("overwrite").save()
    }
    time("interpolated bigram LM: train + score 50k docs") {
      operators.LanguageModel.crossEntropyBigram(bigDocs, "doc_id", "text",
        operators.LanguageModel.unigramLm(bigDocs, "text"),
        operators.LanguageModel.bigramLm(bigDocs, "text"))
        .write.format("noop").mode("overwrite").save()
    }
    time("hashed-embedding ANN: 10 queries over 50k docs (hash + cosine)") {
      operators.TextEmbedding.hashedTopK(bigDocs, "doc_id", "text",
        $"doc_id" < 10, 5, 64)
        .write.format("noop").mode("overwrite").save()
    }
    time("DSIR: weights + Gumbel resample 1000 of 50k docs (dim=1024)") {
      operators.Dsir.resample(bigDocs, "doc_id", "text",
        bigDocs.filter($"lang" === "en"), 1024, 1000, "stress")
        .write.format("noop").mode("overwrite").save()
    }
    time("IVF-SQ8 top-5: 10 queries x 20k vectors (8 fixed cells, probe 4)") {
      operators.Similarity.ivfSq8TopK(bigEmb, bigEmb.filter($"vec_id" < 10),
        "vec_id", "embedding", 5, queries.Extensions.SemCents, nprobe = 4)
        .write.format("noop").mode("overwrite").save()
    }
    check("funnel hot user: 100k-event key stays linear (window pass, " +
        "no pair fan-out)") {
      // One user owns 100k events — a time-range self-join funnel
      // would build ~10^10/3 candidate pairs on that key; the
      // union+window walk carries exactly one row per event per level.
      val n = 100000
      val hot = (1 to n).map { i =>
        (42L, new java.sql.Timestamp(1704067200000L + i * 1000L),
          Seq("view", "click", "purchase")(i % 3))
      }.toDF("user_id", "ts", "event_type")
      val lv = operators.Funnel.windowFunnel(hot, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 3600)
        .select("funnel_level").as[Int].collect()
      lv.toSeq == Seq(3)
    }
    time("HLL distinct over 2M events (map-side register max, " +
        "<=256 rows/key shuffled)", noSpill = true) {
      operators.Profile.hllEstimate(bigEv, "event_type", $"user_id")
        .write.format("noop").mode("overwrite").save()
    }
    time("sequence pairs over 2M events (one lag window, linear on " +
        "hot keys)") {
      operators.Sequence.countAdjacentPairs(bigEv, "user_id", "ts",
        "event_id", $"event_type" === "view", $"event_type" === "click")
        .write.format("noop").mode("overwrite").save()
    }
    check("spanning match on the 100k-event hot key: one probe row " +
        "per level (min-start walk)") {
      val n = 100000
      val hot = (1 to n).map { i =>
        (42L, new java.sql.Timestamp(1704067200000L + i * 1000L),
          Seq("view", "click", "purchase")(i % 3))
      }.toDF("user_id", "ts", "event_type")
      val m = operators.Sequence.matchSpanning(hot, "user_id", "ts",
        Seq($"event_type" === "view", $"event_type" === "click",
          $"event_type" === "purchase"))
        .select("matched").as[Boolean].collect()
      m.toSeq == Seq(true)
    }
    check("interval sweeps on a 100k-interval hot key: union length " +
        "and max intersections stay one linear window pass each") {
      // 100k unit-step intervals [i, i+2) on ONE key — a pairwise
      // overlap join would build ~10^10 candidates; both sweeps are
      // growing-frame windows (O(n) per key). Closed forms pin the
      // math: union = [0, n+1) ⇒ n+1; every interior point is covered
      // by exactly 2 intervals ⇒ maxIntersections = 2.
      val n = 100000
      val iv = (0 until n).map(i => (42L, i.toLong, i.toLong + 2L))
        .toDF("k", "s", "e")
      val len = operators.Aggregates
        .intervalLengthSum(iv, "k", $"s", $"e")
        .select("covered_length").as[Long].collect().toSeq
      val mi = operators.Aggregates
        .maxIntersections(iv, "k", $"s", $"e")
        .select("max_intersections").as[Long].collect().toSeq
      len == Seq(n.toLong + 1L) && mi == Seq(2L)
    }
    time("deltaSum + 3-window moving sums over 2M events (lag window " +
        "+ bounded sliding frame, linear on hot keys)") {
      val cents = floor($"value" * 100 + 0.5)
      operators.Aggregates.deltaSum(bigEv, "user_id", "ts", "event_id",
        cents).write.format("noop").mode("overwrite").save()
      operators.Aggregates.movingSum(bigEv, "user_id", "ts", "event_id",
        cents, 3).write.format("noop").mode("overwrite").save()
    }
    check("sequenceNextNode on the 100k-event hot key: lead-window " +
        "composition, no per-start fan-out") {
      val n = 100000
      val hot = (1 to n).map { i =>
        (42L, new java.sql.Timestamp(1704067200000L + i * 1000L),
          Seq("view", "click", "purchase")(i % 3), i.toLong)
      }.toDF("user_id", "ts", "event_type", "event_id")
      // stream cycles view,click,purchase — the earliest consecutive
      // view→click run starts at position 0, so next node = purchase
      val nn = operators.Aggregates.sequenceNextNode(hot, "user_id",
        "ts", "event_id", $"event_type",
        Seq($"event_type" === "view", $"event_type" === "click"))
        .select("next_node").as[Option[String]].collect().toSeq
      nn == Seq(Some("purchase"))
    }
    time("rollup maintenance: fold 20 batch states over 2M events " +
        "(|keys| rows moved per merge, no base rescan)") {
      val keys = Seq("event_type")
      val st = (0 until 4).map(i =>
        pipeline.Rollup.aggregateState(
          bigEv.filter($"event_id" % 4 === i), keys, "value", "user_id", 64))
      pipeline.Rollup.finalizeState(
        pipeline.Rollup.merge(st, keys, 64), keys, 64)
        .write.format("noop").mode("overwrite").save()
    }
    // ---- skew-join comparison: one 100k-row hot key, both mitigations --
    // A fact side with a planted 100k-row hot key (the reference's
    // user_id = -1 null-repair sentinel at crawl scale) joins a 10k-row
    // dim FORCED to shuffle (broadcast disabled — at 100 TB the dim
    // that matters won't broadcast). The two mitigations run side by
    // side and their seconds land in STRESS.json as the recorded
    // comparison: AQE's runtime skew split (thresholds tuned so the
    // hot partition qualifies at test scale) vs the explicit
    // Skew.saltedJoin(16). AQE is the engine default (no dim
    // duplication, adapts to observed bytes); saltedJoin stays the
    // documented fallback for planned skew AQE's byte thresholds never
    // see. Both must agree on the join cardinality.
    locally {
      val conf = spark.conf
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> conf.getOption(k))
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "262144")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144")
      try {
        val facts = spark.range(100000)
          .select(lit(-1L).as("k"), $"id".as("payload"))
          .unionAll(spark.range(900000)
            .select(pmod($"id", lit(10000L)).as("k"), $"id".as("payload")))
        val dim = spark.range(10000)
          .select($"id".as("dk"), concat(lit("attr_"), $"id").as("attr"))
          .unionAll(Seq((-1L, "anonymous")).toDF("dk", "attr"))
        var nPlain = 0L
        var nSalt = 0L
        time("skew: 100k hot key, plain shuffle join under AQE skew split") {
          nPlain = facts.join(dim, $"k" === $"dk").count()
        }
        time("skew: 100k hot key, explicit salted(16) join") {
          nSalt = operators.Skew.saltedJoin(facts, dim, "k", "dk", 16).count()
        }
        check("skew: both mitigations agree on the join cardinality (1M)") {
          nPlain == 1000000L && nSalt == nPlain
        }
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

    bigEmb.unpersist(blocking = false)
    bigDocs.unpersist(blocking = false)
    spark.sparkContext.removeSparkListener(metrics)
    out.toSeq
  }
}
