package graft

/** Plan-regression guards: the physical-plan properties PLANS.md claims
  * are asserted here so a refactor cannot silently lose a broadcast, a
  * pushed filter, or grow an extra shuffle.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every non-catalog (raw parquet) scan in `plan` must be the
    * FILTERED query side: a `Filter` on the query id (`vec_id`) sitting
    * directly over the relation (modulo projections). The query side
    * may legitimately appear several times — probe routing and the
    * re-rank's qv fetch — but a corpus-scale scan can never satisfy the
    * shape, because pushdown only plants that filter over the frame the
    * query predicate was applied to.
    */
  private def assertRawScansAllQuerySide(
      optimized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def rawLeaves(p: LogicalPlan): Seq[LogicalRelation] = p.collect {
      case l: LogicalRelation if l.catalogTable.isEmpty => l
    }
    assert(rawLeaves(optimized).nonEmpty,
      "expected at least the query-side raw scan:\n" +
        optimized.treeString.take(3000))
    def check(p: LogicalPlan): Unit = p match {
      case l: LogicalRelation if l.catalogTable.isEmpty =>
        fail("raw scan with no query-id filter over it (corpus leak?):\n" +
          optimized.treeString.take(3000))
      case Filter(cond, child)
          if cond.references.exists(_.name == "vec_id") &&
            child.collectFirst {
              case n if !n.isInstanceOf[Project] &&
                !n.isInstanceOf[LogicalRelation] => n
            }.isEmpty =>
        () // a pushed query-side filter directly over its scan
      case other => other.children.foreach(check)
    }
    check(optimized)
  }

  test("dictionary enrichment joins broadcast (J1)") {
    val p = plan("j1_enrich_users")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("headline joins broadcast every dimension side") {
    val p = plan("q5_region_volume")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ:\n" + p.take(2000))
  }

  test("filters push into the parquet scan (lineitem)") {
    val p = plan("f5_equality_predicates")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_linestatus), EqualTo(l_returnflag,R), EqualTo(l_linestatus,F)]")
      || (p.contains("EqualTo(l_returnflag,R)") && p.contains("EqualTo(l_linestatus,F)")),
      p.take(2000))
  }

  test("scan projection prunes columns (ReadSchema)") {
    val p = plan("s2_scan_projection")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"),
      p.take(2000))
    assert(!p.contains("props"), "unpruned column read:\n" + p.take(2000))
  }

  test("dedup window needs exactly one hash exchange") {
    val p = plan("a4_dedup_latest")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${p.take(2000)}")
  }

  test("SCD2 history build: the change-point filter and the interval " +
    "assignment share one (key) exchange and one (ts, tie) sort") {
    val p = plan("scd_build_history")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(3000)}")
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(sorts <= 2, // the shared window sort + the output orderBy
      s"window passes stopped sharing their sort ($sorts):\n${p.take(3000)}")
  }

  test("decayed aggregate is one partial-combine aggregation: a single " +
    "exchange carries one partial row per (key, partition)") {
    val p = plan("decayed_agg")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(3000)}")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      "map-side partial aggregation lost:\n" + p.take(3000))
  }

  test("brute-force ANN broadcasts the query set, not the corpus") {
    val p = plan("ann_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("incremental dedup reads the STORED signature index and only " +
    "re-shingles the new batch") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // building the query also writes the bucketed index table
    val frame = SparkEntry.queries("dedup_minhash_incremental")(spark, sf)
    val optimized = frame.queryExecution.optimizedPlan
    // the existing corpus arrives from the persisted index, not recompute
    assert(optimized.treeString.contains("graft_sig_index"),
      "stored signature index is not in the plan:\n" +
        optimized.treeString.take(3000))
    // every SHINGLE explode sits over the NEW batch only — the
    // stored-corpus side is never re-shingled. Band explodes (the
    // single-pass (band, sig) Generate over a signature table's 12
    // hash columns — output `bs`) are the index's own access path and
    // legitimately run over graft_sig_index; only generators emitting
    // `shingle` re-tokenize text.
    val generates = optimized.collect { case g: Generate => g }
    val shingleGens =
      generates.filter(_.generatorOutput.exists(_.name == "shingle"))
    assert(shingleGens.nonEmpty, "new batch must be shingled")
    shingleGens.foreach { g =>
      assert(!g.treeString.contains("graft_sig_index"),
        "existing corpus re-shingled:\n" + g.treeString.take(2000))
      assert(g.treeString.contains("% 4) = 0"),
        "a Generate runs over more than the new batch:\n" +
          g.treeString.take(2000))
    }
  }

  test("IVF corpus cell assignment is an aggregation (map-side partial), " +
    "not a window sort over corpus×nlist") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val emb = Tables.load(spark, sf, "embeddings")
    val plan = graft.operators.Similarity.ivfTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2)
      .queryExecution.optimizedPlan
    val minByAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions
        .exists(_.toString.contains("min_by")) => a
    }
    assert(minByAggs.nonEmpty, "corpus cell assignment lost its min_by " +
      "aggregation:\n" + plan.treeString.take(3000))
    // exactly two windows remain: the nprobe>1 query-side probe and the
    // final top-k ranking — neither is corpus×nlist-sized
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.length <= 2,
      s"corpus-sized window crept back (got ${windows.length}):\n" +
        plan.treeString.take(3000))
  }

  test("indexed IVF-PQ reads the STORED index; the raw corpus parquet " +
    "appears only as the (filtered) query side") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // the TRAINED stored-index arc (KMeans centroids — no SQL oracle,
    // so this spec is its plan-shape gate): train+write once, then
    // query only the stored tables
    val emb = Tables.load(spark, sf, "embeddings")
    if (!spark.catalog.tableExists("graft_vec_index"))
      graft.operators.Similarity.writeVectorIndex(emb, "vec_id",
        "embedding", "graft_vec_index", nlist = 16, nsub = 8, ksub = 16,
        residual = true)
    val frame = graft.operators.Similarity.ivfPqTopKFromIndex(
      spark, "graft_vec_index",
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nprobe = 4, overquery = 5)
      .orderBy("query_id", "rank")
    val optimized = frame.queryExecution.optimizedPlan
    assert(optimized.treeString.contains("graft_vec_index"),
      "stored vector index missing from the plan:\n" +
        optimized.treeString.take(3000))
    // every NON-catalog file scan is the query side (vec_id < 10 pushed
    // down); the corpus itself arrives only through the index tables —
    // no retrain, no re-encode, no full-corpus embedding scan. The
    // query side may appear more than once (probe routing + the
    // re-rank's qv fetch), but each appearance MUST carry the query
    // filter — an unfiltered corpus-scale scan has no such parent.
    assertRawScansAllQuerySide(optimized)
  }

  test("appended index queries read only index tables; the append write " +
    "itself scans only the new batch") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // query over a base+appended index: same discipline as the
    // build-once path — the raw corpus appears only as the query side
    val frame = SparkEntry.queries("ann_ivfpq_append")(spark, sf)
    val optimized = frame.queryExecution.optimizedPlan
    assert(optimized.treeString.contains("graft_vec_index_inc"),
      "appended index missing from the plan:\n" +
        optimized.treeString.take(3000))
    assertRawScansAllQuerySide(optimized)

    // the append's WRITE-side plan: encoding the new batch against the
    // stored model touches the batch + the tiny centroid table — never
    // the stored code rows (per-batch cost ∝ |batch|, not |index|)
    val emb = Tables.load(spark, sf, "embeddings")
    val centDf = spark.table("graft_vec_index_inc_centroids")
    val (books, residual) =
      graft.operators.Similarity.readCodebooksAndMode(
        spark, "graft_vec_index_inc")
    val enc = graft.operators.Similarity.encodeForIndex(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 50),
      "vec_id", "embedding", centDf, books, residual)
    // match the relation name followed by its column list so the
    // centroids table (same prefix) doesn't mask a violation
    assert(!enc.queryExecution.optimizedPlan.treeString
      .contains("graft_vec_index_inc["),
      "append encode must not scan the stored index rows:\n" +
        enc.queryExecution.optimizedPlan.treeString.take(3000))
  }

  test("contamination broadcasts the eval side; the corpus never shuffles " +
    "into a sort-merge join") {
    // audit the LAZY plan: the query-map entry is eagerly materialized,
    // so its returned plan is just a scan of the checkpointed result
    val docs = Tables.load(spark, sf, "documents")
    val p = graft.operators.Contamination.overlap(docs, "doc_id", "text",
      5, org.apache.spark.sql.functions.col("doc_id") % 20 === 0, 0.2,
      materialize = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "eval-side broadcast degraded to SMJ — the 100 TB corpus would shuffle:\n" +
        p.take(2000))
  }

  test("sequence packing needs exactly one hash exchange (the group key)") {
    // the trailing orderBy adds a range exchange for presentation; the
    // packing itself must cost one hash shuffle on the packing group
    val p = plan("seq_pack_bins")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange, got $hashExchanges:\n${p.take(2000)}")
  }

  test("line dedup: the frequent-line set broadcasts; the corpus side " +
    "never sort-merge joins") {
    val p = plan("line_dedup")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "boilerplate set stopped broadcasting — corpus-sized shuffle join:\n" +
        p.take(2000))
  }

  test("bm25: corpus stats broadcast as one row; no cartesian product " +
    "reaches the corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val p = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
      org.apache.spark.sql.functions.col("doc_id") < 25, 3,
      materialize = false).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      "N/avgdl stats must broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "corpus-sized cartesian crept into bm25:\n" + p.take(2000))
  }

  test("indexed bm25 reads the STORED postings and only tokenizes the " +
    "query docs") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    // building the query also writes the postings + term-stats tables
    val frame = SparkEntry.queries("text_bm25_indexed")(spark, sf)
    val optimized = frame.queryExecution.optimizedPlan
    assert(optimized.treeString.contains("graft_bm25_postings"),
      "stored postings index missing from the plan:\n" +
        optimized.treeString.take(3000))
    val generates = optimized.collect { case g: Generate => g }
    assert(generates.nonEmpty, "query docs must be tokenized")
    generates.foreach { g =>
      assert(!g.treeString.contains("graft_bm25_postings"),
        "corpus re-tokenized in the indexed query path:\n" +
          g.treeString.take(2000))
      assert(g.treeString.contains("< 25"),
        "a Generate runs over more than the query docs:\n" +
          g.treeString.take(2000))
    }
  }

  test("bloom prefilter is a pure map-side scan+filter: no join, no " +
    "keyed shuffle (only the scan fan-out may repartition)") {
    val docs = Tables.load(spark, sf, "documents")
    val p = graft.operators.Contamination.bloomSurvivors(docs, "doc_id",
      "text", 5, org.apache.spark.sql.functions.col("doc_id") % 20 === 0)
      .queryExecution.executedPlan.toString
    // Par.fanOut may insert ONE round-robin repartition of the raw scan
    // rows (guide §2.5 — under-split input); any OTHER exchange (hash/
    // range = a keyed shuffle feeding a join or aggregation) stays
    // forbidden: the prefilter's contract is that the corpus never
    // shuffles BY KEY before the bloom probe drops non-candidates.
    val keyedExchanges = p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("RoundRobinPartitioning")).toSeq
    assert(keyedExchanges.isEmpty,
      "the corpus prefilter must not shuffle by key:\n" + p.take(2000))
    assert(!p.contains("Join"),
      "the corpus prefilter must not join:\n" + p.take(2000))
  }

  test("misra_gries aggregates map-side (partial ObjectHashAggregate " +
    "before the exchange)") {
    import org.apache.spark.sql.functions._
    val toks = Tables.load(spark, sf, "documents")
      .select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val p = toks.groupBy("lang")
      .agg(graft.functions.MisraGries.column(col("term"), 10).as("hh"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "sketch must combine map-side (partial + final aggregate):\n" +
        p.take(2000))
  }

  test("minhash verify is candidate-bounded: no shingle self-join, " +
    "candidate restriction below the per-doc aggregation") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = Tables.load(spark, sf, "documents")
    val lazyFrame = graft.operators.Dedup.minHashVerifiedPairsPlan(
      docs, "doc_id", "text", 5, 4, 3, 0.5)
    val optimized = lazyFrame.queryExecution.optimizedPlan
    // 1) the verify path never self-joins the shingle index — the only
    //    equi-joins are LSH band/sig and the candidate-pair id joins
    val shingleJoins = optimized.collect {
      case j: Join if j.condition.exists(
        _.references.exists(_.name.startsWith("shingle"))) => j
    }
    assert(shingleJoins.isEmpty,
      s"verify path re-grew a shingle self-join:\n${optimized.treeString.take(3000)}")
    // 2) the per-doc shingle-set aggregation only sees candidate docs:
    //    a LeftSemi restriction sits BELOW the collect_set Aggregate
    val setAggs = optimized.collect {
      case a: Aggregate if a.aggregateExpressions
        .exists(_.toString.contains("collect_set")) => a
    }
    assert(setAggs.nonEmpty, "collect_set aggregation missing from plan")
    assert(setAggs.forall(a => a.collect {
      case j: Join if j.joinType == LeftSemi => j
    }.nonEmpty),
      "candidate LeftSemi restriction is not below the pair aggregation:\n" +
        optimized.treeString.take(3000))
    // 3) and no pair-level (two-id-column) aggregation exists at all —
    //    the exact intersection is computed per candidate pair directly
    assert(optimized.toString.contains("array_intersect"),
      "exact verify should use per-pair array_intersect")
  }

  test("q9 supply-cost profit: dimensions broadcast, no cartesian product") {
    val p = plan("q9_product_profit")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q21 collapses EXISTS/NOT-EXISTS into per-order aggregates — " +
    "lineitem is never re-scanned per correlated predicate") {
    val p = plan("q21_waiting_suppliers")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the fixture lineitem scan appears at most twice (the joined fact
    // and the per-order aggregate), not once per EXISTS branch
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans <= 2, s"lineitem scanned $scans times:\n${p.take(3000)}")
  }

  test("q2 min-cost supplier: the per-part MIN joins back as a broadcast") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("PQ codec stays codegen'd at PRODUCTION codebook size (nsub=16, " +
    "ksub=256, d=768) — no interpreted fallback on the ANN hot path") {
    // Regression pin for the round-7 defect: typedLit-inlined codebooks
    // blew the JVM's 64 KB generated-method limit at production sizes
    // and Catalyst silently degraded the ADC inner loop to interpreted
    // evaluation. Under CODEGEN_ONLY + fallback=false a compile failure
    // THROWS, so this test fails if the referenced-array codec ever
    // regresses to size-dependent generated code.
    val nsub = 16; val ksub = 256; val subDim = 48 // 768-dim vectors
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] =
      Array.fill(nsub * subDim)(rnd.nextFloat() * 2f - 1f)
    val books = Seq.tabulate(nsub)(_ =>
      Seq.tabulate(ksub)(_ => Seq.fill(subDim)(rnd.nextFloat() * 2f - 1f)))
    val centroids = Seq.fill(2)(Seq.fill(nsub * subDim)(rnd.nextFloat() * 2f - 1f))
    import spark.implicits._
    val corpus = (0 until 64).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    val centDf = spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // encode + ADC + exact re-rank, residual mode: exercises
      // PqEncodeCodes, PqAdcDistance, DotProduct (cell assignment) and
      // L2DistanceSq (re-rank) in one executed query
      val indexed = graft.operators.Similarity.encodeForIndex(
        corpus, "vec_id", "embedding", centDf, books, residual = true)
      val out = graft.operators.Similarity.ivfPqTopKOverRows(
        indexed, centDf, (books, true), queries, "vec_id", "embedding",
        k = 5, nprobe = 2)
      // collect() executes THIS frame's QueryExecution, so the AQE plan
      // below is the final one (count() would plan a separate query)
      assert(out.collect().length == 3 * 5)
      // the final AQE plan renders WholeStageCodegen spans as "*(n)"
      // operator prefixes — assert the scoring Projects sit inside one
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true") && p.contains("*("), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("SQ8 codec stays codegen'd at PRODUCTION dimensionality (d=768) — " +
    "no interpreted fallback on the encode/ADC hot path") {
    // Same 64 KB-limit discipline as the PQ pin: bounds ride the
    // expressions as referenced double[]s, so generated code must be a
    // constant-size loop at any d. CODEGEN_ONLY + fallback=false makes
    // a compile failure throw instead of silently interpreting.
    val dim = 768
    val rnd = new scala.util.Random(11)
    import spark.implicits._
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = graft.operators.Similarity.sq8TopK(corpus, queries,
        "vec_id", "embedding", k = 5, overquery = 3)
      assert(out.collect().length == 3 * 5)
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true") && p.contains("*("), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("per-source quota cap pushes a partial group limit below the " +
    "exchange (WindowGroupLimit) — a mega-domain never ships all its rows") {
    val p = plan("source_quota_cap")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // partial (pre-shuffle) + final: two occurrences
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "group limit is not applied map-side before the exchange:\n" +
        p.take(2000))
  }

  test("ANN rank windows shuffle slim rows: no vector/code column rides " +
    "a query-id window exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // every window in these plans partitions on query_id over a
    // corpus-fraction candidate set — its input exchange must carry
    // (ids, score) only; a dim-wide vector there multiplies the
    // shuffle by ~100x at d=768
    // only the CORPUS-SCALE windows (ordered by the candidate score)
    // must be slim; the nprobe probe window and the k·overquery exact
    // re-rank window are query-bounded and may carry vectors
    val corpusOrder = Set("score", "approx_dist", "adc_dist")
    val fat = Set("qv", "cv", "vec", "embedding", "codes", "rv", "qres")
    for (name <- Seq("ann_brute_topk", "ann_lsh_topk", "ann_sq8_topk",
      "ann_ivf_sq8_topk", "ann_ivfpq_indexed_fixed", "ann_matryoshka_topk",
      "text_hash_ann")) {
      val frame = SparkEntry.queries(name)(spark, sf)
      val wins = frame.queryExecution.optimizedPlan.collect {
        case w: Window if w.orderSpec.exists(_.references.exists(a =>
          corpusOrder.contains(a.name))) => w
      }
      assert(wins.nonEmpty, s"$name: expected a candidate-rank window")
      for (w <- wins; c <- w.child.output.map(_.name) if fat.contains(c))
        fail(s"$name: window shuffles fat column '$c' — slim the " +
          s"projection before the rank exchange:\n" +
          w.treeString.take(1500))
    }
  }

  test("semDedup keep set never rescans the corpus: the kept-id side is " +
    "checkpoint-detached (scan of an RDD, not a second corpus read)") {
    val kept = graft.operators.Similarity.semDedupWithCentroids(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      Seq(Seq.tabulate(64)(i => if (i < 32) 1f else 0f),
        Seq.tabulate(64)(i => if (i < 32) 0f else 1f)), 0.4)
    val p = kept.queryExecution.executedPlan.toString
    // exactly one embeddings scan (the left-semi probe side); the keep
    // ids come from the materialized checkpoint
    val scans = "embeddings\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"embeddings scanned $scans times:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      "keep ids are not checkpoint-materialized:\n" + p.take(2000))
  }

  test("madOutliers: every group-stat join broadcasts — the corpus streams " +
    "map-side, only the |groups|-row median/MAD frames move (the med-join " +
    "subtree legitimately appears under both the MAD aggregate and the " +
    "output probe, so the count is ≥2, never an SMJ)") {
    val p = plan("dq_value_outliers")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"expected ≥2 broadcast stat joins, got $bhj:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin"),
      "a group-stat join degraded to SMJ:\n" + p.take(2500))
  }

  test("epochPlan result plan never touches the corpus: the mix input is " +
    "pinned + the result checkpoint-detached, so the four internal " +
    "references cost ONE corpus scan at materialization and zero after") {
    val p = plan("mix_epoch_plan")
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans == 0, s"result plan still scans documents $scans times:\n${p.take(2500)}")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      "result is not checkpoint-materialized:\n" + p.take(2500))
  }

  test("resampleFfill: one events scan, grid generated from the " +
    "checkpoint-materialized bounds frame (Scan ExistingRDD, no second " +
    "corpus read), and exactly two key exchanges — the per-instant dedup " +
    "window and the fill window") {
    val p = plan("ts_resample_hourly")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"events scanned $scans times:\n${p.take(2500)}")
    assert(p.contains("Scan ExistingRDD"),
      "bounds frame not checkpoint-materialized:\n" + p.take(2500))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("centroidDrift internal shape: one full corpus scan feeds the " +
    "(group, dim) sums (the n-count side re-reads only the pruned group " +
    "column), the corpus-centroid side derives from the PINNED per-group " +
    "frame, and the dim-keyed drift join broadcasts") {
    val (out, perGroup) = graft.operators.Profile.centroidDriftLazy(
      Tables.load(spark, sf, "embeddings"), "label", "embedding")
    try {
      val p = out.queryExecution.executedPlan.toString
      // ≤3 STRING occurrences: the n-count's pruned scan plus the two
      // InMemoryTableScan nodes each printing the cached relation's
      // lineage — at execution that is 1 cache-build scan + 1 pruned
      // scan, which the pruned-ReadSchema assertion below pins.
      val scans = "embeddings\\.parquet".r.findAllIn(p).length
      assert(scans <= 3, s"embeddings scanned $scans times:\n${p.take(2500)}")
      assert(p.contains("ReadSchema: struct<label:int>"),
        "the n-count side reads more than the pruned group column:\n" +
          p.take(2500))
      assert(p.contains("BroadcastHashJoin"),
        "dim-keyed drift join not broadcast:\n" + p.take(2500))
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        "per-group sums not pinned (corpus-centroid side would rescan):\n" +
          p.take(2500))
      assert(!p.contains("CartesianProduct"), p.take(2500))
    } finally perGroup.unpersist(blocking = false)
  }

  test("hll overlap pair matrix: the non-equi (g1 < g2) pair join " +
      "broadcasts the detached |groups|-row register frame — the " +
      "corpus never shuffles into the pair algebra") {
    val p = plan("sketch_hll_overlap")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair join lost its broadcast:\n" + p.take(2500))
    assert(p.contains("Scan ExistingRDD"),
      "register frame not checkpoint-detached (pair join would " +
        "recompute the register build per side):\n" + p.take(2500))
  }

  test("windowFunnel's as-of walk rides the incrementally-maintained " +
      "growing frame — an unbounded-FOLLOWING frame is recomputed from " +
      "scratch per row by WindowExec, O(n²) on a hot key") {
    Seq("funnel_window", "funnel_window_strict_order",
      "funnel_window_strict_dedup", "seq_match_timed").foreach { q =>
      val p = plan(q).toLowerCase
      assert(!p.contains("unbounded following") &&
          !p.contains("unboundedfollowing"),
        s"$q frame regressed to unbounded-following:\n" + p.take(3000))
      assert(p.contains("unbounded preceding") || p.contains("unboundedpreceding"),
        s"$q: expected the growing frame:\n" + p.take(3000))
    }
  }

  test("ClickHouse-aggregate window passes keep the linear frame " +
      "direction (interval sweeps grow, moving sum slides bounded — " +
      "never unbounded-FOLLOWING) and groupUniqArray's cap rides " +
      "WindowGroupLimit") {
    Seq("agg_interval_length_sum", "agg_max_intersections",
      "agg_moving_sum", "agg_delta_sum", "seq_next_node").foreach { q =>
      val p = plan(q).toLowerCase
      assert(!p.contains("unbounded following") &&
          !p.contains("unboundedfollowing"),
        s"$q frame regressed to unbounded-following:\n" + p.take(3000))
    }
    val cap = plan("agg_group_uniq_array")
    assert(cap.contains("WindowGroupLimit"),
      "groupUniqArray's maxSize rank filter lost the WindowGroupLimit " +
        "pushdown (a mega-group would ship its full distinct set):\n" +
        cap.take(3000))
  }

  test("AQE splits the planted hot-key shuffle join (skew=true in the " +
      "final adaptive plan) — the engine's default skew mitigation; " +
      "Skew.saltedJoin is the fallback for skew AQE's byte thresholds " +
      "never see") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "65536")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    try {
      val facts = spark.range(200000)
        .select(lit(-1L).as("k"), $"id".as("payload"))
        .unionAll(spark.range(100000)
          .select(pmod($"id", lit(10000L)).as("k"), $"id".as("payload")))
      val dim = spark.range(10000).select($"id".as("dk"))
        .unionAll(Seq(-1L).toDF("dk"))
      // a bare join result: a downstream distribution requirement
      // (e.g. groupBy(k)) would make the skew split add a shuffle and
      // AQE would rightly decline it — the guard pins the SPLITTABLE
      // shape. Execute THIS df's own query execution (count() plans a
      // separate one and leaves this AQE plan unfinalized).
      val j = facts.join(dim, $"k" === $"dk")
      assert(j.queryExecution.toRdd.count() == 300000L)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not split the hot partition:\n" + p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("blocklist scan is map-only: no join, and the single exchange is " +
      "the deterministic output sort") {
    val p = plan("text_blocklist")
    assert(!p.contains("Join"), "blocklist gate grew a join:\n" + p.take(2000))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, // rangepartitioning for the oracle orderBy only
      s"expected 1 exchange (output sort), got $exchanges:\n" + p.take(2000))
  }

  test("armed quality verdict stays one codegen'd projection: no join, " +
      "no aggregate, one output-sort exchange") {
    val p = plan("corpus_blocklist_verdict")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "composed verdict no longer map-only:\n" + p.take(2000))
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("cm sketch accuracy: the grid reduces to ONE broadcast row, the " +
      "top-N side is a TakeOrdered, the probe join is broadcast") {
    val p = plan("sketch_cm_accuracy")
    assert(p.contains("TakeOrderedAndProject"),
      "top-N degraded to a global sort:\n" + p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "single-row sketch frame not broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("prototypes pruning: every join is broadcast (centroids and the " +
      "k-row cell-count frame); no corpus-side SMJ, no cartesian") {
    val p = plan("prune_prototypes")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "pruning grew a corpus-scale join:\n" + p.take(3000))
    assert(p.contains("Window"), p.take(2000)) // the per-cell rank cut
  }

  test("JL ANN: the query side rides a broadcast (the intended " +
      "broadcast-nested-loop scan), no SortMergeJoin, no raw cartesian") {
    val p = plan("ann_jl_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "query side lost its broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "JL stage grew a corpus-scale shuffle join:\n" + p.take(3000))
  }

  test("hard-negative mining keeps the brute contract: broadcast " +
      "anchors, no SMJ, no raw cartesian") {
    val p = plan("ann_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("c-TF-IDF: the corpus-scale aggregation is map-side combinable " +
      "(partial HashAggregate under the exchange); the scalar mean-class" +
      "-size frame is broadcast; no SMJ reaches the token stream") {
    val p = plan("corpus_class_tfidf")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "one-row stats frame not broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("Kneser-Ney scoring joins stay one-row-per-key hash joins with " +
      "a broadcast stats frame - no position self-join, no cartesian") {
    val p = plan("text_kneser_ney3")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "one-row stats frame not broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // every scoring join is an equi hash join against an aggregated
    // one-row-per-key frame — a position self-join would surface as a
    // join keyed on doc_id+pos, which nothing here has
    assert(!p.contains("SortMergeJoin"),
      "a model-frame join degraded to SMJ:\n" + p.take(3000))
  }

  test("Spearman rankCorr: both rank windows ride ONE hash exchange on " +
      "the key (two sorts inside it), no join anywhere") {
    val p = plan("agg_rank_corr")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "rankCorr grew a join:\n" + p.take(3000))
    // exactly one key exchange feeds the rank windows; the final
    // single-partition exchange (orderBy in the query row) is separate
    val keyExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(keyExchanges <= 2,
      s"expected the two rank windows to share one key exchange, " +
        s"saw $keyExchanges:\n" + p.take(3000))
  }

  test("KS test: per-value tie counts are a map-side-combinable " +
      "aggregate; the ECDF pass is a growing-frame window; no join") {
    val p = plan("agg_ks_test")
    assert(p.contains("HashAggregate") && p.contains("Window"),
      p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "ksTest grew a join:\n" + p.take(3000))
  }

  test("Theil's U: marginals re-aggregate the cell frame and join back " +
      "BROADCAST — no corpus-scale SMJ, no cartesian") {
    val p = plan("agg_theils_u")
    assert(p.contains("BroadcastHashJoin"),
      "marginal frames lost their broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("distinct-n diversity: every per-n branch is an aggregate over " +
      "the exploded gram stream — no join in the whole union") {
    val p = plan("corpus_distinct_ngrams")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "distinctNgrams grew a join:\n" + p.take(3000))
  }

  test("quantile normalization: all three windows share the per-source " +
      "partition — one key exchange, no join") {
    val p = plan("mix_quantile_norm")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "quantileNorm grew a join:\n" + p.take(3000))
    val keyExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(keyExchanges <= 1,
      s"expected one shared key exchange, saw $keyExchanges:\n" +
        p.take(3000))
  }

  test("fused MMR: the whole greedy loop is ONE query — the broadcast " +
      "shortlist join and a single per-query aggregate, no SMJ, no " +
      "cartesian, no per-round stages to audit at all") {
    val p = plan("ann_mmr_topk")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "shortlist lost its broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("Kaplan-Meier: subject aggregate + growing-frame windows, no " +
      "join anywhere in the survival arc") {
    val p = plan("retention_kaplan_meier")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "kaplanMeier grew a join:\n" + p.take(3000))
  }

  test("CUSUM: pure window arithmetic — no join, and both growing " +
      "frames ride the same (key, order) exchange") {
    val p = plan("dq_cusum_drift")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "cusum grew a join:\n" + p.take(3000))
    val keyExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(keyExchanges <= 1,
      s"expected one shared key exchange, saw $keyExchanges:\n" +
        p.take(3000))
  }

  test("Benford: the 9-digit expected frame rides a broadcast; the " +
      "digit counts stay a combinable aggregate; no SMJ") {
    val p = plan("dq_benford")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "expected frame lost its broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("JS matrix and KMV intersection: vocab/hash-keyed equi-joins " +
      "only — never a cartesian; the totals/theta frames broadcast") {
    val pj = plan("mix_js_matrix")
    assert(!pj.contains("CartesianProduct"), pj.take(3000))
    assert(pj.contains("BroadcastHashJoin"),
      "JS totals frame lost its broadcast:\n" + pj.take(2000))
    // kmvIntersect returns a DETACHED frame (a reliable checkpoint — the
    // kmvEstimate convention: internal persists freed, lineage
    // severed), so its downstream plan is exactly one ExistingRDD scan
    // — the join shapes live inside the operator and are covered by
    // the hash-match gate.
    val pk = plan("sketch_kmv_intersect")
    assert(pk.contains("Scan ExistingRDD") &&
      !pk.contains("Join") && !pk.contains("CartesianProduct"),
      "kmvIntersect stopped detaching its result:\n" + pk.take(2000))
  }

  test("robust per-dim scaling: both d-row stat frames broadcast back; " +
      "the scaling stage is join-light (no SMJ, no cartesian)") {
    val p = plan("emb_robust_scale")
    assert(p.contains("BroadcastHashJoin"),
      "stat frames lost their broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("quality filter panels are pure map stages: zero hash exchanges " +
      "(the one range exchange is the presentation orderBy)") {
    // no WholeStageCodegen substring assert: with AQE the un-finalized
    // plan string omits codegen annotations — the shuffle count is the
    // load-bearing property
    Seq("text_gopher_rules", "text_c4_filters").foreach { name =>
      val p = plan(name)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashExchanges == 0,
        s"$name grew a shuffle (expected map-only):\n${p.take(2000)}")
    }
  }

  test("PMI / burstiness / confusion / prefix-boilerplate: totals and " +
      "part-frames broadcast, never a cartesian product") {
    Seq("text_pmi_collocations", "corpus_burstiness",
      "corpus_langid_confusion", "corpus_prefix_boilerplate",
      "mix_dedup_rate_by_source").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name grew a cartesian:\n${p.take(3000)}")
    }
    // the one-row/part-frame joins must stay broadcast
    Seq("corpus_burstiness", "corpus_langid_confusion",
      "corpus_prefix_boilerplate").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost its broadcast join:\n${p.take(2000)}")
    }
  }

  test("idGaps: the corpus-scale window is bucket-partitioned (parallel), " +
      "never a single global-sort window over the ids") {
    val p = plan("dq_id_gaps")
    assert(p.contains("hashpartitioning(bucket"),
      "intra-bucket window lost its bucket partitioning:\n" + p.take(2500))
    // exactly one tiny single-partition stage is allowed: the
    // per-bucket boundary frame's ordered window
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1,
      s"expected at most 1 SinglePartition exchange, got $singles:\n" +
        p.take(2500))
  }
}
