package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Rounding

/** Similarity search over an embedding column (`array<float>`, or
  * `array<double>` for the feature-hashed text embeddings).
  *
  * Vector math on the HOT paths (cell assignment, PQ encode, ADC,
  * exact re-rank, pair cosine) runs as fused codegen'd expressions
  * ([[graft.functions.DotProduct]], [[graft.functions.L2DistanceSq]],
  * [[graft.functions.PqAdcDistance]], [[graft.functions.PqEncodeCodes]],
  * [[graft.functions.CosineSimilarity]]) — Spark's higher-order
  * functions are CodegenFallback (interpreted row-at-a-time even
  * inside a WholeStageCodegen stage), so the HOF spellings
  * ([[dot]]/[[l2Norm]]/[[cosine]]) remain only on the brute-force
  * oracle-parity paths. Both forms share one numeric contract — a
  * sequential left-to-right double fold with per-element casts,
  * bit-identical to the oracle's per-element SQL sum — so they are
  * interchangeable without moving a hash.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * against the full corpus — a map-only scan that parallelizes over
  * corpus partitions. The bucketed path is the IVF/LSH shape: a
  * deterministic sign-bucket over leading dimensions becomes the join
  * key, so each query only scans its bucket (candidate set shrinks
  * ~2^bits) — the 100 TB path, at the cost of approximate recall.
  */
object Similarity {

  /** The 4 columns every stored vector index row carries; anything else
    * in a stored table is caller payload (metaCols). */
  private[graft] val ReservedCoreIndexCols =
    Set("cell", "cand_id", "codes", "cv")

  /** Names the index build/query machinery owns end-to-end: payload
    * metaCols may not collide with these (shadowing inside
    * adcShortlistRerank would be silent). */
  private[graft] val ReservedIndexCols = ReservedCoreIndexCols ++
    Set("query_id", "qv", "adc_dist", "dist", "rank", "r")

  /** dot(a, b) in double, sequential fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity, rounded for cross-engine determinism.
    * Zero-norm operands (a token-free doc's hashed embedding is the
    * zero vector) score 0.0 — never the NaN of 0/0, which would poison
    * top-k ordering and diverge between engines. The SQL oracles carry
    * the same CASE guard.
    */
  def cosine(a: Column, b: Column, scale: Int = 6): Column = {
    val den = l2Norm(a) * l2Norm(b)
    Rounding.pround(when(den > 0, dot(a, b) / den).otherwise(lit(0.0)), scale)
  }

  /** The fused single-pass codegen'd cosine
    * ([[graft.functions.CosineSimilarity]]) with the same rounding and
    * zero-norm rule — bit-identical to [[cosine]] (same per-element
    * double fold; `ann_brute_topk` vs `ann_brute_topk_native` pin the
    * equality against one oracle), but it compiles to one loop instead
    * of interpreting three HOF folds per row, so every internal hot
    * path scores with THIS form.
    */
  def cosineFused(a: Column, b: Column, scale: Int = 6): Column =
    Rounding.pround(graft.functions.CosineSimilarity.column(a, b), scale)

  /** Sign-pattern bucket over the first `bits` dimensions — a
    * deterministic LSH family (hyperplanes = coordinate axes). Vectors in
    * the same orthant of the leading subspace share a bucket.
    */
  def signBucket(v: Column, bits: Int): Column =
    (1 to bits).map(i =>
      when(element_at(v, i) >= 0f, lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Exact brute-force top-k: for each query vector, the k nearest
    * corpus vectors by cosine. Query set is broadcast; the corpus scan
    * is embarrassingly parallel. Deterministic ordering: (score desc,
    * candidate id).
    *
    * `scoreFn` defaults to the HOF cosine; pass the fused native
    * expression (graft.functions.CosineSimilarity) for the single-pass
    * codegen'd variant — results are bit-identical.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int,
                     scoreFn: (Column, Column) => Column = cosine(_, _)): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // fanOut: the |corpus|×|queries| fused-cosine scan runs at scan
    // parallelism — one task on a single-row-group vector file
    val c = Par.fanOut(
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")))
    // the window shuffle carries only (query_id, cand_id, score) —
    // dropping qv/cv before the exchange cuts its row width from
    // ~2·dim·8 bytes to 24, the difference between shuffling the
    // corpus's vectors and shuffling its ids
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("score", scoreFn(col("qv"), col("cv")))
      .select("query_id", "cand_id", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep step, Karpukhin et al. EMNLP'20): for each anchor, the
    * k most-similar candidates with a DIFFERENT label — the negatives
    * that actually move a contrastive loss, vs random negatives the
    * model already separates. Same brute-force contract as
    * [[bruteForceTopK]] (broadcast anchors, map-only scan, slim
    * (query_id, cand_id, score) shuffle, ties (score desc, cand_id))
    * plus the label-mismatch gate — null-safe, so unlabeled rows are
    * negatives for every anchor rather than silently vanishing. At
    * scale the same shortlist ladder applies upstream (JL / binary /
    * IVF prefilter, then this exact re-rank over the shortlist);
    * `neg_label` rides along so the mined pairs are self-describing.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int,
                        scoreFn: (Column, Column) => Column = cosine(_, _))
      : DataFrame = {
    require(k >= 1, s"k >= 1 required: $k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"))
    val c = Par.fanOut(corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), col(labelCol).as("neg_label")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id") &&
        !(col("neg_label") <=> col("__ql")))
      .withColumn("score", scoreFn(col("qv"), col("cv")))
      .select("query_id", "cand_id", "neg_label", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "neg_label", "score", "rank")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98): per query, k picks greedily maximizing
    * λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s) — relevance traded
    * against redundancy, the diversity-aware final stage a retrieval
    * pipeline runs AFTER its ANN shortlist (λ=1 degenerates to plain
    * top-k; that equality is spec-pinned). The first pick has no
    * selected set; its penalty is 0 (mmr = λ·rel), so pick 1 is the
    * relevance argmax.
    *
    * Shape: the shortlist (any top-`shortlist` generator — brute here,
    * the IVF/JL tiers upstream at 100 TB) is the only corpus-sized
    * stage. Candidate vectors join back against the corpus with the
    * BROADCAST shortlist as build side; each query's candidates then
    * collect into ONE array row (bounded: shortlist·dim values) and
    * the whole greedy loop runs as a single higher-order-function
    * expression over that row — `aggregate(sequence(2, k), ...)` with
    * the selected set and the frontier carried as array state, the
    * per-step argmax as a fold. ZERO per-round Spark jobs: a driver
    * loop here spent ~8 s of pure orchestration overhead (job launch,
    * broadcast builds, per-round codegen) on 200 rows at sf0.1; the
    * fused form is one shuffle + one projection, and parallelism is
    * per-query — exactly how the work distributes at any corpus size.
    *
    * Determinism: scores and pairwise sims are pround(6) cosines, the
    * MMR combination is prounded at 1e-9 in a fixed order, ties break
    * on cand_id (the argmax fold replaces only on strictly-better),
    * and the candidate array is sorted (score desc, cand_id) before
    * the loop — the DuckDB oracle replays the greedy loop as
    * unrolled per-pick CTEs and hash-matches.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, lambda: Double, shortlist: Int,
              scoreFn: (Column, Column) => Column = cosine(_, _))
      : DataFrame = {
    require(k >= 1, s"k >= 1 required: $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    val short = bruteForceTopK(corpus, queries, idCol, vecCol, shortlist,
      scoreFn)
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    // one array row per query, sorted (score desc, cand_id) — the
    // negated-score struct key makes ascending sort_array the order
    // the greedy loop consumes
    val grouped = cv.join(broadcast(short), "cand_id")
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("ns"), col("cand_id"), col("score"),
        col("cv")))).as("cands"))
    def pickStruct(candId: Column, score: Column, mmr: Column,
                   pick: Column) =
      struct(candId.as("cand_id"), score.as("score"), mmr.as("mmr"),
        pick.cast("int").as("pick"))
    val firstC = element_at(col("cands"), 1)
    val zero = struct(
      array(pickStruct(firstC.getField("cand_id"),
        firstC.getField("score"),
        Rounding.pround(lit(lambda) * firstC.getField("score"), 9),
        lit(1))).as("sel"),
      array(firstC.getField("cv")).as("selv"),
      slice(col("cands"), lit(2),
        greatest(size(col("cands")) - 1, lit(0))).as("rem"))
    // sequence(2, 1) would step BACKWARDS ([2, 1]) — k = 1 means no
    // greedy rounds at all
    val iters =
      if (k >= 2) sequence(lit(2), lit(k)) else typedLit(Seq.empty[Int])
    val res = aggregate(
      iters,
      zero,
      (st, i) => {
        // HOFs are interpreted and every REFERENCE to an expression
        // re-evaluates its whole subtree — `best` appears ~7 times in
        // the step, so left unbound it would re-run the scored fold
        // (rem × selv cosines) each time, multiplying the work ~15×
        // (measured: 17 s vs 4 s at sf0.1). `transform(array(e), v =>
        // …)` is the expression language's let-binding: the lambda
        // argument is evaluated ONCE.
        val scored = transform(st.getField("rem"), c => struct(
          Rounding.pround(
            lit(lambda) * c.getField("score") - lit(1 - lambda) *
              array_max(transform(st.getField("selv"),
                sv => scoreFn(c.getField("cv"), sv))), 9).as("mmr"),
          c.as("c")))
        def argmax(sc: Column) =
          aggregate(sc, element_at(sc, 1), (b, x) =>
            when(x.getField("mmr") > b.getField("mmr") ||
              (x.getField("mmr") === b.getField("mmr") &&
                x.getField("c").getField("cand_id") <
                  b.getField("c").getField("cand_id")), x).otherwise(b))
        def stepped(best: Column) = struct(
          concat(st.getField("sel"), array(pickStruct(
            best.getField("c").getField("cand_id"),
            best.getField("c").getField("score"),
            best.getField("mmr"), i))).as("sel"),
          concat(st.getField("selv"),
            array(best.getField("c").getField("cv"))).as("selv"),
          filter(st.getField("rem"), r =>
            r.getField("cand_id") =!=
              best.getField("c").getField("cand_id")).as("rem"))
        val step = element_at(transform(array(scored), sc =>
          element_at(transform(array(argmax(sc)), b => stepped(b)),
            1)), 1)
        // an exhausted frontier (shortlist < k) keeps the state as-is
        when(size(st.getField("rem")) > 0, step).otherwise(st)
      })
    grouped
      .select(col("query_id"), explode(res.getField("sel")).as("p"))
      .select(col("query_id"), col("p.cand_id").as("cand_id"),
        col("p.score").as("score"), col("p.mmr").as("mmr"),
        col("p.pick").as("pick"))
  }

  /** Greedy k-center coreset (Gonzalez's farthest-first traversal, the
    * 2-approximation to the k-center cover): k points chosen so each
    * new pick is the corpus point FARTHEST from every previous pick —
    * the geometric-coverage data-selection rung beside the
    * SSL-prototypes pruner (which keeps per-cluster hardness bands;
    * this keeps the hull). `radius` of pick i is the max-min distance
    * at selection — a certified upper bound (×2) on the optimal
    * (i−1)-center covering radius, which is the number a curriculum /
    * active-learning budget reads.
    *
    * Shape: one running min-distance frame (id, vec, mind), persisted
    * per round; each of the k−1 rounds is ONE combinable argmax
    * aggregate (max of a (mind, −id) struct — no corpus sort) whose
    * single-row result is collected (k bounded, the model-pull
    * convention) and folded back as a literal center, then one
    * map-only `least` update. k corpus scans total, all cache-served
    * after round 1; the previous round's cache is freed only after the
    * next is materialized. At 100 TB run it over cluster prototypes or
    * a uniform sample — farthest-first is outlier-seeking by design,
    * so the sample bound is also a robustness lever.
    *
    * Deterministic: seed = min id, distances pround(6) squared-L2
    * (the fused codegen'd expression), ties on the argmax break to the
    * smallest id. Output (center_id, pick, radius); seed radius 0.
    */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k >= 1 required: $k")
    val spark = corpus.sparkSession
    val pts = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val dist = (a: Column, b: Column) => Rounding.pround(
      graft.functions.VectorExprs.l2DistSq(a, b), 6)
    val seedRow = pts.orderBy("id").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "kCenterCoreset: empty corpus"))
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Int, Double)](
      (seedRow.getLong(0), 1, 0.0))
    var state = pts
      .filter(col("id") =!= seedRow.getLong(0))
      .select(col("id"), col("v"),
        dist(col("v"), lit(seedRow.getSeq[Float](1).toArray)).as("mind"))
      .persist()
    var i = 2
    var exhausted = false
    while (i <= k && !exhausted) {
      val top = state
        .agg(max(struct(col("mind"), (-col("id")).as("nid"),
          col("v"))).as("c"))
        .select(col("c.mind"), col("c.nid"), col("c.v"))
        .collect().headOption.filter(!_.isNullAt(0))
      top match {
        case None => exhausted = true // fewer distinct points than k
        case Some(r) =>
          val cid = -r.getLong(1)
          picks += ((cid, i, r.getDouble(0)))
          if (i < k) {
            val cvec = lit(r.getSeq[Float](2).toArray)
            val next = state
              .filter(col("id") =!= cid)
              .select(col("id"), col("v"),
                least(col("mind"), dist(col("v"), cvec)).as("mind"))
              .persist()
            next.count() // materialize before freeing the parent cache
            state.unpersist()
            state = next
          }
      }
      i += 1
    }
    state.unpersist()
    import spark.implicits._
    picks.toSeq.toDF("center_id", "pick", "radius")
  }

  /** Approximate top-k via sign-bucket LSH: candidates limited to the
    * query's bucket. Same output shape as bruteForceTopK; recall trades
    * against the 2^bits candidate reduction.
    */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, bits: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      signBucket(col(vecCol), bits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("score",
        cosineFused(col("qv"), col("cv")))
      .select("query_id", "cand_id", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Recall@k of an ANN result against an exact top-k baseline — the
    * QA gate every approximate tier should publish next to its
    * latency. Both inputs are (query_id, cand_id, ...) frames; the
    * output is one `(query_id, hits, recall)` row per query in
    * `exact` (a query the ANN dropped entirely scores 0, not a
    * missing row). Pure metric arithmetic — `hits/k` divides two
    * exactly-converted integers, so it is hash-stable with no
    * rounding step.
    *
    * Scale shape: one equi-join on (query_id, cand_id) between two
    * k·|queries|-row frames plus a map-side-combinable count —
    * negligible next to producing either input.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val a = ann.select(col("query_id"), col("cand_id"))
    val e = exact.select(col("query_id"), col("cand_id"))
    val hits = e.join(a, Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    e.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("recall"))
  }

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * partitions the corpus into nlist cells; each query probes only its
    * nprobe nearest cells. The trained centroids are tiny and broadcast;
    * cell assignment is one map pass, so index build is O(corpus) and
    * each query scans ~corpus×nprobe/nlist candidates. The classic IVF
    * trade: recall rises with nprobe, cost with nprobe/nlist.
    *
    * Deterministic given the seed; recall is validated against
    * bruteForceTopK in SimilaritySpec rather than a SQL oracle (KMeans
    * has no DuckDB equivalent).
    */
  /** Bounded, deterministic, id-ordered training view for the KMeans
    * fits: the coarse quantizer and PQ codebooks need distribution
    * COVERAGE, not the population, so training on more than ~10⁵
    * vectors buys nothing while costing a corpus-scale pass per fit —
    * at 100 TB the difference between an index build that runs and one
    * that doesn't. [[Sampling.boundedSample]] gates membership by
    * md5(id) (no shuffle, no global sort); the trailing `orderBy` on
    * the ≤`maxTrain`-row survivor set makes KMeans initialization see a
    * stable row order, so the learned model — hence the whole index —
    * is reproducible for the same data regardless of partitioning.
    */
  private[graft] def trainView(df: DataFrame, idCol: String,
                               maxTrain: Int): DataFrame =
    Sampling.boundedSample(df, idCol, maxTrain.toLong, "vec-train")
      .orderBy(idCol)

  /** Train the IVF coarse quantizer; returns the broadcastable
    * (cell, centroid) frame. Callers pass the [[trainView]]-bounded
    * frame, not the raw corpus.
    */
  private def coarseCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
                              seed: Long): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .fit(train)
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    corpus.sparkSession.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
      .toDF("cell", "centroid")
  }

  /** `cdist` = squared L2 distance to each centroid up to the per-row
    * constant ||v||² (constant per vector → argmin-equivalent). The
    * dot products run as the fused codegen'd [[graft.functions.DotProduct]]
    * — this is a corpus×nlist scan, the widest row set the IVF tier
    * touches — with the HOF fold's exact accumulation order, so cell
    * assignments (and every oracle row derived from them) are
    * unchanged bit-for-bit.
    */
  private[graft] def withCellDist(centDf: DataFrame)(df: DataFrame,
                                              vec: String): DataFrame = {
    val dotN = (a: Column, b: Column) =>
      graft.functions.VectorExprs.dot(a, b)
    df.crossJoin(broadcast(centDf))
      .withColumn("cdist", dotN(col(vec), col("centroid")) * -2 +
        dotN(col("centroid"), col("centroid")))
      .drop("centroid")
  }

  /** Corpus side (the big one): nearest cell via min_by aggregation, NOT
    * a row_number window — the agg gets map-side partial aggregation
    * over the corpus×nlist candidate rows, so nothing corpus×nlist-sized
    * is ever sorted or shuffled; the shuffle carries one pre-reduced row
    * per (partition, doc). struct(cdist, cell) orders lexicographically
    * = (distance, cell) with the same tie-break the window used.
    */
  private[graft] def corpusCellAssignment(corpus: DataFrame, idCol: String,
                                          vecCol: String,
                                          centDf: DataFrame,
                                          fanBytesPerTask: Long = 0L)
      : DataFrame =
    withCellDist(centDf)(
      // fanOut: the corpus×nlist distance explode runs at scan
      // parallelism — one task on a single-row-group vector file.
      // Callers whose round-15 driver A/B showed the exchange losing at
      // bench scale (Kmeans.lloydFixed, ×0.40 at both core counts) pass
      // a bytes-per-task floor; the sem_dedup/IVF builds keep the
      // unconditional fan-out.
      Par.fanOut(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
        fanBytesPerTask),
      "cv")
      .groupBy(col("cand_id"))
      .agg(min_by(struct(col("cell"), col("cv")),
        struct(col("cdist"), col("cell"))).as("best"))
      .select(col("cand_id"), col("best.cell").as("cell"),
        col("best.cv").as("cv"))

  /** Query side stays a window: it must keep nprobe > 1 rows per query,
    * and the query set is tiny and broadcast anyway.
    */
  private def queryCellProbe(queries: DataFrame, idCol: String,
                             vecCol: String, centDf: DataFrame,
                             nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    withCellDist(centDf)(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "qv")
      .withColumn("r", row_number().over(w)).filter(col("r") <= nprobe)
      .drop("r", "cdist")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int,
              seed: Long = 42L, maxTrain: Int = 1 << 16): DataFrame = {
    val centDf = coarseCentroids(trainView(corpus, idCol, maxTrain),
      vecCol, nlist, seed)
    val corpusCells = corpusCellAssignment(corpus, idCol, vecCol, centDf)
    val queryCells = queryCellProbe(queries, idCol, vecCol, centDf, nprobe)
    val scored = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("score",
        cosineFused(col("qv"), col("cv")))
      .select("query_id", "cand_id", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Product-quantization ANN (ADC form): the vector-compression path
    * that makes billion-scale search affordable. Train: the dimension
    * axis splits into `nsub` subvectors and each gets its own KMeans
    * codebook of `ksub` centroids (train on a sample at 100 TB — the
    * codebook only needs distribution coverage). Encode: every corpus
    * vector becomes `nsub` small codes — here a PURE map pass: the
    * codebooks ride the codegen'd [[graft.functions.PqEncodeCodes]]
    * expression as a referenced float[] (constant-size generated code
    * at any codebook size), no join, no shuffle, and the encoded
    * corpus is nsub·log2(ksub) bits per vector (64-dim float → 8
    * bytes = 32× smaller — the memory factor that lets an index fit a
    * cluster). Query (asymmetric distance computation): the query
    * stays exact; each candidate's distance is the sum over
    * subvectors of ||q_j − centroid[code_j]||², evaluated by indexing
    * the referenced codebook with the candidate's stored code
    * ([[graft.functions.PqAdcDistance]]) — again map-only over a
    * broadcast query set.
    *
    * Recall is validated against exact L2 brute force in
    * SimilaritySpec (KMeans has no SQL-oracle equivalent, same rule as
    * IVF). Compose with [[ivfTopK]]'s cell routing for the full
    * IVF-PQ shape: cells bound the candidates, codes bound the bytes.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Float]]]): DataFrame =
    corpus.select(col(idCol).as("cand_id"),
      graft.functions.PqCodec.encode(col(vecCol),
        codebooks).as("codes"))

  /** Train `nsub` sub-quantizers of `ksub` centroids each. The training
    * frame (callers pass the [[trainView]]-bounded sample, never the
    * raw corpus) is pinned for the duration: it feeds the dim probe
    * plus `nsub` independent KMeans fits, and without the persist each
    * fit would recompute the whole lineage — `nsub`+1 scans instead of
    * one.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, nsub: Int, ksub: Int,
              seed: Long = 42L): Seq[Seq[Seq[Float]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Success, Try}
    val pinned = corpus.persist()
    try {
      val dim = pinned.select(size(col(vecCol))).head().getInt(0)
      require(dim % nsub == 0, s"dim $dim not divisible by nsub=$nsub")
      val subDim = dim / nsub
      // the nsub sub-quantizer fits are independent (disjoint feature
      // slices, per-fit seeds) — submit them as concurrent Spark jobs.
      // The training frame is bounded (trainView) and pinned, so each
      // fit is tens of tiny jobs; run sequentially the build pays
      // nsub× the per-job scheduling latency for no reason. Results
      // are unchanged: determinism lives in (data, seed+j), not in
      // submission order.
      //
      // Failure discipline: each future is wrapped in Try so the await
      // waits for EVERY fit to settle — a failed fit must not let the
      // `finally` unpersist the pinned frame out from under siblings
      // still scanning it. The first failure rethrows only after all
      // have finished, and the bounded timeout turns a hung fit into a
      // loud error instead of blocking the build forever.
      val fits: Seq[Future[Try[Seq[Seq[Float]]]]] = (0 until nsub).map { j =>
        Future {
          val train = pinned.select(array_to_vector(
            slice(col(vecCol), j * subDim + 1, subDim)).as("features"))
          new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(10).fit(train)
            .clusterCenters.map(_.toArray.map(_.toFloat).toSeq).toSeq
        }.transform(Success(_))
      }
      val settled = Await.result(Future.sequence(fits), 2.hours)
      settled.map(_.get)
    } finally pinned.unpersist(blocking = false)
  }

  /** ADC top-k over a pq-encoded corpus: smallest approximate L2
    * distance first, candidate id tie-break.
    */
  def pqTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int,
             codebooks: Seq[Seq[Seq[Float]]]): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val dist = graft.functions.PqCodec.adc(col("codes"), col("qv"), codebooks)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("approx_dist", Rounding.pround(dist, 6))
      .select("query_id", "cand_id", "approx_dist")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "approx_dist", "rank")
  }

  /** IVF-PQ: the full billion-scale composition — IVF cells bound WHICH
    * candidates are scored (~nprobe/nlist of the corpus per query), PQ
    * codes bound the BYTES per scored candidate (ADC against 8-byte
    * codes), and the exact re-rank restores precision on the k·overquery
    * shortlist. The index is (cell, codes, raw vector) per corpus row:
    * cells + codes answer the scan, the raw vector is touched only for
    * shortlisted rows. This simplified form quantizes raw vectors (FAISS
    * quantizes cell residuals — one subtraction better in accuracy,
    * same plan shape).
    */
  /** Cell-relative residuals (the FAISS refinement): PQ codebooks
    * quantize `v − centroid[cell]` instead of `v`. Residuals of a cell
    * cluster around zero with much smaller variance than raw vectors,
    * so the same nsub·log2(ksub) bits buy a tighter quantization — and
    * because query and candidate subtract the SAME probed centroid,
    * ||q−c[cell] − (v−c[cell])||² = ||q−v||² exactly: the ADC still
    * approximates the true distance, just with less quantization error.
    * One broadcast join + one zip_with per row; plan shape unchanged.
    */
  private[graft] def withResiduals(corpusCells: DataFrame,
                                   centDf: DataFrame): DataFrame =
    corpusCells.join(broadcast(centDf), Seq("cell"))
      .withColumn("rv", zip_with(col("cv"), col("centroid"), (x, y) => x - y))
      .drop("centroid")

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int, nprobe: Int,
                nsub: Int, ksub: Int, overquery: Int = 5,
                seed: Long = 42L, residual: Boolean = false,
                maxTrain: Int = 1 << 16): DataFrame = {
    val centDf = coarseCentroids(trainView(corpus, idCol, maxTrain),
      vecCol, nlist, seed)
    val cells = corpusCellAssignment(corpus, idCol, vecCol, centDf)
    // codes projected in place on the assignment/residual frame (same
    // rows as the old separate pqEncode + cand_id join — see
    // writeVectorIndex): one assignment pass, no corpus-scale join
    val (books, indexed) =
      if (residual) {
        val res = withResiduals(cells, centDf)
        // train on the bounded id-ordered view (trainView): KMeans
        // initialization samples by partition, and the residual frame
        // sits behind a shuffle whose row order is not execution-stable
        // — the bounded ordered sample makes the learned codebooks
        // (hence the whole index) reproducible for same data, at
        // bounded cost no matter the corpus size
        val b = pqTrain(trainView(res, "cand_id", maxTrain), "rv",
          nsub, ksub, seed)
        (b, res.select(col("cell"), col("cand_id"),
          graft.functions.PqCodec.encode(col("rv"), b).as("codes"),
          col("cv")))
      } else {
        val b = pqTrain(trainView(corpus, idCol, maxTrain), vecCol,
          nsub, ksub, seed)
        (b, cells.select(col("cell"), col("cand_id"),
          graft.functions.PqCodec.encode(col("cv"), b).as("codes"),
          col("cv")))
      }
    val probes = queryCellProbe(queries, idCol, vecCol, centDf, nprobe)
    adcShortlistRerank(indexed, probes, books, k, overquery,
      if (residual) Some(centDf) else None,
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")))
  }

  /** The shared IVF-PQ query tail: ADC over the (cell-joined) candidate
    * rows → k·overquery shortlist → exact L2 re-rank to k. Both the
    * in-memory path ([[ivfPqTopK]]) and the stored-index path
    * ([[ivfPqTopKFromIndex]]) run THIS code, so their results are equal
    * by construction whenever centroids/codebooks/codes are.
    *
    * `residualCentroids`: when the codes quantize cell residuals, the
    * query side must subtract the SAME probed-cell centroid before the
    * ADC — the (tiny) centroid table rides the broadcast probe join.
    *
    * `vectors` is the (cand_id, cv) source for the exact re-rank. The
    * ADC pass never touches it: the shortlist window exchange carries
    * only (query_id, cand_id, adc_dist) — at d=768 a raw float vector
    * is ~100× the 8-byte code, so dragging cv/qv through that
    * corpus-fraction shuffle would cost more than the ADC scan itself —
    * and in the stored path column pruning drops the vector column
    * from the ADC scan's parquet read entirely. Only the k·overquery
    * survivors fetch vectors, via broadcast joins against this
    * map-only scan.
    */
  private def adcShortlistRerank(indexed: DataFrame, probes: DataFrame,
                                 books: Seq[Seq[Seq[Float]]], k: Int,
                                 overquery: Int,
                                 residualCentroids: Option[DataFrame],
                                 vectors: DataFrame)
      : DataFrame = {
    val (probeSide, adcQueryVec) = residualCentroids match {
      case Some(centDf) =>
        (probes.join(broadcast(centDf), Seq("cell"))
          .withColumn("qres",
            zip_with(col("qv"), col("centroid"), (x, y) => x - y))
          .drop("centroid"), "qres")
      case None => (probes, "qv")
    }
    // both scorers are the fused codegen'd forms: the ADC carries the
    // codebooks as a float[] reference (constant-size generated code at
    // any nsub/ksub — the typedLit spelling blew the 64 KB method limit
    // and fell back to interpreted), the exact re-rank is the fused L2
    val adc = graft.functions.PqCodec.adc(col("codes"), col(adcQueryVec), books)
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("cand_id"))
    val shortIds = indexed.join(broadcast(probeSide), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("adc_dist", adc)
      .select("query_id", "cand_id", "adc_dist")
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val qvs = probes.select(col("query_id"), col("qv"))
      .dropDuplicates("query_id")
    val exactDist = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("cand_id"))
    vectors.join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(qvs), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exactDist, 6))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** Persist the IVF-PQ vector index — the "build once, query many"
    * split for ANN, mirroring Retrieval.writeIndex (BM25) and the
    * minhash signature index. One corpus-scale pass trains the coarse
    * quantizer and PQ codebooks, then stores:
    *
    *   - `table`              (cell, cand_id, codes, cv) — one row per
    *     corpus vector, BUCKETED BY cell so the per-query cell probe
    *     join is exchange-free on the corpus side; `cv` rides along so
    *     the exact re-rank never touches the raw corpus either
    *   - `table_centroids`    (cell, centroid) — nlist rows, broadcast
    *     at query time for the query-side probe
    *   - `table_codebooks`    (sub, code, centroid) — nsub·ksub rows,
    *     collected to the driver at query time and carried by the ADC
    *     expression as a referenced float[] (same codegen'd codec as
    *     the in-memory path)
    *
    * At 100 TB: training runs on a bounded deterministic sample
    * ([[trainView]], ≈`maxTrain` rows — codebooks only need
    * distribution coverage), encode is a map pass, and the one shuffle
    * is the bucketed write; every later query costs ~nprobe/nlist of a
    * corpus scan over 8-byte codes, zero retraining. New vectors join
    * the index through [[appendVectors]] without touching any of this.
    */
  def writeVectorIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       table: String, nlist: Int, nsub: Int, ksub: Int,
                       seed: Long = 42L, buckets: Int = 8,
                       residual: Boolean = false,
                       maxTrain: Int = 1 << 16): Unit = {
    val spark = corpus.sparkSession
    val centDf = coarseCentroids(trainView(corpus, idCol, maxTrain),
      vecCol, nlist, seed)
    val cells = corpusCellAssignment(corpus, idCol, vecCol, centDf)
    // The codes column is computed IN PLACE on the assignment (or
    // residual) frame: PqCodec.encode is a deterministic per-row map, so
    // projecting it next to (cell, cand_id, cv) yields byte-identical
    // index rows to the old separate pqEncode + equi-join — while the
    // join (a corpus-scale shuffle) and its second evaluation of the
    // cell-assignment aggregation disappear from the plan entirely: the
    // build is now ONE assignment pass + the bucketed write.
    val (books, indexed, pinned) =
      if (residual) {
        // the residual frame feeds the bounded sub-quantizer training +
        // the encode projection — pin it so assignment runs once
        val res = withResiduals(cells, centDf).persist()
        // bounded id-ordered training view — see ivfPqTopK
        val b = pqTrain(trainView(res, "cand_id", maxTrain), "rv",
          nsub, ksub, seed)
        (b, res.select(col("cell"), col("cand_id"),
          graft.functions.PqCodec.encode(col("rv"), b).as("codes"),
          col("cv")), Some(res))
      } else {
        val b = pqTrain(trainView(corpus, idCol, maxTrain), vecCol,
          nsub, ksub, seed)
        // cells.cv IS the corpus vector, so encode(cv) ≡ the old
        // pqEncode over the raw corpus for the same cand_id
        (b, cells.select(col("cell"), col("cand_id"),
          graft.functions.PqCodec.encode(col("cv"), b).as("codes"),
          col("cv")), None)
      }
    graft.sources.IO.writeBucketedTable(indexed, table, "cell", buckets)
    pinned.foreach(_.unpersist(blocking = false))
    writeModelTables(spark, table, centDf, books, residual)
  }

  /** Persist the centroid + codebook side tables of a vector index —
    * shared by the trained build ([[writeVectorIndex]]) and the
    * bring-your-own-model build ([[writeVectorIndexWithModel]]).
    */
  private def writeModelTables(spark: SparkSession, table: String,
                               centDf: DataFrame,
                               books: Seq[Seq[Seq[Float]]],
                               residual: Boolean): Unit = {
    graft.sources.IO.writeBucketedTable(centDf, table + "_centroids",
      "cell", 1)
    // the residual flag rides the codebook rows so the query side can
    // NEVER be mismatched against how the codes were built
    val bookRows = for {
      (book, j) <- books.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield (j, c, cent, residual)
    graft.sources.IO.writeBucketedTable(
      spark.createDataFrame(bookRows)
        .toDF("sub", "code", "centroid", "residual"),
      table + "_codebooks", "sub", 1)
  }

  /** Persist an IVF-PQ index from a CALLER-SUPPLIED model (coarse
    * centroids + PQ codebooks) — FAISS's `train` elsewhere / `add`
    * here split, and the fully-deterministic form: with a fixed model
    * the whole stored index (cells, codes, side tables) is a pure
    * function of the corpus, so the stored-index QUERY path gets a
    * hash-matched SQL oracle (`ann_ivfpq_indexed_fixed`) — the trained
    * build can't (KMeans has no SQL equivalent). Also the entry point
    * for models trained offline or imported from another system. One
    * map/broadcast encode pass + the bucketed write, no training scan.
    */
  def writeVectorIndexWithModel(corpus: DataFrame, idCol: String,
                                vecCol: String, table: String,
                                centroids: Seq[Seq[Float]],
                                books: Seq[Seq[Seq[Float]]],
                                residual: Boolean = false,
                                buckets: Int = 8,
                                metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val clash = metaCols.filter(m =>
      ReservedIndexCols.contains(m) || m == idCol)
    require(clash.isEmpty,
      s"writeVectorIndexWithModel: metaCols ${clash.mkString(", ")} " +
        "collide with reserved index/query columns " +
        s"(${ReservedIndexCols.toSeq.sorted.mkString(", ")}) or the id " +
        "column — rename them in the corpus before indexing")
    val centDf = spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    val encoded = encodeForIndex(corpus, idCol, vecCol, centDf, books,
      residual)
    // metadata columns ride IN the index rows (a payload-carrying
    // index, Qdrant/Milvus-style): filtered queries then push their
    // predicate into the bucketed table's parquet scan instead of
    // joining a side table per query. Build-time cost: one extra
    // equi-join against a 2-column pruned scan of the corpus.
    val rows =
      if (metaCols.isEmpty) encoded
      else encoded.join(
        corpus.select(col(idCol).as("cand_id") +: metaCols.map(col): _*),
        Seq("cand_id"))
    graft.sources.IO.writeBucketedTable(rows, table, "cell", buckets)
    writeModelTables(spark, table, centDf, books, residual)
  }

  /** Rehydrate the PQ codebooks (and the residual-encoding flag) from
    * the stored index: nsub·ksub rows — driver-side metadata, same
    * class of bounded collect as partition listings — back into the
    * nested-Seq form the ADC codec expression references.
    */
  def readCodebooksAndMode(spark: SparkSession,
                           table: String): (Seq[Seq[Seq[Float]]], Boolean) = {
    val df = spark.table(table + "_codebooks")
    // pre-flag indexes (no `residual` column) were raw-vector encoded
    val hasFlag = df.columns.contains("residual")
    val rows = df.collect()
    val books = rows
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
    (books, hasFlag && rows.headOption.exists(_.getBoolean(3)))
  }

  def readCodebooks(spark: SparkSession, table: String): Seq[Seq[Seq[Float]]] =
    readCodebooksAndMode(spark, table)._1

  /** IVF-PQ top-k against the STORED index: the corpus arrives
    * exclusively from the three index tables — no KMeans retrain, no
    * re-encode, no raw-corpus scan (PlanAuditSpec pins this). Query
    * semantics are identical to [[ivfPqTopK]] (same
    * [[adcShortlistRerank]] tail), so results match the in-memory path
    * exactly for the same build parameters; whether the codes are
    * residual-encoded is read FROM the index, not trusted to the
    * caller.
    */
  def ivfPqTopKFromIndex(spark: SparkSession, table: String,
                         queries: DataFrame, idCol: String, vecCol: String,
                         k: Int, nprobe: Int,
                         overquery: Int = 5): DataFrame =
    ivfPqTopKOverRows(spark.table(table), spark.table(table + "_centroids"),
      readCodebooksAndMode(spark, table), queries, idCol, vecCol, k, nprobe,
      overquery)

  /** The stored-index query over an EXPLICIT row set — same semantics as
    * [[ivfPqTopKFromIndex]], but the (cell, cand_id, codes, cv) rows are
    * supplied by the caller instead of read from the catalog table.
    * This is the composition point for index rows that live in more
    * than one place: [[graft.streaming.VecStream]] unions the bucketed
    * base table with micro-batch partitions that streamed in after the
    * build, and queries both uniformly through this entry.
    */
  def ivfPqTopKOverRows(indexed: DataFrame, centDf: DataFrame,
                        model: (Seq[Seq[Seq[Float]]], Boolean),
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int,
                        overquery: Int = 5): DataFrame = {
    val (books, residual) = model
    val probes = queryCellProbe(queries, idCol, vecCol, centDf, nprobe)
    adcShortlistRerank(indexed, probes, books, k, overquery,
      if (residual) Some(centDf) else None,
      indexed.select(col("cand_id"), col("cv")))
  }

  /** Encode rows into stored-index form — (cell, cand_id, codes, cv) —
    * against an EXISTING model (centroids + codebooks + residual mode).
    * Pure map/broadcast work over `rows`: cell assignment is an argmin
    * against the broadcast centroids, codes come from the literal
    * codebook argmin, and the one aggregation is the per-row min_by of
    * cell assignment. Shared by the build tail and [[appendVectors]] so
    * appended rows are byte-identical to what a full build with the
    * same model would have produced.
    */
  private[graft] def encodeForIndex(rows: DataFrame, idCol: String,
                                    vecCol: String, centDf: DataFrame,
                                    books: Seq[Seq[Seq[Float]]],
                                    residual: Boolean): DataFrame = {
    val cells = corpusCellAssignment(rows, idCol, vecCol, centDf)
    // codes projected in place on the assignment/residual frame (see
    // writeVectorIndex): identical rows, no re-assignment, no join
    if (residual)
      withResiduals(cells, centDf).select(col("cell"), col("cand_id"),
        graft.functions.PqCodec.encode(col("rv"), books).as("codes"),
        col("cv"))
    else
      cells.select(col("cell"), col("cand_id"),
        graft.functions.PqCodec.encode(col("cv"), books).as("codes"),
        col("cv"))
  }

  /** Incremental index maintenance: encode `newRows` with the STORED
    * model and append them to the stored index — no KMeans retrain, no
    * re-encode of the existing corpus, per-batch cost ∝ |new|. The ANN
    * analogue of the minhash signature index's incremental path (and
    * the shape FAISS calls `add` vs `train`): centroids and codebooks
    * are fixed at build time; new vectors only get assigned and coded.
    * Queries via [[ivfPqTopKFromIndex]] see old and new rows uniformly.
    *
    * Caller owns id uniqueness (same contract as the minhash index):
    * appending an id that already exists in the index yields two index
    * rows for it. Quantization drift is the known trade — if the data
    * distribution moves far from the training sample, recall decays
    * and a rebuild is the remedy (cheap: one bounded retrain + one
    * corpus-scale encode pass).
    */
  def appendVectors(spark: SparkSession, table: String, newRows: DataFrame,
                    idCol: String, vecCol: String): Unit = {
    val centDf = spark.table(table + "_centroids")
    val (books, residual) = readCodebooksAndMode(spark, table)
    val encoded = encodeForIndex(newRows, idCol, vecCol, centDf, books,
      residual)
    // A payload-carrying index (built with metaCols) stores columns
    // beyond the core 4; appended rows must carry them too or the
    // schema-aligned append throws an opaque AnalysisException. Join
    // them from newRows exactly like the build does — and fail with
    // the actual contract when newRows can't supply them.
    val metaCols = spark.table(table).columns.toSeq
      .filterNot(ReservedCoreIndexCols.contains)
    val missing = metaCols.filterNot(newRows.columns.contains)
    require(missing.isEmpty,
      s"appendVectors: stored index '$table' carries metadata columns " +
        s"[${metaCols.mkString(", ")}] but newRows lacks " +
        s"[${missing.mkString(", ")}] — supply them (the index is " +
        "payload-carrying; every appended row needs its payload)")
    val rows =
      if (metaCols.isEmpty) encoded
      else encoded.join(
        newRows.select(col(idCol).as("cand_id") +: metaCols.map(col): _*),
        Seq("cand_id"))
    graft.sources.IO.appendToBucketedTable(rows, table)
  }

  /** ADC shortlist → exact re-rank: the production PQ arc. The coarse
    * 8-byte codes overquery a k·`overquery` shortlist (map-only over
    * the encoded corpus), then ONLY those candidates fetch their raw
    * vectors — the corpus joins the tiny broadcast shortlist map-side —
    * and exact L2 re-ranks to k. Exact math runs on k·overquery rows
    * per query instead of the corpus; recall approaches brute force at
    * PQ scan cost (SimilaritySpec: ≥0.8 vs raw ADC's ~0.35 here).
    */
  def pqTopKRefined(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    codebooks: Seq[Seq[Seq[Float]]],
                    overquery: Int = 5): DataFrame = {
    val shortlist = pqTopK(encoded, queries, idCol, vecCol, k * overquery,
      codebooks).select("query_id", "cand_id")
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val exactDist = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val scored = cv.join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exactDist, 6))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** Per-dimension SQ8 quantization bounds: `(mins, deltas)` with
    * `delta_d = (max_d − min_d) / 255`, from ONE corpus scan of `dim`
    * min/max aggregates (map-side-combinable partials — no explode, no
    * shuffle beyond the single-row final agg). Training IS this
    * aggregate: unlike PQ there is no KMeans, which is why the whole
    * SQ8 arc is SQL-oracle-checkable. Bounds are global (not sampled)
    * so every corpus value encodes clamp-free; one pass over 100 TB is
    * the floor for any codec build anyway.
    */
  def sq8Stats(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val aggs = (1 to dim).flatMap(d => Seq(
      min(element_at(col(vecCol), d)).cast("double").as(s"mn$d"),
      max(element_at(col(vecCol), d)).cast("double").as(s"mx$d")))
    val row = corpus.agg(aggs.head, aggs.tail: _*).head()
    val mins = Array.tabulate(dim)(d => row.getDouble(2 * d))
    val deltas = Array.tabulate(dim)(d => (row.getDouble(2 * d + 1) - mins(d)) / 255.0)
    (mins, deltas)
  }

  /** SQ8-encode the corpus: one map pass, 4× smaller than float32
    * (byte-range codes; stored as `array<int>` — the plan shape, not
    * the storage encoding, is what the engine controls).
    */
  def sq8Encode(corpus: DataFrame, idCol: String, vecCol: String,
                mins: Array[Double], deltas: Array[Double]): DataFrame =
    corpus.select(col(idCol).as("cand_id"),
      graft.functions.Sq8Codec.encode(col(vecCol),
        mins, deltas).as("codes"))

  /** SQ8 ANN: train (min/max scan) → encode (map pass) → ADC scan of
    * the 8-bit codes against the broadcast query set → k·`overquery`
    * shortlist → exact L2 re-rank of shortlisted raw vectors. Same
    * production arc as [[pqTopKRefined]] with the scalar codec: ~4×
    * byte reduction at near-lossless recall (8 bits/dim vs PQ's
    * ~1-2 bits/dim), the standard first compression rung before PQ.
    *
    * Deterministic end-to-end — `ann_sq8_topk`'s DuckDB replica
    * hash-checks training, encode, ADC ordering and re-rank. Shortlist
    * cuts compare RAW ADC doubles (every term IEEE-identical across
    * engines); only the reported exact distance is rounded.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, overquery: Int = 5): DataFrame = {
    val (mins, deltas) = sq8Stats(corpus, vecCol)
    val encoded = sq8Encode(corpus, idCol, vecCol, mins, deltas)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val adc = graft.functions.Sq8Codec.adc(col("codes"), col("qv"),
      mins, deltas)
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    val shortlist = encoded.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("approx_dist", adc)
      .select("query_id", "cand_id", "approx_dist")
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val exactDist = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val wK = Window.partitionBy("query_id").orderBy(col("dist"), col("cand_id"))
    cv.join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exactDist, 6))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** IVF-SQ8: coarse cells bound WHICH candidates each query scores
    * (~nprobe/nlist of the corpus), SQ8 codes bound the BYTES per
    * scored candidate (8 bits/dim vs float32's 32), and the exact
    * re-rank restores precision on the shortlist — the same
    * billion-scale composition as [[ivfPqTopK]] with the scalar codec
    * swapped in (FAISS `IVF…,SQ8`). Centroids are bring-your-own (the
    * train-elsewhere/add-here split), so with fixed cells the ENTIRE
    * path — SQ8 min/max training included — is closed-form arithmetic
    * and `ann_ivf_sq8_topk` hash-checks it end-to-end; no other
    * IVF variant can oracle its own training.
    */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, centroids: Seq[Seq[Float]],
                 nprobe: Int, overquery: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    val centDf = spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    val (mins, deltas) = sq8Stats(corpus, vecCol)
    val encoded = corpusCellAssignment(corpus, idCol, vecCol, centDf)
      .withColumn("codes",
        graft.functions.Sq8Codec.encode(col("cv"), mins, deltas))
    val probes = queryCellProbe(queries, idCol, vecCol, centDf, nprobe)
    val adc = graft.functions.Sq8Codec.adc(col("codes"), col("qv"),
      mins, deltas)
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    // slim shortlist window (ids + approx distance only), then the
    // k*overquery survivors fetch raw vectors back via broadcast joins
    // — same discipline as adcShortlistRerank: the probed-fraction
    // shuffle moves 24-byte rows, never dim-wide vectors
    val shortIds = encoded.join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("approx_dist", adc)
      .select("query_id", "cand_id", "approx_dist")
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val qvs = probes.select(col("query_id"), col("qv"))
      .dropDuplicates("query_id")
    val exactDist = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val wK = Window.partitionBy("query_id").orderBy(col("dist"), col("cand_id"))
    corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(qvs), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exactDist, 6))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** Matryoshka / truncated-dimension two-stage ANN (Kusupati et al.,
    * NeurIPS 2022, arXiv:2205.13147): MRL-trained embeddings front-load
    * coarse semantics into the leading dimensions, so stage 1 ranks
    * every candidate by L2 over only the first `dPrefix` dims —
    * dPrefix/d of the bytes and flops of a full scan, no trained
    * state at all — and stage 2 re-ranks the k·overquery shortlist
    * with full-dimension exact L2. The no-codebook sibling of the
    * PQ/SQ8 shortlist paths, sharing their slim-window discipline
    * (the corpus-scale exchange carries ids + one double); being pure
    * closed-form arithmetic the WHOLE arc is oracle-checkable.
    */
  def truncatedRerankTopK(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          dPrefix: Int, overquery: Int = 5): DataFrame = {
    require(dPrefix >= 1, s"dPrefix >= 1 required: $dPrefix")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // fanOut: stage-1 prefix-distance scan runs at scan parallelism
    val c = Par.fanOut(
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")))
    val approx = graft.functions.VectorExprs.l2DistSq(
      slice(col("qv"), 1, dPrefix), slice(col("cv"), 1, dPrefix))
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy("query_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    val shortIds = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("approx_dist", approx)
      .select("query_id", "cand_id", "approx_dist")
      .withColumn("r", row_number().over(wA))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val exact = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("cand_id"))
    c.join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exact, 6))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** Johnson–Lindenstrauss two-stage ANN: stage 1 ranks candidates by
    * L2 over a k-dim SEEDED SIGN PROJECTION ([[Pca.jlSigns]] —
    * Achlioptas ±1/√k entries, JL lemma distance preservation), stage 2
    * re-ranks the k·overquery shortlist with full-dimension exact L2.
    * The data-independent rung of the prefilter ladder: matryoshka
    * assumes MRL-trained embeddings and PCA needs a gram pass — a JL
    * prefilter works on ANY embedding column with no training state at
    * all, and the projection is a pure map (kProj fused dots per row)
    * that can be precomputed and stored at index time (kProj doubles
    * per row, d/kProj× smaller than the raw vectors — the stage-1 scan
    * then never touches the float column).
    *
    * Scale shape: identical to [[truncatedRerankTopK]] — broadcast
    * query side, map-only stage-1 scan whose shortlist exchange
    * carries (query_id, cand_id, approx) slim rows, broadcast-join
    * re-rank over k·overquery rows per query. Pure closed-form
    * arithmetic end to end (seeded signs are dyadic literals), so the
    * WHOLE arc is oracle-checkable — no other trained-free rung gives
    * a tunable prefilter dimension independent of how the embeddings
    * were produced.
    */
  def jlRerankTopK(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   signs: Seq[Seq[Double]], overquery: Int = 5): DataFrame = {
    require(signs.nonEmpty, "at least one projection row required")
    require(k >= 1, s"k >= 1 required: $k")
    def proj(v: Column): Column = array(signs.map { row =>
      graft.functions.VectorExprs.dot(v, typedLit(row.toArray))
    }: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      proj(col(vecCol)).as("qp"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      proj(col(vecCol)).as("cp"))
    val approx = graft.functions.VectorExprs.l2DistSq(col("qp"), col("cp"))
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy("query_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    val shortIds = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("approx_dist", approx)
      .select("query_id", "cand_id", "approx_dist")
      .withColumn("r", row_number().over(wA))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val exact = graft.functions.VectorExprs.l2DistSq(col("qv"), col("cv"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("cand_id"))
    c.join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(q.select("query_id", "qv")), Seq("query_id"))
      .withColumn("dist", Rounding.pround(exact, 6))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "dist", "rank")
  }

  /** Binary (sign) quantization ANN: every vector's per-dimension sign
    * bits pack into `ceil(d/64)` longs (32× smaller than float32 —
    * [[graft.functions.SignPack]]), the Hamming distance over the
    * packed codes is the shortlist metric (Charikar STOC'02: sign
    * disagreements estimate the angle, one `Long.bitCount` per 64
    * dims), and the k·overquery shortlist re-ranks with the exact
    * fused cosine. The cheapest trained-state-free rung of the ANN
    * ladder — below matryoshka (which still scans dPrefix floats) and
    * far below SQ8/PQ in both bytes and multiplies.
    *
    * Scale shape: identical to [[truncatedRerankTopK]] — a map-only
    * broadcast-query scan whose shortlist exchange carries only
    * (query_id, cand_id, hamming), then a broadcast-join re-rank over
    * k·overquery rows per query. At index time the codes column can be
    * stored (it is a plain `array<long>`), making the scan read
    * d/8 bytes per candidate instead of 4d.
    *
    * Deterministic: shortlist ties break (hamming asc, cand_id),
    * re-rank ties (score desc, cand_id) — the brute-force contract.
    * Whole arc is trained-state-free, so `ann_binary_topk` hash-matches
    * a complete DuckDB replica (naive sign-disagreement count — packed
    * equivalence is pinned in SimilaritySpec).
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        overquery: Int = 5): DataFrame = {
    require(k >= 1, s"k >= 1 required: $k")
    require(overquery >= 1, s"overquery >= 1 required: $overquery")
    import graft.functions.VectorExprs
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorExprs.signPack(col(vecCol)).as("qcodes"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      VectorExprs.signPack(col(vecCol)).as("ccodes"))
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("cand_id"))
    val shortIds = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("hamming",
        VectorExprs.hammingCodes(col("qcodes"), col("ccodes")))
      .select("query_id", "cand_id", "hamming")
      .withColumn("r", row_number().over(wH))
      .filter(col("r") <= k * overquery)
      .select("query_id", "cand_id")
    val wK = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id"))
    c.select("cand_id", "cv").join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(q.select("query_id", "qv")), Seq("query_id"))
      .withColumn("score", cosineFused(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Embedding near-duplicate pairs: sign-bucket prefilter (same-bucket
    * candidates only — one equi-join shuffle) then exact cosine
    * threshold. The embedding analogue of MinHash-LSH + verify.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   bits: Int, minCosine: Double): DataFrame = {
    val v = corpus.select(col(idCol), col(vecCol),
      signBucket(col(vecCol), bits).as("bucket"))
    val a = v.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("bucket"))
    val b = v.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score",
        cosineFused(col("va"), col("vb")))
      .filter(col("score") >= minCosine)
      .select("id_a", "id_b", "score")
  }

  // --- SemDeDup ---------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over embeddings — cluster the corpus with the IVF
    * coarse quantizer, call same-cluster pairs with cosine ≥
    * `minCosine` semantic duplicates, connect them into groups, and
    * keep ONE representative per group: the member LEAST similar to
    * its cluster centroid (the paper's keep-outliers policy —
    * centroid-typical members carry the redundant information).
    *
    * Scale shape: candidate pairs are bounded to within-cell joins
    * (the paper's trick for avoiding corpus², same as this file's
    * sign-bucket near-dup), so `nlist` must grow with the corpus to
    * keep cells ~|corpus|/nlist-sized; a skew-collapsed cell would
    * reintroduce the quadratic blowup, so cell occupancy is counted
    * (one map-side-combinable agg over the pinned assignment) and a
    * cell above `maxCellSize` fails loudly rather than letting one
    * task fan out — the Skyline/LSH-guard discipline.
    *
    * Returns the kept corpus rows (all columns). The trained-quantizer
    * form has no SQL oracle (KMeans); the fixed-centroid form
    * ([[semDedupWithCentroids]]) is hash-matched against a DuckDB
    * recursive-CTE replica, and the keep policy is pinned in
    * SemDedupSpec.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int, minCosine: Double, seed: Long = 42L,
               maxTrain: Int = 1 << 16,
               maxCellSize: Long = 1L << 20): DataFrame = {
    val centDf = coarseCentroids(trainView(corpus, idCol, maxTrain),
      vecCol, nlist, seed)
    semDedupFrom(corpus, idCol, vecCol, centDf, minCosine, maxCellSize)
  }

  /** [[semDedup]] with caller-supplied centroids (no KMeans): the
    * fully-deterministic, oracle-checkable form, and the form an
    * incremental pipeline uses to dedup new batches against the SAME
    * partitioning the stored vector index was built with.
    */
  def semDedupWithCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            centroids: Seq[Seq[Float]], minCosine: Double,
                            maxCellSize: Long = 1L << 20): DataFrame = {
    val centDf = corpus.sparkSession.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    semDedupFrom(corpus, idCol, vecCol, centDf, minCosine, maxCellSize)
  }

  private def semDedupFrom(corpus: DataFrame, idCol: String, vecCol: String,
                           centDf: DataFrame, minCosine: Double,
                           maxCellSize: Long): DataFrame =
    corpus.join(
      semDedupKeepIds(corpus, idCol, vecCol, centDf, minCosine, maxCellSize),
      col(idCol) === col("keep_id"), "left_semi")

  /** Incremental SemDeDup: admit only the semantically-novel rows of a
    * new batch against an already-deduplicated corpus — the semantic
    * tier's version of the per-batch-cost-∝-batch discipline the
    * minhash signature index ([[graft.operators.Dedup]]) and
    * [[appendVectors]] follow. The kept corpus is NEVER re-paired with
    * itself (it is already deduplicated); candidate pairs are bounded
    * to batch×(kept∪batch) within shared cells, so a daily batch costs
    * |batch|·cell-occupancy, not corpus².
    *
    * Semantics: a batch row whose duplicate component touches ANY kept
    * row is redundant (its information is already in the corpus); a
    * batch-only component keeps its least-centroid-similar member
    * (same keep-outliers policy as [[semDedup]]). Transitivity runs
    * through batch rows: new→new→kept chains drop all three.
    *
    * `centroids` must be the ones the corpus was deduplicated with —
    * pass the stored quantizer's centroids so batch and corpus agree
    * on cells (the same stored-model contract as [[appendVectors]]).
    * Returns the admitted batch rows (all columns).
    */
  def semDedupIncrement(kept: DataFrame, newBatch: DataFrame, idCol: String,
                        vecCol: String, centroids: Seq[Seq[Float]],
                        minCosine: Double,
                        maxCellSize: Long = 1L << 20): DataFrame = {
    val spark = newBatch.sparkSession
    val centDf = spark.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    val cosN = (x: Column, y: Column) => Rounding.pround(
      graft.functions.CosineSimilarity.column(x, y), 6)
    val newCells = corpusCellAssignment(newBatch, idCol, vecCol, centDf)
      .persist()
    val keptCells = corpusCellAssignment(kept, idCol, vecCol, centDf)
      .persist()
    try {
      // Both skew guards in ONE action: the batch and kept assignments
      // are already persisted for the joins below, so a side-tagged
      // union turns two sequential driver jobs into one (same map-side-
      // combinable agg, same numbers — the former two-job spelling paid
      // a full scheduler round-trip per guard).
      val guardRow = newCells.select(lit(0).as("side"), col("cell"))
        .unionByName(keptCells.select(lit(1).as("side"), col("cell")))
        .groupBy("side", "cell").agg(count(lit(1)).as("n"))
        .groupBy("side").agg(max(col("n")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val biggest = guardRow.getOrElse(0, 0L)
      if (biggest > maxCellSize)
        throw new IllegalStateException(
          s"semDedupIncrement: largest batch cell holds $biggest rows " +
            s"(> $maxCellSize) — raise nlist/maxCellSize (see semDedup)")
      // the KEPT side is guarded too: dedup at minCosine does NOT bound
      // cell occupancy (many mutually-dissimilar vectors share a coarse
      // cell), so a kept hot cell × daily batch would fan out the
      // batch×kept candidate join just as quadratically. The count is
      // one map-side-combinable agg over the assignment we compute for
      // the join anyway — same cost class, loud instead of silent.
      val keptBig = guardRow.getOrElse(1, 0L)
      if (keptBig > maxCellSize)
        throw new IllegalStateException(
          s"semDedupIncrement: largest KEPT-corpus cell holds $keptBig " +
            s"rows (> $maxCellSize) — the batch×kept candidate join " +
            "would fan out on it; raise nlist (re-partition the corpus " +
            "with more cells) or maxCellSize if the skew is intended")
      val a = newCells.select(col("cell"), col("cand_id").as("id_a"),
        col("cv").as("va"))
      // batch↔batch edges (undirected via id_a<id_b) + batch→kept edges
      val b = newCells.select(col("cell"), col("cand_id").as("id_b"),
        col("cv").as("vb"))
      val newPairs = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosN(col("va"), col("vb")) >= minCosine)
        .select("id_a", "id_b")
      val k = keptCells.select(col("cell"), col("cand_id").as("id_b"),
        col("cv").as("vb"))
      val keptHits = a.join(k, Seq("cell"))
        .filter(cosN(col("va"), col("vb")) >= minCosine)
        .select(col("id_a").as("hit_id")).distinct()
      // components among batch rows only; kept-attachment then flows
      // along them: a component is redundant iff any member hit kept.
      // Alternating-star, NOT label propagation: a within-cell cosine
      // graph can chain (v₁~v₂~…~vₙ each ≥ minCosine, endpoints
      // unrelated), so diameter is unbounded — the sf1.0 sweep found a
      // >10-hop chain at just 20k vectors. Star contraction converges
      // in O(log n) rounds regardless of diameter.
      val labels = DedupCluster.componentsAlternating(
        newCells.select(col("cand_id")), "cand_id", newPairs)
      val tainted = labels.join(keptHits, col("id") === col("hit_id"))
        .select(col("cluster_id").as("bad_cluster")).distinct()
      val csims = newCells.join(broadcast(centDf), Seq("cell"))
        .select(col("cand_id"), cosN(col("cv"), col("centroid")).as("csim"))
      val keep = csims
        .join(labels, col("cand_id") === col("id"))
        .join(broadcast(tainted), col("cluster_id") === col("bad_cluster"),
          "left_anti")
        .groupBy(col("cluster_id"))
        .agg(min_by(col("cand_id"), struct(col("csim"), col("cand_id")))
          .as("keep_id"))
        .select(col("keep_id"))
      val out = keep.checkpoint()
      DedupCluster.release(labels)
      newBatch.join(out, col(idCol) === col("keep_id"), "left_semi")
    } finally {
      newCells.unpersist(blocking = false)
      keptCells.unpersist(blocking = false)
    }
  }

  // --- SSL-prototypes data pruning ---------------------------------------

  /** Cluster-conditional prototypicality pruning (Sorscher et al.
    * NeurIPS'22, "Beyond neural scaling laws", arXiv:2206.14486):
    * score every example by cosine similarity to its cluster centroid
    * (high = prototypical/easy, low = marginal/hard) and keep a fixed
    * FRACTION per cluster — by default the HARDEST examples, the
    * paper's winning policy when data is abundant (the 100 TB corpus
    * case: easy examples are redundant, the decision boundary lives in
    * the tail). `keepHardest = false` flips to keep-easy, the paper's
    * policy for the scarce-data regime. Pruning per CLUSTER (not one
    * global threshold) is what keeps the kept set covering all modes —
    * a global cut would empty the tightest clusters first.
    *
    * Deterministic by construction: cell assignment is the
    * [[corpusCellAssignment]] argmin (fused dot, (dist, cell)
    * tie-break), proto_sim the pround(6) cosine, the per-cell keep
    * budget ceil(keepFrac·n_cell) (exact IEEE for dyadic keepFrac),
    * rank ties break on the id — so the fixed-centroid form is fully
    * hash-checkable against a SQL replica (`prune_prototypes`).
    *
    * Scale shape: one corpus×k broadcast assign scan (map-side
    * combinable min_by — nothing corpus×k-sized shuffles), the k-row
    * cell-count frame broadcast back, and ONE shuffle by cell for the
    * per-cell rank window. No pairwise term anywhere — this prunes at
    * O(corpus·k), which is why it composes with SemDeDup rather than
    * replacing it (dedup kills copies, pruning kills redundancy).
    *
    * Returns (idCol, cell, proto_sim) of the KEPT rows.
    */
  def prototypesPruneWithCentroids(corpus: DataFrame, idCol: String,
                                   vecCol: String,
                                   centroids: Seq[Seq[Float]],
                                   keepFrac: Double,
                                   keepHardest: Boolean = true): DataFrame = {
    val centDf = corpus.sparkSession.createDataFrame(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
    prototypesPruneFrom(corpus, idCol, vecCol, centDf, keepFrac, keepHardest)
  }

  /** [[prototypesPruneWithCentroids]] with a KMeans-trained quantizer
    * (bounded deterministic train sample — the [[semDedup]] contract);
    * the trained form has no SQL oracle, its policy is spec-tested.
    */
  def prototypesPrune(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, keepFrac: Double,
                      keepHardest: Boolean = true, seed: Long = 42L,
                      maxTrain: Int = 1 << 16): DataFrame = {
    val centDf = coarseCentroids(trainView(corpus, idCol, maxTrain),
      vecCol, nlist, seed)
    prototypesPruneFrom(corpus, idCol, vecCol, centDf, keepFrac, keepHardest)
  }

  private def prototypesPruneFrom(corpus: DataFrame, idCol: String,
                                  vecCol: String, centDf: DataFrame,
                                  keepFrac: Double,
                                  keepHardest: Boolean): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac in (0,1]: $keepFrac")
    import org.apache.spark.sql.expressions.Window
    val cosN = (x: Column, y: Column) => Rounding.pround(
      graft.functions.CosineSimilarity.column(x, y), 6)
    val sims = corpusCellAssignment(corpus, idCol, vecCol, centDf)
      .join(broadcast(centDf), Seq("cell"))
      .select(col("cand_id").as(idCol), col("cell"),
        cosN(col("cv"), col("centroid")).as("proto_sim"))
    val counts = sims.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    val order = if (keepHardest) col("proto_sim").asc else col("proto_sim").desc
    val w = Window.partitionBy("cell").orderBy(order, col(idCol))
    sims.join(broadcast(counts), Seq("cell"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        ceil(col("n_cell").cast("double") * lit(keepFrac)).cast("long"))
      .select(col(idCol), col("cell"), col("proto_sim"))
  }

  /** The SemDeDup core: (keep_id) — one row per kept document. The
    * cell assignment is pinned across its three consumers (skew guard,
    * pair generation, keep selection); the returned frame is
    * checkpoint-detached so no cache entry outlives the call.
    */
  private[graft] def semDedupKeepIds(corpus: DataFrame, idCol: String,
                                     vecCol: String, centDf: DataFrame,
                                     minCosine: Double,
                                     maxCellSize: Long): DataFrame = {
    val cells = corpusCellAssignment(corpus, idCol, vecCol, centDf).persist()
    try {
      val biggest = cells.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
      if (biggest > maxCellSize)
        throw new IllegalStateException(
          s"semDedup: largest cell holds $biggest rows (> $maxCellSize) — " +
            "within-cell pairing would fan out quadratically on one task; " +
            "raise nlist so cells stay ~|corpus|/nlist-sized (or raise " +
            "maxCellSize if the skew is intended)")
      // the fused native cosine (one array pass, whole-stage codegen)
      // is bit-equal to the HOF form after pround — proven by
      // ann_brute_topk_native sharing ann_brute_topk's oracle — and the
      // pair join is the hot path here
      val cosN = (x: Column, y: Column) => Rounding.pround(
        graft.functions.CosineSimilarity.column(x, y), 6)
      val withSim = cells.join(broadcast(centDf), Seq("cell"))
        .withColumn("csim", cosN(col("cv"), col("centroid")))
        .drop("centroid")
      val a = withSim.select(col("cell"), col("cand_id").as("id_a"),
        col("cv").as("va"))
      val b = withSim.select(col("cell"), col("cand_id").as("id_b"),
        col("cv").as("vb"))
      val pairs = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosN(col("va"), col("vb")) >= minCosine)
        .select("id_a", "id_b")
      // alternating-star for the same reason as the incremental path:
      // cosine chains make the component diameter unbounded, and label
      // propagation's diameter+1 rounds blow the budget exactly when
      // the corpus grows (found empirically by the sf1.0 scale sweep)
      val labels = DedupCluster.componentsAlternating(
        cells.select(col("cand_id")), "cand_id", pairs)
      val keep = withSim.select(col("cand_id"), col("csim"))
        .join(labels, col("cand_id") === col("id"))
        .groupBy(col("cluster_id"))
        .agg(min_by(col("cand_id"), struct(col("csim"), col("cand_id")))
          .as("keep_id"))
        .select(col("keep_id"))
      val out = keep.checkpoint()
      DedupCluster.release(labels)
      out
    } finally cells.unpersist(blocking = false)
  }
}
