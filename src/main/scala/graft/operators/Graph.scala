package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link-analysis over edge lists — the graph mate of
  * [[DedupCluster]]'s connected components. PageRank weights nodes by
  * citation mass; a corpus pipeline uses it to score crawl documents
  * by link authority (the Common-Crawl-style quality prior) before
  * sampling, the same place [[Classifier]] supplies a content prior.
  *
  * Scale shape: the edge frame (with out-degrees pre-joined) is
  * computed ONCE, persisted, and re-read every iteration; an iteration
  * is join(ranks on src) → map-side-combinable sum on dst → left join
  * back to the node set — three key-partitioned exchanges, no
  * broadcast of anything unbounded, no driver-side data beyond the
  * node COUNT. Rank-frame lineage is cut with a reliable `checkpoint()`
  * every [[CutEvery]] rounds, like [[DedupCluster.componentsWithStatus]],
  * so a 50-round run does not build a 150-stage plan.
  *
  * Cross-engine exactness (the property the `graph_pagerank` oracle
  * hash-checks): per-edge contributions `damping · rank / deg` are
  * quantized to INTEGER 10⁻¹⁴ units — `floor(x · 1e14 + 0.5)` is a
  * chain of individually-exact IEEE ops, so every engine computes the
  * same long — and the incoming-edge reduction is an exact,
  * order-independent integer sum (total mass ≲ 0.85·10¹⁴ per
  * iteration, so per-node sums sit far below both 2⁵³ and the int64
  * range). A decimal CAST would not be safe here: Spark rounds the
  * double's shortest decimal rendering while DuckDB rounds the exact
  * binary value, and at scale 14 those can double-round apart.
  *
  * Dangling nodes (no out-edges) leak their mass rather than
  * redistributing it — the standard simplification (Spark's own
  * PageRank example does the same); feed a bidirected edge list (e.g.
  * [[undirect]]) when conservation matters.
  */
object Graph {

  /** Iterations between reliable lineage cuts in the PageRank loops,
    * and half-steps between them in [[hits]]. */
  private val CutEvery = 4

  /** Contribution quantum: 10⁻¹⁴ rank units per integer step. */
  val Unit14: Double = 1.0e14

  /** Symmetrize a directed edge list: distinct pairs plus their
    * reversals — every node then has out-degree ≥ 1, so no mass leaks.
    *
    * Shape: ONE distinct over canonically-oriented (least, greatest)
    * pairs, then both directions re-emitted by a per-row explode
    * (self-loops emit once). The symmetric closure of a set equals the
    * symmetric closure of its canonical form, so the output rows are
    * exactly the old distinct(p ∪ reverse(p)) — but the old spelling
    * paid TWO full aggregation exchanges (E rows, then 2·E' rows);
    * this pays one over E rows and the reversals never cross a shuffle.
    *
    * Edges with a null endpoint are dropped (least/greatest would turn
    * (null, x) into the self-loop (x, x)).
    */
  def undirect(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val canon = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    canon.select(explode(when(col("a") === col("b"),
        array(struct(col("a").as("src"), col("b").as("dst"))))
      .otherwise(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst"))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Mutual-k-nearest-neighbor edges over a vector corpus: (id_a,
    * id_b) with id_a < id_b, kept iff each endpoint ranks in the
    * other's cosine top-k. The mutuality filter is the standard
    * spurious-hub cut — a vector near a cluster it doesn't belong to
    * picks cluster members as neighbors, but they don't reciprocate.
    *
    * `knn` supplies the directed top-k lists; default is the exact
    * [[Similarity.bruteForceTopK]] with every vector as a query
    * (quadratic — fine for bounded slices and oracles). At corpus
    * scale pass an ANN front-end with the same output shape
    * (query_id, cand_id, rank ≤ k): e.g. ivfPqTopKFromIndex over the
    * stored index — the mutual join and everything downstream is
    * candidate-bounded either way (≤ k·N directed edges).
    */
  def mutualKnnEdges(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int,
                     knn: Option[DataFrame] = None): DataFrame = {
    val directed = knn.getOrElse(
      Similarity.bruteForceTopK(vectors, vectors, idCol, vecCol, k,
        Similarity.cosineFused(_, _)))
      .select(col("query_id"), col("cand_id"))
    val rev = directed.select(col("cand_id").as("query_id"),
      col("query_id").as("cand_id"))
    directed.intersect(rev)
      .filter(col("query_id") < col("cand_id"))
      .select(col("query_id").as("id_a"), col("cand_id").as("id_b"))
  }

  /** Embedding-space clustering with zero trained state: mutual-kNN
    * edges → connected components (min-label propagation, loud
    * non-convergence). Returns (id, cluster_id) for every vector;
    * vectors with no mutual neighbor are singleton clusters. The
    * density-based corpus-organization pass (topic/near-domain
    * grouping) that SemDeDup's fixed cells approximate.
    */
  def knnClusters(vectors: DataFrame, idCol: String, vecCol: String,
                  k: Int, maxRounds: Int = 20,
                  knn: Option[DataFrame] = None): DataFrame =
    // alternating-star: mutual-kNN graphs form long chains by
    // construction (density ridges), so the log-diameter contraction is
    // the only round budget that survives corpus growth
    DedupCluster.componentsAlternating(vectors, idCol,
      mutualKnnEdges(vectors, idCol, vecCol, k, knn), maxRounds)

  /** Per-vector silhouette score of a clustering — the standard
    * cluster-quality QA gate (s(i) = (b−a)/max(a,b) with a = mean
    * cosine distance to own cluster, b = min over other clusters of
    * the mean distance; s ∈ [−1, 1], higher = better-separated).
    * Singletons and single-cluster corpora score 0 by the usual
    * convention. Quadratic in the evaluated slice — run it on the
    * bounded sample you valuate, not the corpus (the metric is a
    * diagnostic, not a pipeline stage).
    *
    * Cross-engine exactness: pairwise distances quantize to integer
    * 10⁻⁶ units before any mean (the PageRank trick — all-IEEE floor,
    * exact integer sums), the 1e6 unit CANCELS in the (b−a)/max(a,b)
    * ratio, and only the final score rounds (pround 6).
    *
    * `maxEval` is the loud quadratic-blowup guard (the `triangles`
    * maxDegree discipline): the evaluated slice is broadcast whole and
    * crossed with itself, so a caller who passes the corpus instead of
    * a bounded sample gets an immediate actionable error, not a
    * driver-side broadcast OOM an hour in. <= 0 disables for callers
    * that pre-bounded.
    */
  def silhouette(vectors: DataFrame, idCol: String, vecCol: String,
                 labels: DataFrame, maxEval: Long = 10000L): DataFrame = {
    // persisted once: the labeled join otherwise re-evaluates for the
    // guard count AND for each cross-join side (3 computations). The
    // scores frame (≤ maxEval rows) is materialized detached below and
    // the cache released before returning — the round-14 bench leak
    // audit showed this was the ONE registry entry whose cache outlived
    // its call (harmless at 0.2 MiB, but audit-clean beats documented
    // leak; the sampled variant closed the same gap in round 13).
    // spread: the slice is ≤ maxEval rows by the guard below, but AQE's
    // byte-based coalescing packs it into one post-join partition — the
    // |slice|² fused-cosine kernel then runs on one task. One exchange
    // of a contract-bounded frame, at any corpus size.
    val v = Par.spread(
      vectors.join(labels, vectors(idCol) === labels("id"))
        .select(col("id"), col("cluster_id"), col(vecCol).as("v")))
      .persist()
    if (maxEval > 0) {
      val n = v.limit(math.min(maxEval + 1, Int.MaxValue.toLong).toInt).count()
      if (n > maxEval) {
        v.unpersist(blocking = false)
        throw new IllegalStateException(
          s"silhouette: evaluated slice has > maxEval=$maxEval labeled " +
            "vectors — the pairwise mean is quadratic and the slice is " +
            "broadcast whole; sample the corpus first (the metric is a " +
            "diagnostic over a bounded sample, not a pipeline stage), or " +
            "raise maxEval deliberately")
      }
    }
    val out = silhouetteScores(v, v).checkpoint()
    v.unpersist(blocking = false)
    out
  }

  /** Sampled silhouette — the SCALE path: the right side of the
    * pairwise pass is a bounded, deterministic stratified sample (up to
    * `perCluster` representatives per cluster, chosen by a stable hash
    * of the id), so cost is O(n · sample) instead of O(n²) and the
    * broadcast side is the sample, never the corpus. No input-size
    * guard needed — [[silhouette]]'s `maxEval` cap is the EXACT path's
    * hard bound; here the sample size IS the knob, and only the sample
    * itself is guarded (`maxSampleRows`, the broadcast bound).
    *
    * Estimator contract: a(i)/b(i) become means over the sampled
    * members of each cluster — unbiased for the true per-cluster mean
    * distances; in the FULL-COVERAGE regime (perCluster ≥ every cluster
    * size) every pair is present and the result is EXACTLY
    * [[silhouette]] (the hash order stops mattering once nothing is
    * dropped) — the regime the oracle row pins, per the KMV-exactness
    * convention. Sampling noise shrinks as 1/√perCluster; GraphSpec
    * pins an agreement band at perCluster = 8 on the fixture.
    */
  def silhouetteSampled(vectors: DataFrame, idCol: String, vecCol: String,
                        labels: DataFrame, perCluster: Int = 256,
                        maxSampleRows: Long = 100000L): DataFrame = {
    require(perCluster >= 2,
      "silhouetteSampled: perCluster must be >= 2 (own-cluster means " +
        "need at least one non-self representative)")
    import org.apache.spark.sql.expressions.Window
    // lazy — deliberately NOT persisted: the corpus-scale side is
    // streamed once by the final pass; the bounded sample lives only
    // as a driver-local relation (below), so nothing stays cached
    val v = vectors.join(labels, vectors(idCol) === labels("id"))
      .select(col("id"), col("cluster_id"), col(vecCol).as("v"))
    val sampled = v.withColumn("rnk", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(xxhash64(col("id")), col("id"))))
      .filter(col("rnk") <= perCluster).drop("rnk")
    // The sample is bounded and broadcast-destined, so it is pulled to
    // the driver ONCE here (a BroadcastExchange collects its build side
    // driver-side anyway — same memory profile, same bound) and
    // re-emitted as a local relation: the size guard and the broadcast
    // share the single corpus pass, and no cache entry or RDD block
    // outlives the call — the previous persist()ed sample survived the
    // success path as an undocumented ≤100k-row pin (round-12 review).
    // The limit caps the collect BEFORE the guard fires, so an
    // over-sized sample costs maxSampleRows+1 rows of driver memory,
    // never the full sample.
    val bounded =
      if (maxSampleRows > 0)
        sampled.limit(math.min(maxSampleRows + 1L, Int.MaxValue.toLong).toInt)
      else sampled
    val rows = bounded.collect()
    if (maxSampleRows > 0 && rows.length > maxSampleRows) {
      throw new IllegalStateException(
        s"silhouetteSampled: > maxSampleRows=$maxSampleRows sampled rows " +
          "— the sample is broadcast whole, so with this many clusters " +
          "lower perCluster (or raise maxSampleRows only if every " +
          "executor can hold the sample)")
    }
    val local = vectors.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), sampled.schema)
    silhouetteScores(v, local)
  }

  /** Shared silhouette tail: pairwise 10⁻⁶-unit distances from every
    * `all` row to every (broadcast) `bSide` row, per-(point, cluster)
    * means, own vs min-foreign, (b−a)/max(a,b) with pround(6).
    */
  private def silhouetteScores(all: DataFrame, bSide: DataFrame): DataFrame = {
    val a = all.select(col("id").as("ida"), col("cluster_id").as("ca"),
      col("v").as("va"))
    val b = bSide.select(col("id").as("idb"), col("cluster_id").as("cb"),
      col("v").as("vb"))
    val d6 = floor((lit(1.0) -
      Similarity.cosineFused(col("va"), col("vb"))) * lit(1.0e6)
      + lit(0.5))
    val means = a.crossJoin(broadcast(b))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("ca"), col("cb"), d6.as("d6"))
      .groupBy("ida", "ca", "cb")
      .agg((sum(col("d6")).cast("double") / count(lit(1))).as("m"))
    val own = means.filter(col("ca") === col("cb"))
      .select(col("ida").as("id"), col("m").as("a6"))
    val other = means.filter(col("ca") =!= col("cb"))
      .groupBy(col("ida").as("id")).agg(min(col("m")).as("b6"))
    val s = when(col("a6").isNull || col("b6").isNull ||
        greatest(col("a6"), col("b6")) <= 0, lit(0.0))
      .otherwise((col("b6") - col("a6")) / greatest(col("a6"), col("b6")))
    all.join(own, Seq("id"), "left").join(other, Seq("id"), "left")
      .select(col("id"), col("cluster_id"),
        graft.functions.Rounding.pround(s, 6).as("sil"))
  }

  /** PageRank with a FIXED iteration count (deterministic, and what
    * the unrolled-CTE oracle replays): returns (id, rank) for every
    * node appearing as src or dst. `edges` should be pre-deduplicated
    * (parallel edges count double — sometimes wanted, usually not).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val ed = degreeEdges(edges, srcCol, dstCol)
    val nodes = nodesOf(ed).persist()
    val n = nodes.count()
    require(n > 0, "empty edge frame")
    val ranks = rankLoop(ed,
      nodes.withColumn("tele", lit((1.0 - damping) / n)),
      nodes.withColumn("rank", lit(1.0 / n)), iters, damping)
    ed.unpersist()
    nodes.unpersist()
    ranks
  }

  /** Personalized (seed-biased) PageRank: the teleport mass returns to
    * the SEED set instead of uniformly, so rank measures link
    * proximity to the seeds — the topic-conditioned crawl prior
    * (seeds = known-good pages/domains; rank = how endorsed by the
    * good region each node is; TrustRank's propagation half). Same
    * fixed-iteration, integer-[[Unit14]]-quantized, checkpoint-cut
    * loop as [[pageRank]] — hash-matchable against an unrolled-CTE
    * replica. `seeds` is a one-column id frame; mass teleports only
    * to seeds present in the graph (absent seeds dilute the
    * normalizer, the standard convention), and non-seed nodes start
    * at rank 0.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame, iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val ed = degreeEdges(edges, srcCol, dstCol)
    val seedIds = seeds.select(col(seeds.columns.head).as("id")).distinct()
    val ns = seedIds.count()
    require(ns > 0, "empty seed set")
    // per-node teleport column, persisted once: (1−d)/|S| on seeds,
    // 0 elsewhere — the only place this loop differs from pageRank
    val tele = nodesOf(ed)
      .join(seedIds.withColumn("__s", lit(1)), Seq("id"), "left")
      .select(col("id"),
        when(col("__s").isNotNull, lit((1.0 - damping) / ns))
          .otherwise(lit(0.0)).as("tele"))
      .persist()
    require(tele.count() > 0, "empty edge frame")
    val ranks = rankLoop(ed, tele, tele.select(col("id"),
      when(col("tele") > 0, lit(1.0 / ns)).otherwise(lit(0.0)).as("rank")),
      iters, damping)
    ed.unpersist()
    tele.unpersist()
    ranks
  }

  /** The persisted (src, dst, deg) frame both PageRank loops re-read
    * every iteration. Its partitioning is already the right one at
    * scale with NO explicit repartition: past the broadcast threshold
    * the degree join is a src-keyed shuffle join, so the cache holds
    * hash(src) partitions and each iteration's rank join moves only the
    * O(|V|) rank frame; below the threshold ranks itself broadcasts and
    * nothing edge-scale moves either way. Round-13 measured the
    * alternatives and kept this AQE-planned shape: a forced
    * repartition(src) + SHUFFLE_HASH-hinted rank join left sf10 shuffle
    * bytes UNCHANGED (8.26 GB — the per-iteration shuffle is the
    * map-side-combined partial-sum exchange of the dst aggregation, not
    * the join) and DOUBLED wall-clock (129.9 s -> 257.6 s); see PLANS.md
    * round 13.
    */
  private def degreeEdges(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    e.join(deg, "src").persist()
  }

  /** The node set, from the CACHED (src, dst, deg) frame rather than the
    * raw edges: the inner degree join keeps every edge row (deg covers
    * every src), so the id set is identical — but deriving it upstream
    * re-evaluated the whole edge pipeline (join + undirect distinct)
    * twice more per action; reading `ed` also populates its cache in
    * the same first action, so the edge pipeline runs exactly once.
    */
  private def nodesOf(ed: DataFrame): DataFrame =
    ed.select(col("src").as("id"))
      .unionByName(ed.select(col("dst").as("id")))
      .distinct()

  /** The fixed-iteration rank loop shared by [[pageRank]] and
    * [[personalizedPageRank]]: `base` is (id, tele) for every node, the
    * teleport mass each node receives per iteration, and `ranks0` the
    * starting (id, rank). Each iteration is rank = tele + Σ quantized
    * incoming contributions; every [[CutEvery]]-th and the last
    * iteration cut lineage with a reliable `checkpoint()`.
    */
  private def rankLoop(ed: DataFrame, base: DataFrame, ranks0: DataFrame,
                       iters: Int, damping: Double): DataFrame = {
    var ranks = ranks0
    for (k <- 1 to iters) {
      val contrib = ed.join(ranks, ed("src") === ranks("id"))
        .select(ed("dst"),
          floor(lit(damping) * col("rank") / col("deg") * lit(Unit14)
            + lit(0.5)).as("c"))
      val inc = contrib.groupBy("dst").agg(sum(col("c")).as("inc"))
      val next = base.join(inc, base("id") === inc("dst"), "left")
        .select(base("id"),
          (col("tele") +
            coalesce(col("inc").cast("double") / lit(Unit14), lit(0.0)))
            .as("rank"))
      ranks = if (k % CutEvery == 0 || k == iters) next.checkpoint() else next
    }
    ranks
  }

  /** Per-node triangle count and local clustering coefficient over a
    * CANONICAL undirected edge list (id_a < id_b, deduplicated — the
    * [[mutualKnnEdges]] output shape). Returns
    * `(id, degree, triangles, lcc)` with `lcc = 2T / d(d−1)` (0 for
    * degree < 2) — the graph-density QA that tells an embedding-space
    * clustering how cliquish its neighborhoods actually are, and a
    * crawl-graph auditor where link farms (lcc ≈ 1 cliques) sit.
    *
    * All-integer arithmetic until the final ratio (exact in every
    * engine); the ratio itself is one IEEE divide, pround(4).
    *
    * Scale shape: the wedge join fans out Σ deg² — bounded by
    * k²·N on a mutual-kNN graph (deg ≤ k by construction), which is
    * why this ships tied to that front-end; on an arbitrary crawl
    * graph, cap degrees first (the hot-bucket star rule) or the
    * highest-degree hub alone emits deg² wedges. Ordering edges
    * a < b counts each triangle exactly once with no distinct pass.
    */
  def triangles(edges: DataFrame, maxDegree: Int = 4096): DataFrame = {
    val e = edges.select(col("id_a").as("a"), col("id_b").as("b"))
    // loud fan-out guard (the LSH hot-band discipline): one hub of
    // degree d emits d² wedges, so refuse pathological graphs instead
    // of silently running the quadratic join. maxDegree <= 0 disables
    // for callers that pre-capped.
    if (maxDegree > 0) {
      val hot = e.select(col("a").as("id"))
        .unionByName(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .filter(col("degree") > maxDegree)
        .orderBy(col("degree").desc).limit(1).collect()
      if (hot.nonEmpty) throw new IllegalStateException(
        s"triangles: node ${hot(0).get(0)} has degree " +
          s"${hot(0).getLong(1)} > maxDegree=$maxDegree — the wedge " +
          "join would fan out quadratically; cap or star hot nodes " +
          "first (Dedup.lshPairsFromSignatures' maxBucket rule)")
    }
    val wed = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tri = wed.join(
      e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2, graft.functions.Rounding.pround(
          lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Hub-quantum for [[hits]]: 10⁻¹² score units per integer step.
    * Coarser than [[Unit14]] because a HITS reduction sums QUANTIZED
    * scores over edges (not per-edge fractions): the global integer
    * total is ≤ maxdeg·10¹², which keeps even a 10⁶-degree crawl graph
    * far inside int64 / exact-double territory.
    */
  val Unit12: Double = 1.0e12

  /** HITS hubs & authorities with a FIXED iteration count over a
    * DIRECTED edge list — the bipartite mate of [[pageRank]]: on a
    * (customer → supplier)-style graph, hub mass scores the pointing
    * side and authority mass the pointed-at side. Returns
    * `(id, hub, auth)` for every node; scores are L1-normalized
    * (each family sums to ≈1).
    *
    * Iteration k: `a_raw(i) = Σ_{j→i} hq_{k−1}(j)` (exact integer
    * sum), L1-normalize and re-quantize `aq = floor(a_raw/Σa_raw ·
    * 10¹² + 0.5)`, then symmetrically `h_raw(i) = Σ_{i→j} aq(j)`.
    *
    * Overflow posture (found empirically by the sf10 scale sweep at
    * 60 M edges; sf1's 6 M fit by one bit): the GLOBAL normalizer
    * Σ raw is |E|·10¹²-scaled on the first half-step and
    * degree·10¹²-scaled after, so THAT one O(nodes) reduction runs
    * in DECIMAL(38,0) — 128-bit, matching DuckDB's BIGINT→HUGEINT
    * sum promotion. The hot per-node sums stay int64 (a decimal sum
    * on the O(E) path measured ~10× slower): every per-node value is
    * ≤ degree·10¹², which the loud `maxDegree` guard bounds below
    * Long.Max — the `triangles` hub discipline; a 9 M-in-degree hub
    * needs capping before link analysis anyway. The integer→double
    * casts before the divide round identically (IEEE nearest) in
    * every engine, so the unrolled-CTE oracle (`graph_hits`)
    * hash-matches bit-for-bit. L1 (not the textbook L2)
    * normalization is deliberate: it needs no sqrt, scales
    * identically, and leaves the ranking unchanged.
    *
    * Scale shape is pageRank's: one persisted edge frame, per
    * iteration two join→map-side-combinable-sum passes plus a
    * broadcast one-row total; reliable lineage cut every [[CutEvery]]
    * half-steps. The iteration state carries only ACTIVE nodes (raw
    * sum > 0): a node absent from a reduction quantizes to 0 and
    * contributes nothing to the next one, so the all-nodes frame is
    * joined exactly once, at the end — on a bipartite graph every
    * half-step therefore shuffles half the nodes instead of all of
    * them, and no per-step left join exists at all.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int, maxDegree: Long = 8000000L): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist()
    // ONE exchange serves both the node set and the degree guard: total
    // degree (in+out) per id from a single explode scan of the cached
    // edges — a groupBy's keys are already distinct, so `nodes` is its
    // projection. The union+distinct / union+groupBy pair this replaces
    // scanned the O(E) cache four times and shuffled edge-scale rows
    // twice; the round-15 sf30 stage breakdown measured that preamble at
    // ~10 % of total task time, inflating ×4+ at the ×3 step (fixed
    // 32-partition hash aggregation over 3× rows — a per-task-growth
    // term the fused single pass halves).
    val degs = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .persist()
    val nodes = degs.select(col("id"))
    require(degs.count() > 0, "empty edge frame")
    // loud int64-overflow guard on the hot per-node sums: each raw
    // value is ≤ degree·10¹², so a hub past ~9.2 M edges would
    // silently wrap the long sum. Reuses the cached degree frame;
    // <= 0 disables for callers that pre-capped.
    if (maxDegree > 0) {
      val hub = degs.agg(max(col("d")).as("m")).head().getLong(0)
      if (hub > maxDegree) {
        e.unpersist(blocking = false); degs.unpersist(blocking = false)
        throw new IllegalStateException(
          s"hits: max node degree $hub > maxDegree=$maxDegree — per-node " +
            "int64 raw sums are degree-bounded by degree*1e12 and a hub " +
            "this size overflows them; cap hub degrees first (or raise " +
            "maxDegree only below ~9.2e6, the Long.Max/1e12 bound)")
      }
    }
    var cuts = 0
    // L1-normalize the raw sums against the broadcast one-row total
    // and re-quantize — active rows only; cut lineage periodically
    def normalize(raw: DataFrame, outCol: String, force: Boolean)
        : DataFrame = {
      // the one |E|-scaled reduction: 128-bit decimal sum over the
      // O(nodes) partials (DuckDB's HUGEINT promotion, exact at any |E|)
      val total = raw.agg(sum(col("q").cast("decimal(38,0)")).as("t"))
      val next = raw.crossJoin(broadcast(total))
        .select(col("rid").as("id"),
          floor(col("q").cast("double") /
            col("t").cast("double") * lit(Unit12) + lit(0.5))
            .as(outCol))
      cuts += 1
      if (force || cuts % CutEvery == 0) next.checkpoint() else next
    }
    // One cached copy of the edge frame serves BOTH half-step join keys
    // (src for the authority sum, dst for the hub sum), and the per-
    // half-step exchanges stay whatever AQE plans at the observed sizes.
    // Round 13 measured the "obvious" scale fix — one hash-pinned
    // cached copy PER KEY so no half-step ever exchanges O(|E|) — and
    // it LOST at sf10: total shuffle dropped 9.57 GB -> 5.76 GB but
    // wall-clock DOUBLED (91.9 s -> 184.0 s), with a SHUFFLE_HASH hint
    // on the score side measuring the same 2x; shuffle-byte
    // minimization is not the objective function once the exchanged
    // frames pipeline well. Details in PLANS.md round 13.
    var hq = nodes.withColumn("hq", lit(Unit12.toLong))
    var aq: DataFrame = null
    // each raw-sum frame is read twice (its broadcast total, then the
    // quantized frame) and again by later steps until the next lineage
    // cut — persist the tiny O(nodes) partials so the edge join + sum
    // behind each runs exactly once; all dropped after the final cuts
    val rawPins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pinRaw(df: DataFrame): DataFrame = { rawPins += df.persist(); df }
    for (k <- 1 to iters) {
      // per-node sums stay int64 (the hot O(E) path): each is bounded
      // by degree·10¹², which the maxDegree guard keeps below Long.Max
      val araw = pinRaw(e.join(hq, e("src") === hq("id"))
        .groupBy(e("dst").as("rid")).agg(sum(col("hq")).as("q")))
      aq = normalize(araw, "aq", force = k == iters)
      val hraw = pinRaw(e.join(aq, e("dst") === aq("id"))
        .groupBy(e("src").as("rid")).agg(sum(col("aq")).as("q")))
      hq = normalize(hraw, "hq", force = k == iters)
    }
    rawPins.foreach(_.unpersist())
    val out = nodes
      .join(hq.withColumnRenamed("id", "hid"), nodes("id") === col("hid"),
        "left")
      .join(aq.withColumnRenamed("id", "aid"), nodes("id") === col("aid"),
        "left")
      .select(nodes("id"),
        (coalesce(col("hq"), lit(0L)) / lit(Unit12)).as("hub"),
        (coalesce(col("aq"), lit(0L)) / lit(Unit12)).as("auth"))
    e.unpersist()
    degs.unpersist()
    out
  }
}
