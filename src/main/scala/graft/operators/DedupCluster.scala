package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (from any detector —
  * Jaccard, MinHash, SimHash, embedding) become duplicate CLUSTERS, and
  * each cluster keeps one canonical document. This is the step that
  * turns pair detection into an actual deduplicated corpus.
  *
  * Connected components by iterative min-label propagation: every doc
  * starts labeled with its own id; each round, a doc adopts the
  * smallest label among itself and its neighbors. Rounds needed =
  * graph diameter — for near-dup graphs that is tiny (dup clusters are
  * cliques or short chains), so the default cap of 10 shuffle rounds
  * covers any realistic corpus; the loop exits early at fixpoint via a
  * cheap count of changed labels. Every [[CutEvery]] rounds the label
  * frame's lineage is cut with a reliable `checkpoint()`, so lineage
  * stays bounded on chain-shaped graphs (the iterative-algorithm hazard
  * at scale), and hitting the round budget without convergence raises
  * — silent mislabeling is worse than a loud retry with a higher cap.
  */
object DedupCluster {

  /** Rounds between reliable lineage cuts in both component loops. */
  private val CutEvery = 3

  /** Fully releases a discarded loop frame. `Dataset.unpersist` only
    * drops CacheManager entries — for a `localCheckpoint`ed frame (the
    * per-round plan cut in [[componentsAlternating]], the one
    * `localCheckpoint` in the operator tier) the data lives as RDD-level
    * blocks behind a `LogicalRDD`, which plain unpersist does NOT free,
    * so each round's edge blocks would linger until ContextCleaner GC
    * (unbounded storage growth across rounds on a long loop).
    *
    * The RDD arm fires ONLY when the released frame IS the checkpoint —
    * i.e. its analyzed plan ROOT is the `LogicalRDD`. Matching anywhere
    * deeper in the tree would free blocks the frame merely REFERENCES:
    * a persisted frame built on top of a local checkpoint embeds its
    * `LogicalRDD` in its own plan, so a tree-walk release of that frame
    * would delete the checkpoint's blocks — the only copy, lineage
    * already truncated — while other frames still read from it (found
    * by the round-12 review). For plain-persist frames the root is an
    * operator node and the RDD arm is a no-op, as intended.
    */
  private[graft] def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** @param pairs columns (id_a, id_b) — undirected near-dup edges
    * @param maxRounds round budget; convergence needs component
    *        diameter + 1 rounds (one per hop plus a final zero-change
    *        round that proves the fixpoint), so size it at least one
    *        above the largest expected diameter
    * @return (labels, converged): (doc_id, cluster_id) for every doc in
    *         `docs` (singletons are their own cluster), and whether a
    *         fixpoint was reached within `maxRounds`. The labels frame
    *         is persisted; callers own its unpersist once consumed.
    */
  def componentsWithStatus(docs: DataFrame, idCol: String, pairs: DataFrame,
                           maxRounds: Int = 10): (DataFrame, Boolean) = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist()
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("cluster_id"))
      .persist()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min("cluster_id").as("neighbor_min"))
      val step = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"),
            coalesce(col("neighbor_min"), col("cluster_id")))
            .as("cluster_id"))
      // bound the lineage: a plain persist still drags the full
      // round-by-round plan behind it; the periodic cut truncates it.
      // Cut rounds skip persist(): the checkpoint already materializes
      // the data, and persisting on top would register a second full
      // copy with the CacheManager.
      val materialized =
        if ((round + 1) % CutEvery == 0) step.checkpoint()
        else step.persist()
      val changed = materialized
        .join(labels.withColumnRenamed("cluster_id", "prev"), Seq("id"))
        .filter(col("cluster_id") =!= col("prev")).count()
      release(labels)
      labels = materialized
      converged = changed == 0
      round += 1
    }
    edges.unpersist(blocking = false)
    (labels, converged)
  }

  /** As [[componentsWithStatus]], but failing loudly when the round
    * budget is exhausted before fixpoint — labels would be silently
    * wrong for any component with diameter > maxRounds.
    */
  def components(docs: DataFrame, idCol: String, pairs: DataFrame,
                 maxRounds: Int = 10): DataFrame = {
    val (labels, converged) =
      componentsWithStatus(docs, idCol, pairs, maxRounds)
    if (!converged) {
      release(labels)
      throw new IllegalStateException(
        s"DedupCluster.components: no fixpoint after $maxRounds rounds — " +
          "a component has diameter >= maxRounds; raise maxRounds " +
          "(label propagation needs diameter + 1 rounds: one per hop " +
          "plus a final zero-change round to detect the fixpoint)")
    }
    labels
  }

  /** Connected components by ALTERNATING large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the scale path when component DIAMETER,
    * not size, is the enemy.
    *
    * Min-label propagation ([[componentsWithStatus]]) needs diameter+1
    * shuffle rounds: a chain of 10⁶ transitively-linked near-dups (a
    * crawl re-publishing the same article with one edit per hop) needs
    * 10⁶ rounds — unrunnable. The star operations CONTRACT the graph
    * instead of propagating along it:
    *
    *  - large-star (round r): every node u links each strictly-LARGER
    *    neighbor v to m = min(Γ(u) ∪ {u}) — tall trees flatten toward
    *    their minimum;
    *  - small-star: every edge is oriented (larger → smaller), and each
    *    node links its smaller neighbors (and itself) to the minimum —
    *    shallow trees collapse into stars.
    *
    * Each round halves tree heights, so convergence is O(log² n) rounds
    * worst-case and ~log n in practice, INDEPENDENT of diameter: the
    * 10⁶-chain converges in ~20 rounds instead of 10⁶. At fixpoint every
    * component is a star centered on its minimum id — the same labels
    * min-label propagation produces, so the two implementations are
    * interchangeable (and oracle-checked against the same recursive-CTE
    * replica). Per round: two map-side-combinable min-aggregations and
    * one broadcast-free equi-join each, over the CURRENT edge set
    * (total work O(m·rounds)); `distinct()` after each star keeps the
    * frame at most one entry per (src,dst). The same [[CutEvery]]-round
    * reliable cut as label propagation bounds lineage.
    *
    * THE DEFAULT for every consumer of an unbounded pair frame
    * (semDedup, leakage-safe split, kNN clusters, canonicalize, the
    * corpus job): the sf1.0 scale sweep found a >10-hop cosine chain at
    * just 20k vectors, i.e. the diameter+1 round budget of label
    * propagation fails exactly when the corpus grows. Plain
    * [[components]] stays available for topologies with a KNOWN
    * diameter bound (it does one join per round vs two star steps);
    * both fail loudly on a round-budget miss.
    *
    * @param pairs columns (id_a, id_b) — undirected near-dup edges
    * @param maxRounds alternating-round budget; ~⌈log₂ n⌉ + a fixpoint-
    *        detection round suffices in practice (20 covers any corpus)
    * @return (doc_id, cluster_id) for every doc in `docs`, cluster_id =
    *         component min id; singletons label themselves. Persisted;
    *         caller owns the unpersist.
    */
  def componentsAlternating(docs: DataFrame, idCol: String, pairs: DataFrame,
                            maxRounds: Int = 20): DataFrame = {
    // Canonical undirected edge set, self-loops dropped: (src > dst)
    // orientation is small-star's input form and a stable dedup key.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().persist()

    // large-star: u's strictly-larger neighbors each link to
    // min(Γ(u) ∪ {u}). Emitted (v, m) pairs keep v > m by construction
    // (m ≤ u < v), so the output is already (larger, smaller)-oriented.
    // The trailing distinct canonicalizes the frame so small-star's
    // three references to it (min-agg, join probe, self-union) share
    // one exchange subtree via ReuseExchange — cheaper than a persist,
    // which would pin a round-lifetime cache entry and block the reuse.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: with edges (larger → smaller), every node links its
    // smaller neighbors AND itself to m = min(Γ(u) ∪ {u}) = min(Γ(u)).
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      oriented.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()
    }

    var round = 0
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    while (round < maxRounds && !converged) {
      val step = smallStar(largeStar(edges))
      // EVERY round truncates the logical plan (LogicalRDD), not just
      // the reliable cuts: persist() caches data but keeps the full
      // self-referencing star lineage in the LOGICAL tree, and Catalyst
      // walks trees, not DAGs — analysis cost quadrupled per round and
      // the round-3 checkpoint paid ~115 s of pure driver-side
      // analysis on a 279-edge graph (found by the round-11 probe).
      // localCheckpoint is the plan cut; the reliable checkpoint every
      // `CutEvery` rounds is the durability cut.
      val materialized =
        if ((round + 1) % CutEvery == 0) step.checkpoint()
        else step.localCheckpoint(false)
      // Fixpoint = the canonical edge set is unchanged. Both frames are
      // distinct + identically oriented, so equal counts plus an empty
      // one-directional difference (new ⊆ old) prove set equality —
      // one count job (which also materializes the round) + one
      // anti-join probe, instead of a two-sided diff.
      val newCount = materialized.count()
      val changed = newCount != edgeCount ||
        materialized.join(edges, Seq("src", "dst"), "left_anti")
          .limit(1).count() > 0
      release(edges)
      edges = materialized
      edgeCount = newCount
      converged = !changed
      round += 1
    }
    if (!converged) {
      release(edges)
      throw new IllegalStateException(
        s"DedupCluster.componentsAlternating: no fixpoint after " +
          s"$maxRounds rounds — star contraction needs ~log2(n) rounds, " +
          "so this indicates a pathological input; raise maxRounds")
    }
    // Fixpoint edges are star edges (member → component min). Labels =
    // that map, plus the centers and edge-free docs labeling themselves.
    val labels = docs.select(col(idCol).as("id"))
      .join(edges.select(col("src").as("id"), col("dst").as("lbl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
    val out = labels.checkpoint()
    release(edges)
    out
  }

  /** One row per cluster: the canonical doc (min id) + member count.
    * The per-doc labels frame is released here once the (tiny) aggregate
    * is materialized with a reliable `checkpoint()`, so no cache entry
    * outlives the call and the returned plan can never be
    * CacheManager-substituted into a later query.
    *
    * DEFAULT path is the alternating-star components: its round count
    * is diameter-INDEPENDENT (O(log n) contraction), so no caller can
    * pick the diameter-bounded propagation loop by accident and hit
    * the 10⁶-hop chain wall at 100 TB. Labels are provably identical
    * (both algorithms converge to component-min labels — equality
    * spec'd in DedupClusterSpec and shared by the
    * `dedup_cluster_canonical`/`_alternating` oracle rows). Callers
    * that KNOW their dup topology is clique/short-chain shaped can opt
    * into [[canonicalizePropagation]] for one fewer exchange per round.
    */
  def canonicalize(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    manifestOf(componentsAlternating(docs, idCol, pairs), idCol)

  /** [[canonicalize]] over the min-label propagation components — the
    * explicit opt-in for tiny-diameter dup graphs (cliques, short
    * chains), where propagation converges in diameter+1 rounds with
    * one join per round vs the star path's two. Fails loudly past its
    * round budget, so a misjudged topology aborts instead of
    * mislabeling.
    */
  def canonicalizePropagation(docs: DataFrame, idCol: String,
                              pairs: DataFrame,
                              maxRounds: Int = 10): DataFrame =
    manifestOf(components(docs, idCol, pairs, maxRounds), idCol)

  private def manifestOf(labels: DataFrame, idCol: String): DataFrame = {
    val agg = labels
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .withColumnRenamed("cluster_id", idCol)
    val out = agg.checkpoint()
    release(labels)
    out
  }
}
