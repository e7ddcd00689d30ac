package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling for training-data pipelines.
  *
  * `df.sample()` is seed-dependent per partition layout, so re-runs and
  * other engines disagree. Hash-gating on a stable key — keep a row iff
  * a byte of md5(key) falls under the threshold — gives a sample that
  * is (a) reproducible across runs, engines, and partitionings,
  * (b) consistent under incremental loads (a key's membership never
  * changes), and (c) cheap (a scan, no shuffle). The standard trick for
  * holdout/eval splits over a 100 TB corpus.
  */
object Sampling {

  /** Keep ≈ rate256/256 of rows, decided by the first md5 byte of the
    * key. rate256 ∈ [0, 256].
    */
  def hashGate(key: Column, rate256: Int): Column = {
    require(rate256 >= 0 && rate256 <= 256, s"rate256 out of range: $rate256")
    // boundary rates: 256 formats as 3 hex chars and would corrupt the
    // 2-char lexicographic comparison — short-circuit both ends
    if (rate256 >= 256) lit(true)
    else if (rate256 <= 0) lit(false)
    else substring(md5(key.cast("string")), 1, 2) < lit(f"$rate256%02x")
  }

  def deterministicSample(df: DataFrame, keyCol: String, rate256: Int): DataFrame =
    df.filter(hashGate(col(keyCol), rate256))

  /** Stratified deterministic sampling: a different keep-rate per
    * stratum (e.g. language), applied through the same hash gate — the
    * data-mix rebalancing pass of a training pipeline, still
    * reproducible and membership-stable. Strata absent from the map are
    * dropped (rate 0).
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates256: Map[String, Int]): DataFrame = {
    val gate = rates256.foldLeft(org.apache.spark.sql.functions.lit(false)) {
      case (acc, (stratum, rate)) =>
        acc || (col(strataCol) === stratum && hashGate(col(keyCol), rate))
    }
    df.filter(gate)
  }

  /** Disjoint train/eval split by the same gate — union is the corpus. */
  def split(df: DataFrame, keyCol: String,
            evalRate256: Int): (DataFrame, DataFrame) = {
    val gate = hashGate(col(keyCol), evalRate256)
    (df.filter(!gate), df.filter(gate))
  }

  /** Three-way train/val/test assignment from the same md5 byte: the
    * first val256/256 of hash space is "val", the next test256/256 is
    * "test", the rest "train". Label (not filter) form so one scan
    * tags the whole corpus; disjoint and exhaustive by construction,
    * and a key's split never changes as the corpus grows — the property
    * that keeps eval sets honest across corpus versions. A null key
    * lands in "train" (the `otherwise` branch): null has no stable
    * hash identity, and train is the split where an unidentifiable
    * row does least harm.
    */
  def splitLabel(key: Column, val256: Int, test256: Int): Column = {
    require(val256 >= 0 && test256 >= 0 && val256 + test256 <= 255,
      s"split fractions out of range: val=$val256 test=$test256")
    val h = substring(md5(key.cast("string")), 1, 2)
    when(h < lit(f"$val256%02x"), "val")
      .when(h < lit(f"${val256 + test256}%02x"), "test")
      .otherwise("train")
  }

  /** Leakage-safe three-way split: [[splitLabel]] keyed on the
    * duplicate-CLUSTER id rather than the document id, so a document
    * and all its near-duplicates land in the SAME split — splitting by
    * doc id leaks eval content into train through every surviving
    * near-dup (the classic contamination path a dedup pass alone
    * doesn't close, because dedup keeps one member per cluster and the
    * split must also be stable if the kept member changes). `pairs` is
    * any near-dup pair frame (id_a, id_b) — MinHash-LSH, SimHash,
    * embedding near-dup; clusters come from min-label components, and
    * singleton documents key on their own id as 1-element clusters.
    * One extra shuffle over the plain split (the label join); the
    * split column itself stays a pure hash of the cluster key, so
    * membership is reproducible and corpus-growth-stable exactly like
    * [[splitLabel]].
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       val256: Int, test256: Int): DataFrame = {
    // alternating-star: near-dup pair frames chain transitively, so
    // component diameter is unbounded — label propagation's diameter+1
    // round budget is the wrong contract for a split that must never
    // fail on a bigger corpus (policy set by the sf1.0 sweep finding)
    val labels = DedupCluster.componentsAlternating(docs, idCol, pairs)
    val out = docs.join(labels, docs(idCol) === labels("id"))
      .select(docs(idCol), col("cluster_id"),
        splitLabel(col("cluster_id"), val256, test256).as("split"))
      .checkpoint()
    DedupCluster.release(labels)
    out
  }

  /** Bounded deterministic sample: ≈`maxRows` rows (binomial around the
    * target, concentrated within ±O(√maxRows)) chosen by a 32-bit md5
    * gate on the key — membership is a pure function of (key, seed), so
    * the sample is reproducible across runs, engines, and partitionings,
    * and costs one count pass plus one scan, NO shuffle and NO
    * `orderBy(...).limit(n)` (which at corpus scale either heaps through
    * a single reducer or falls back to a global sort). The 32-bit gate
    * resolves fractions down to 2⁻³², fine enough that a trillion-row
    * corpus can still be gated to a ~10⁵-row training set — the
    * model-fitting primitive (KMeans codebooks, quantile sketches) where
    * the fit needs distribution coverage, not the population.
    *
    * A frame already at or under the budget passes through unchanged
    * (and un-counted frames pay the count only when sampling might
    * apply — callers with known-small inputs can skip calling this).
    */
  def boundedSample(df: DataFrame, keyCol: String, maxRows: Long,
                    seed: String): DataFrame = {
    require(maxRows > 0, s"maxRows must be positive: $maxRows")
    val n = df.count()
    if (n <= maxRows) df
    else {
      // threshold = ceil(fraction · 2³²): at least the target fraction,
      // never zero; compared against the first 8 md5 hex chars as an
      // unsigned 32-bit value
      val threshold = math.min(
        math.ceil(maxRows.toDouble / n * 4294967296.0).toLong, 4294967295L)
      val gate = conv(substring(
        md5(concat(col(keyCol).cast("string"), lit(":" + seed))), 1, 8),
        16, 10).cast("long") < lit(threshold)
      df.filter(gate)
    }
  }

  /** Deterministic training-order shuffle key: md5 of key + seed. Sort
    * by it (repartitionByRange + sortWithinPartitions at scale) for a
    * reproducible pseudo-random document order; a new seed reshuffles,
    * the same seed replays byte-identically on any engine.
    */
  def shuffleKey(key: Column, seed: String): Column =
    md5(concat(key.cast("string"), lit(":"), lit(seed)))

  /** Weighted sampling without replacement, derandomized (Efraimidis–
    * Spirakis exponential keys): each row gets priority u^(1/w) with u a
    * uniform (0,1] value derived from md5(key:seed) — the top-n
    * priorities ARE a weight-proportional sample without replacement.
    * Deterministic (same sample on re-run, any engine, any
    * partitioning), membership-stable under corpus growth for rows that
    * stay in the top-n, and one scan + a top-n (TakeOrdered at scale —
    * per-partition heaps, no global sort). The priority is rounded to 9
    * digits so both engines rank the identical value; ties (same
    * weight, adjacent hash) break by key.
    *
    * The mixture-sampling primitive: w = token count gives
    * token-proportional document draws; w = quality score biases toward
    * clean documents.
    */
  def weightedPriority(key: Column, weight: Column, seed: String): Column = {
    // first 8 md5 hex chars → 32-bit int x; u = (x+1)/2^32 ∈ (0, 1]
    val x = conv(substring(md5(concat(key.cast("string"), lit(":" + seed))),
      1, 8), 16, 10).cast("double")
    val u = (x + lit(1.0)) / lit(4294967296.0)
    graft.functions.Rounding.pround(
      pow(u, lit(1.0) / weight.cast("double")), 9)
  }

  /** Top-n rows by [[weightedPriority]]; rows with weight <= 0 can never
    * be drawn (u^(1/w) is not meaningful for them) and are filtered.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     n: Int, seed: String): DataFrame =
    df.filter(col(weightCol) > 0)
      .withColumn("priority",
        weightedPriority(col(keyCol), col(weightCol), seed))
      .orderBy(col("priority").desc, col(keyCol))
      .limit(n)

  /** Per-group quota cap — the domain-cap stage of a pretraining
    * pipeline (Gopher / RefinedWeb keep at most N documents per
    * domain so no single site dominates the mixture): at most
    * `maxPerGroup` rows per `groupCol`, the survivors chosen by the
    * deterministic [[shuffleKey]] priority (ties → key), so "which N
    * of this domain live" is pseudo-random yet replays byte-identical
    * on any engine and any partitioning.
    *
    * Scale shape: one hash shuffle on the group key, and Spark 4's
    * WindowGroupLimit pushes the `rn <= N` bound BELOW the exchange
    * (a partial per-partition top-N before the shuffle), so a
    * mega-domain with 10⁸ pages ships ~N·partitions rows, not 10⁸ —
    * the cap bounds exactly the skew it exists to remove.
    */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
                  maxPerGroup: Int, seed: String): DataFrame = {
    require(maxPerGroup > 0, s"maxPerGroup must be positive: $maxPerGroup")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(shuffleKey(col(keyCol), seed), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerGroup)
      .drop("__rn")
  }

  /** Token-budget corpus selection — the twin of [[capPerGroup]] in
    * the unit training actually budgets in: per group, walk the rows
    * in the deterministic md5-shuffled order ([[shuffleKey]], ties →
    * id) and keep the PREFIX whose running token total stays within
    * `budget` ("fill each source's slice of the mixture to N
    * tokens"). Token counts are non-negative, so the running sum is
    * monotone and `cum ≤ budget` IS a prefix — the selection is
    * engine- and partitioning-independent given the (hash, id) total
    * order. Rows with negative `tokenCol` are filtered (mirroring
    * [[weightedSample]]'s weight rule); the kept rows carry their
    * running total as `cum_tokens`.
    *
    * Scale shape: one hash exchange on the group plus one growing-
    * frame running sum — no global sort, no driver state. Unlike the
    * row-count cap there is no WindowGroupLimit pushdown (the cutoff
    * rank is data-dependent), so a mega-group ships its rows to one
    * task before the prefix filter. That mega-group is ENFORCED away:
    * a cheap map-side-combinable `groupBy(count)` pre-check fails
    * loudly when any group exceeds `maxRowsPerGroup` (the
    * resampleFfill/silhouette guard discipline — failing beats
    * silently funneling a corpus-scale group through one task).
    * Compose with [[capPerGroup]] first when a group's ROW count is
    * unbounded, or raise the bound deliberately.
    */
  def tokenBudgetSelect(df: DataFrame, groupCol: String, idCol: String,
                        tokenCol: String, budget: Long, seed: String,
                        maxRowsPerGroup: Long = 10000000L)
      : DataFrame =
    tokenBudgetSelectBy(
      df.withColumn("__shuf", shuffleKey(col(idCol), seed)),
      groupCol, tokenCol, budget, Seq(col("__shuf"), col(idCol)),
      maxRowsPerGroup)
      .drop("__shuf")

  /** [[tokenBudgetSelect]] under an EXPLICIT total order — the
    * quality-aware variant ("keep each source's best documents until
    * its token budget is spent", mirroring [[capPerGroupTop]] vs
    * [[capPerGroup]]). `order` must be a total order per group (end
    * it with the id column) or the prefix is not well-defined.
    */
  def tokenBudgetSelectBy(df: DataFrame, groupCol: String,
                          tokenCol: String, budget: Long,
                          order: Seq[Column],
                          maxRowsPerGroup: Long = 10000000L): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(order.nonEmpty, "tokenBudgetSelectBy needs an ordering")
    require(maxRowsPerGroup > 0,
      s"maxRowsPerGroup must be positive: $maxRowsPerGroup")
    import org.apache.spark.sql.expressions.Window
    val eligible = df.filter(col(tokenCol) >= 0)
    // Mega-group guard: the data-dependent cutoff has no
    // WindowGroupLimit pushdown, so one group's FULL row set ships to
    // one task. The count agg is map-side combinable (cost: one cheap
    // scan); past the bound we fail loudly with the worst offender
    // instead of letting that task absorb a corpus.
    val worst = eligible.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc)
      .limit(1).collect()
    worst.headOption.foreach { r =>
      val n = r.getLong(1)
      if (n > maxRowsPerGroup)
        throw new IllegalStateException(
          s"tokenBudgetSelect: group '${r.get(0)}' has $n rows " +
            s"(maxRowsPerGroup = $maxRowsPerGroup) — the data-dependent " +
            "budget cutoff would ship the whole group to one task. " +
            "Compose with capPerGroup/capPerGroupTop first, or raise " +
            "maxRowsPerGroup deliberately.")
    }
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eligible
      .withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Quality-aware per-group quota: keep the TOP `maxPerGroup` rows of
    * each group under `order` (a quality prior descending, say) — the
    * cap a curated corpus wants once per-doc quality exists: a capped
    * source keeps its BEST documents, where [[capPerGroup]] keeps a
    * pseudo-random draw. Same rank-window shape, same WindowGroupLimit
    * push-below-the-exchange at scale. Caller must make `order` total
    * (append a unique key) or survivors are nondeterministic on ties.
    */
  def capPerGroupTop(df: DataFrame, groupCol: String, maxPerGroup: Int,
                     order: Seq[Column]): DataFrame = {
    require(maxPerGroup > 0, s"maxPerGroup must be positive: $maxPerGroup")
    require(order.nonEmpty, "capPerGroupTop needs an ordering")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerGroup)
      .drop("__rn")
  }
}
