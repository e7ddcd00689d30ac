package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Rounding.pround

/** ClickHouse Summing/AggregatingMergeTree semantics, Spark-first:
  * a stored rollup table holds MERGEABLE partial-aggregate states per
  * key, new batches reduce to their own states and fold in with the
  * same reduction — never a rescan of the base table. The MergeTree
  * family is thereby complete: Replacing (A4 `dedupLatest` +
  * `Retention.optimizeFinal`), Summing/Aggregating (here).
  *
  * State per key: `n` (BIGINT), `sum_v` (exact DECIMAL(38,12) of
  * l9-rounded values — accumulation-order-independent, so distributed
  * merge order can never change a digit), `min_v`/`max_v`, `kmv`
  * (the ≤k smallest md5 hashes of the distinct-counted column — the
  * classic KMV sketch state, mergeable by "k smallest of the union"),
  * and `hll` (the dense m=256 HLL register array — ClickHouse
  * `uniqHLL12`'s AggregatingMergeTree state, mergeable by
  * register-wise MAX). Everything is algebraic or bounded-state: a
  * state row costs O(k + m) regardless of how many rows fed it.
  *
  * Merge associativity/commutativity is by construction: [[merge]] is
  * the SAME groupBy reduction applied to a union of state rows, so
  * build(all) ≡ merge(build(b₁), …, build(bₙ)) for ANY batch split —
  * the property the e2e oracle checks and `RollupSpec` re-checks on
  * adversarial splits.
  *
  * 100 TB shape: batch states reduce map-side (every aggregate here is
  * partial-aggregable); the stored rollup is |keys| rows, so the merge
  * join moves state rows only. The kmv build pre-filters to each key's
  * k smallest hashes with a rank window BEFORE any collection —
  * Spark's WindowGroupLimit pushes that top-k into the map side, so
  * the shuffle carries ≤k hash rows per key, not the key's distinct
  * universe (the same rank-limit pushdown the A4 dedups lean on).
  */
object Rollup {

  /** Reduce a raw batch to one state row per key.
    *
    * Beside the KMV hash list the state carries the distinct sketch in
    * ClickHouse `uniqCombined`'s two-mode shape:
    *
    *  - `hll`: the dense m=256 HLL register array
    *    ([[graft.functions.Hll]]) — `uniqHLL12`'s AggregatingMergeTree
    *    state, ALWAYS populated (registers build as a map-side-
    *    combinable groupBy(key, bucket) MAX(ρ), ≤ m rows per key cross
    *    the shuffle; constant state size where KMV's is O(k));
    *  - `hll_sparse`: the full sorted hash list when the key's
    *    distinct count is ≤ `sparseThreshold` (null above it), so
    *    small keys finalize EXACT — CH's sparse-set-below-threshold
    *    behavior — and `hll_mode` names the mode
    *    ('sparse'/'dense') so the stored state is self-describing.
    *
    * The sparse list costs nothing extra at scale: it shares the KMV
    * rank window (bounded at max(k, threshold+1) rows per key, pushed
    * below the exchange by WindowGroupLimit), and whether the key
    * exceeded the threshold is read off the max rank seen — no second
    * scan, no unbounded collect on a mega key.
    */
  def aggregateState(batch: DataFrame, keys: Seq[String], valCol: String,
                     distinctCol: String, k: Int,
                     sparseThreshold: Int = graft.functions.Hll.M)
      : DataFrame = {
    require(k >= 16, s"k >= 16 required for a usable KMV estimate, got $k")
    require(sparseThreshold >= 1,
      s"sparseThreshold must be positive, got $sparseThreshold")
    import graft.functions.Hll
    val scalars = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(pround(col(valCol), 9).cast(DecimalType(38, 12))).as("sum_v"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))
    // NULL distinct-column values do not count as a distinct value
    // (SQL count(DISTINCT x) semantics, which is also what the oracle
    // computes). Unfiltered, md5(NULL)=NULL would crash the HLL
    // map_from_entries build and silently occupy KMV top-k slots
    // (NULL sorts first ascending, then collect_list drops it — an
    // undercount). Filter once at the hash source.
    val hashed = batch
      .select(keys.map(col) :+ md5(col(distinctCol).cast("string")).as("__h"): _*)
      .filter(col("__h").isNotNull)
      .distinct()
    // One bounded rank window feeds both the KMV list and the sparse
    // set: rank ≤ max(k, T+1) caps the per-key collect; max(rank) ≤ T
    // ⟺ the key's full distinct set was captured.
    val bound = math.max(k, sparseThreshold + 1)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__h"))
    val kmv = hashed
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= bound)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__h"))).as("__hs"),
        max(col("__r")).as("__seen"))
      .withColumn("kmv", slice(col("__hs"), 1, k))
      .withColumn("hll_sparse",
        when(col("__seen") <= sparseThreshold, col("__hs")))
      .withColumn("hll_mode",
        when(col("hll_sparse").isNotNull, lit("sparse"))
          .otherwise(lit("dense")))
      .drop("__hs", "__seen")
    val hll = hashed
      .select(keys.map(col) ++ Seq(Hll.bucket(col("__h")).as("__b"),
        Hll.rho(col("__h")).as("__rho")): _*)
      .groupBy(keys.map(col) :+ col("__b"): _*)
      .agg(max(col("__rho")).as("__m"))
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__m"))))
        .as("__regs"))
      .withColumn("hll",
        transform(sequence(lit(0), lit(Hll.M - 1)),
          i => coalesce(element_at(col("__regs"), i), lit(0))))
      .drop("__regs")
    // LEFT joins with empty defaults: a key whose distinct-counted
    // values are ALL null has no sketch rows at all, but its scalar
    // aggregates must still land (empty KMV/sparse lists → exact 0;
    // all-zero registers → linear counting gives 0)
    scalars.join(kmv, keys, "left").join(hll, keys, "left")
      .withColumn("kmv",
        coalesce(col("kmv"), array().cast("array<string>")))
      .withColumn("hll_sparse",
        when(col("hll_mode").isNull, array().cast("array<string>"))
          .otherwise(col("hll_sparse")))
      .withColumn("hll_mode", coalesce(col("hll_mode"), lit("sparse")))
      .withColumn("hll",
        coalesce(col("hll"),
          array_repeat(lit(0), graft.functions.Hll.M)))
  }

  /** Fold state frames into one — the MergeTree background merge as a
    * query. Same reduction as the build, applied to state rows.
    *
    * Sparse/dense mode algebra (the `uniqCombined` merge rule): the
    * dense registers always merge by register-wise MAX; the sparse
    * list survives only when EVERY contributing state was sparse and
    * the union stays within the threshold — otherwise the key
    * converts to dense, which is exactly the already-merged register
    * array (every sparse state carries its full register image, so
    * conversion is free: no re-hash, no densify pass). */
  def merge(states: Seq[DataFrame], keys: Seq[String], k: Int,
            sparseThreshold: Int = graft.functions.Hll.M): DataFrame = {
    require(states.nonEmpty, "merge: no states")
    // State-format check with an actionable message: a state frame
    // written by an older build (e.g. pre-`hll`, pre-mode-tag) would
    // otherwise fail deep inside the union/agg — or worse, a sketch
    // column silently treated as empty would UNDERCOUNT. Loud beats
    // wrong.
    val expected = keys ++ Seq("n", "sum_v", "min_v", "max_v", "kmv",
      "hll", "hll_sparse", "hll_mode")
    states.foreach { s =>
      val missing = expected.filterNot(s.columns.contains)
      require(missing.isEmpty,
        s"rollup state frame is missing column(s) ${missing.mkString(", ")} " +
          "— was it written by an older state format? Rebuild the state " +
          "with aggregateState (a stored sketch cannot be reconstructed " +
          "from finalized aggregates).")
    }
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, k).as("kmv"),
        // HLL union = register-wise MAX: fold the collected state
        // arrays with zip_with(greatest) — associative+commutative,
        // so any merge tree yields the same registers
        aggregate(collect_list(col("hll")),
          array_repeat(lit(0), graft.functions.Hll.M),
          (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b)))
          .as("hll"),
        // collect_list skips nulls, so equal counts ⟺ every state
        // was sparse; the union list is null otherwise
        when(count(col("hll_sparse")) === count(lit(1)),
          array_sort(array_distinct(flatten(collect_list(col("hll_sparse"))))))
          .as("__su"))
      .withColumn("hll_sparse",
        when(size(col("__su")) <= sparseThreshold, col("__su")))
      .withColumn("hll_mode",
        when(col("hll_sparse").isNotNull, lit("sparse"))
          .otherwise(lit("dense")))
      .drop("__su")
  }

  // --- windowFunnel as AggregatingMergeTree state ---------------------

  /** ClickHouse's `windowFunnelState` combinator shape: the mergeable
    * per-key state is the key's condition-matching `(instant µs, step
    * index)` SET — funnel levels themselves are NOT algebraic across
    * batch splits (a chain can straddle two batches), but the event
    * set is (union), and the level is a pure function of it. With the
    * day in the rollup key the state per key is one key-day's step
    * events — bounded by daily activity, the same bound CH's
    * AggregatingMergeTree accepts for this combinator.
    *
    * Guarded like every unbounded-collect path: a key whose matching
    * event count exceeds `maxEventsPerKey` fails loudly (one cheap
    * map-side-combinable count pre-check) instead of building a
    * corpus-sized array row.
    */
  def aggregateFunnelState(batch: DataFrame, keys: Seq[String],
                           tsCol: String, typeCol: String,
                           steps: Seq[String],
                           maxEventsPerKey: Long = 1000000L): DataFrame = {
    require(steps.nonEmpty, "aggregateFunnelState: steps must be non-empty")
    // one row per (key, instant, matching step index) — an event type
    // matching SEVERAL chain positions (repeated steps) emits each
    val stepIdx = filter(
      array(steps.zipWithIndex.map { case (s, i) =>
        when(col(typeCol) === s, lit(i)).otherwise(lit(-1))
      }: _*), x => x >= 0)
    val evts = batch
      .select(keys.map(col) :+ unix_micros(col(tsCol)).as("__t") :+
        explode(stepIdx).as("__s"): _*)
      .distinct()
    val worst = evts.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc).limit(1).collect()
    worst.headOption.foreach { r =>
      val n = r.getLong(r.length - 1)
      if (n > maxEventsPerKey)
        throw new IllegalStateException(
          s"aggregateFunnelState: a key holds $n step events " +
            s"(maxEventsPerKey = $maxEventsPerKey) — add a finer time " +
            "component to the rollup key or raise the bound deliberately.")
    }
    evts.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t").as("t"),
        col("__s").as("s")))).as("funnel_state"))
  }

  /** Funnel-state merge: union of the event sets — associative,
    * commutative, idempotent (a replayed batch cannot double-count),
    * so build(all) ≡ merge(build(bᵢ)) for any split, INCLUDING splits
    * that cut a conversion chain in half. */
  def mergeFunnelStates(states: Seq[DataFrame], keys: Seq[String])
      : DataFrame = {
    require(states.nonEmpty, "mergeFunnelStates: no states")
    states.foreach(s => require(s.columns.contains("funnel_state"),
      "not a funnel state frame (missing funnel_state) — was it written " +
        "by aggregateFunnelState?"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(array_distinct(flatten(
        collect_list(col("funnel_state"))))).as("funnel_state"))
  }

  /** Read side: explode the stored event sets and run the
    * oracle-checked funnel walk ([[graft.operators.Funnel]]) over
    * them — `(keys…, funnel_level)`, one row per key owning a step-1
    * event. Strict modes compose exactly as on raw events. Cost ∝
    * Σ|state|, the walk's usual linear frame. */
  def finalizeFunnel(state: DataFrame, keys: Seq[String],
                     steps: Seq[String], windowSec: Long,
                     strictOrder: Boolean = false,
                     strictDedup: Boolean = false): DataFrame = {
    val exploded = state
      .select(keys.map(col) :+ explode(col("funnel_state")).as("__e"): _*)
      .select(keys.map(col) ++ Seq(
        timestamp_micros(col("__e.t")).as("__ts"),
        col("__e.s").cast("string").as("__step")): _*)
      .withColumn("__gk", struct(keys.map(col): _*))
    graft.operators.Funnel.windowFunnel(exploded, "__gk", "__ts", "__step",
      steps.indices.map(_.toString), windowSec,
      strictOrder = strictOrder, strictDedup = strictDedup)
      .select(col("__gk.*"), col("funnel_level"))
  }

  // --- topK as AggregatingMergeTree state -----------------------------

  /** ClickHouse's `topKState` combinator: the mergeable per-key state
    * is the Misra–Gries counter list itself (≤ k (item, count) rows —
    * O(k) per key regardless of input size, the same bounded-state
    * contract as the KMV list and the HLL registers). Built by the
    * weighted sketch with weight 1 — [[graft.functions.MisraGries]]'s
    * frequency guarantee verbatim.
    */
  def aggregateTopKState(batch: DataFrame, keys: Seq[String],
                         itemCol: Column, k: Int): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(graft.functions.MisraGriesWeighted.column(itemCol, lit(1L), k)
        .as("topk_state"))

  /** topK-state merge (`topKMerge`): explode the stored counter lists
    * and re-fold them through the WEIGHTED sketch — feeding a counter
    * (item, count) as one weighted entry IS the mergeable-summaries
    * rule, so the weighted aggregate built for `topKWeighted` is
    * exactly the state-merge operator for the unweighted sketch. Below
    * saturation (a key's distinct items ≤ k) no counter is ever
    * decremented, so merge(build(bᵢ)) ≡ build(all) EXACTLY for any
    * batch split — the regime the e2e oracle pins; above saturation
    * every merge order stays within the N/(k+1) guarantee (spec'd, the
    * sketch's own contract).
    */
  def mergeTopKStates(states: Seq[DataFrame], keys: Seq[String], k: Int)
      : DataFrame = {
    require(states.nonEmpty, "mergeTopKStates: no states")
    states.foreach(s => require(s.columns.contains("topk_state"),
      "not a topK state frame (missing topk_state) — was it written by " +
        "aggregateTopKState?"))
    val all = states.reduce(_ unionByName _)
    all
      .select(keys.map(col) :+ explode(col("topk_state")).as("__e"): _*)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.MisraGriesWeighted.column(
        col("__e.item"), col("__e.count"), k).as("topk_state"))
  }

  /** Read side: the top `n` items per key from the stored counter
    * list — explode + rank by (count desc, item asc), the sketch's
    * own deterministic output order. `WindowGroupLimit` bounds the
    * rank shuffle at ~n rows per partition; state lists are ≤ k rows
    * per key by construction anyway. */
  def finalizeTopK(state: DataFrame, keys: Seq[String], n: Int)
      : DataFrame = {
    require(n >= 1, s"finalizeTopK: n must be positive, got $n")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__e.count").desc, col("__e.item"))
    state
      .select(keys.map(col) :+ explode(col("topk_state")).as("__e"): _*)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= n)
      .select(keys.map(col) ++ Seq(col("__e.item").as("item"),
        col("__e.count").as("cnt"), col("__r").as("rnk")): _*)
  }

  /** Count–Min frequency state per key (`cm`: the flattened depth×width
    * grid of [[graft.functions.CmSketch]]) — the AggregatingMergeTree
    * leg for POINT-FREQUENCY queries, completing the stored-state
    * family (scalars + KMV/HLL = distinct, topK = which-are-heavy,
    * CM = how often is THIS term, for any term, after the fact).
    * State size is O(depth·width) per key regardless of input rows.
    */
  def aggregateCmState(batch: DataFrame, keys: Seq[String],
                       termCol: Column, depth: Int, width: Int)
      : DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(graft.functions.CmSketch.column(termCol, depth, width).as("cm"))

  /** CM-state merge: grids of the same geometry add cell-wise — the
    * unconditionally associative+commutative case of the family (no
    * saturation regime, no mode conversion), so build(all) ≡
    * merge(build(bᵢ)) EXACTLY for any batch split. The fold is
    * posexplode → (key, cell) integer sums → ordered rebuild (the HLL
    * register idiom above); a state whose grid size disagrees with
    * depth·width raises loudly instead of silently truncating the
    * rebuilt array.
    */
  def mergeCmStates(states: Seq[DataFrame], keys: Seq[String],
                    depth: Int, width: Int): DataFrame = {
    require(states.nonEmpty, "mergeCmStates: no states")
    states.foreach(s => require(s.columns.contains("cm"),
      "not a CM state frame (missing cm) — was it written by " +
        "aggregateCmState?"))
    val dw = depth * width
    val all = states.reduce(_ unionByName _)
      .withColumn("cm", when(size(col("cm")) === lit(dw), col("cm"))
        .otherwise(raise_error(concat(
          lit(s"mergeCmStates: grid size != $dw (depth=$depth, " +
            s"width=$width) — state built with different geometry: "),
          size(col("cm")).cast("string")))))
    all.select(keys.map(col) :+ posexplode(col("cm")): _*)
      .groupBy(keys.map(col) :+ col("pos"): _*)
      .agg(sum(col("col")).as("__c"))
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("pos"), col("__c"))))
        .as("__g"))
      .withColumn("cm", transform(sequence(lit(0), lit(dw - 1)),
        i => coalesce(element_at(col("__g"), i), lit(0L))))
      .drop("__g")
  }

  /** Read side: point-frequency estimates for a (small, broadcast)
    * probe-term frame against every stored key — est = min over the
    * depth rows of the term's cell, never below the true count. The
    * probe cells are the same md5 arithmetic the sketch's update uses
    * ([[graft.functions.CmSketch.cell]]), spelled in builtin
    * expressions so a stored grid is queryable from plain SQL too.
    */
  def finalizeCm(state: DataFrame, keys: Seq[String], terms: DataFrame,
                 termCol: String, depth: Int, width: Int): DataFrame = {
    val est = least((0 until depth).map { j =>
      val cell = (conv(substring(md5(
        concat(col(termCol), lit(":cm" + j))), 1, 8), 16, 10)
        .cast("long") % width).cast("int")
      element_at(col("cm"), cell + lit(j * width) + lit(1))
    }: _*)
    state.crossJoin(broadcast(terms.select(col(termCol))))
      .select(keys.map(col) ++ Seq(col(termCol),
        est.as("cm_est")): _*)
  }

  /** Quantile state over a fixed-resolution bounded grid — the
    * quantile leg of the mergeable-state family (CH's
    * `quantileState` combinator is a reservoir, merge-order-DEPENDENT
    * by design; the engine-independent reading is a fixed counting
    * grid, the same determinism call as [[graft.operators.Aggregates.histogram]]
    * vs CH's adaptive bins). State = one row per (key, bucket) with
    * bucket = floor((v − lo)/res) clamped into [−1, nbins] — −1 and
    * nbins are the explicit below/above lanes, so edge quantiles stay
    * honest instead of silently saturating. Merge is an integer
    * cell-wise add ([[mergeQuantileStates]]): UNCONDITIONALLY exact,
    * build(all) ≡ merge(build(bᵢ)) for any split — no saturation
    * regime, no order dependence. The answer is exact to `res`:
    * the returned bucket provably brackets the true quantile. Sparse
    * (absent buckets = 0), so state size ≤ min(|values|, nbins+2) per
    * key.
    */
  def aggregateQuantileState(batch: DataFrame, keys: Seq[String],
                             value: Column, lo: Double, res: Double,
                             nbins: Int): DataFrame = {
    require(res > 0 && nbins > 0, s"bad grid: res=$res nbins=$nbins")
    val raw = floor((value - lit(lo)) / lit(res))
    val bucket = when(raw < 0, lit(-1L))
      .when(raw >= nbins, lit(nbins.toLong))
      .otherwise(raw.cast("long"))
    batch.filter(value.isNotNull) // NULLs have no rank — not counted
      .groupBy(keys.map(col) :+ bucket.as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise integer add of quantile-grid states — exact for any
    * batch split/order. Geometry lives in (lo, res, nbins) held by the
    * caller's table contract; a drifted grid shows up as out-of-range
    * buckets at finalize, which raises.
    */
  def mergeQuantileStates(states: Seq[DataFrame], keys: Seq[String])
  : DataFrame = {
    require(states.nonEmpty, "mergeQuantileStates: no states")
    states.foreach(s => require(
      s.columns.contains("bucket") && s.columns.contains("cnt"),
      "not a quantile state frame (missing bucket/cnt) — was it " +
        "written by aggregateQuantileState?"))
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Read side: for each requested q, the smallest bucket whose
    * cumulative count reaches ceil(q·n), with its bracketing value
    * range [lo_edge, up_edge). The below/above lanes report NULL on
    * their open side. One growing-frame cumsum per key + a per-q
    * conditional min — both on the (key, bucket) exchange; grid
    * buckets outside [−1, nbins] raise (geometry drift).
    */
  def finalizeQuantile(state: DataFrame, keys: Seq[String],
                       qs: Seq[Double], lo: Double, res: Double,
                       nbins: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1]: $qs")
    import org.apache.spark.sql.expressions.Window
    val guarded = state.withColumn("bucket",
      when(col("bucket") < -1 || col("bucket") > nbins,
        raise_error(concat(lit("finalizeQuantile: bucket out of grid " +
          s"[-1, $nbins] — state built with different geometry: "),
          col("bucket").cast("string"))))
        .otherwise(col("bucket")))
    val wc = Window.partitionBy(keys.map(col): _*).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(keys.map(col): _*)
    val cum = guarded
      .withColumn("__cum", sum(col("cnt")).over(wc))
      .withColumn("__n", sum(col("cnt")).over(wk))
    val perQ = qs.map { q =>
      // smallest bucket with cum >= ceil(q*n): min over qualifying rows
      cum.filter(col("__cum") >= ceil(lit(q) * col("__n")))
        .groupBy(keys.map(col): _*)
        .agg(min(col("bucket")).as("bucket"))
        .withColumn("q", lit(q))
    }
    perQ.reduce(_ unionByName _)
      .withColumn("lo_edge",
        when(col("bucket") >= 0, lit(lo) + col("bucket") * lit(res)))
      .withColumn("up_edge",
        when(col("bucket") < nbins, lit(lo) + (col("bucket") + 1) * lit(res)))
  }

  /** Finalize a state into the read-side aggregate row: count, sum,
    * min, max, avg, and the KMV distinct estimate `(k−1)/frac(kth)`
    * (exact `n_seen` below saturation). The estimator arithmetic is
    * the [[graft.operators.Profile.kmvEstimate]] spelling, so the
    * DuckDB replica is shared. */
  def finalizeState(state: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val kth: Column = element_at(col("kmv"), k)
    val frac = conv(substring(kth, 1, 13), 16, 10).cast("double") /
      lit(4503599627370496.0) // 16^13 = 2^52
    val nSeen = size(col("kmv"))
    val est = when(nSeen < k || frac <= 0.0, nSeen.cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) / frac + lit(0.5)).cast("long"))
    // HLL read side, uniqCombined-style: a sparse-mode key reports its
    // EXACT distinct count (the stored hash list's size); dense keys
    // go through the integer-scaled harmonic sum over the register
    // array (deterministic array order — exact), empty-register count
    // for the linear-counting branch
    val sInt = expr("aggregate(hll, CAST(0 AS BIGINT), " +
      "(acc, m) -> acc + CAST(power(2, 53 - m) AS BIGINT))")
    val vEmpty = expr("size(filter(hll, m -> m = 0))")
    val hllEst = when(col("hll_sparse").isNotNull,
        size(col("hll_sparse")).cast("double"))
      .otherwise(graft.functions.Hll.estimate(sInt, vEmpty))
    state.select(keys.map(col) ++ Seq(
      col("n"),
      pround(col("sum_v").cast("double"), 6).as("sum_v"),
      col("min_v"), col("max_v"),
      pround(col("sum_v").cast("double") / col("n"), 6).as("avg_v"),
      est.as("distinct_est"),
      hllEst.as("hll_distinct_est"),
      col("hll_mode")): _*)
  }
}
