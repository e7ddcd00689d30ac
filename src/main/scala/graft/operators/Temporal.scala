package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) joins: for each fact row, the single dimension
  * version that was current at the fact's timestamp. The training-data
  * use case is label-leakage-free feature lookup — a feature table
  * snapshotted over time must never leak a future version into an
  * earlier example.
  *
  * Built by composition (SURVEY.md preference (a)): a range equi-join
  * on the key bounded by `dimTs <= factTs`, then the A4 keep-latest
  * window per fact. Fan-out is bounded by versions-per-key, so the
  * shuffle scales with |facts| + |matches|, never |facts| × |dim|. A
  * custom SparkPlan would only pay off once versions-per-key is large
  * enough to want a sort-merge with per-key backward scan; at that
  * point flip the internals without touching the API.
  */
object Temporal {

  /** Left as-of join: every fact survives; facts with no dimension
    * version at/before their timestamp get nulls.
    *
    * @param factId unique fact identifier (window key)
    * @param tieBreak extra dim ordering when versions share dimTs
    */
  def asOfJoin(facts: DataFrame, dim: DataFrame, factId: String,
               factKey: String, factTs: String, dimKey: String,
               dimTs: String, dimCols: Seq[String],
               tieBreak: Seq[String] = Nil): DataFrame = {
    val d = dim.select((dimKey +: dimTs +: (dimCols ++ tieBreak)).distinct.map(col): _*)
    val matches = facts.select(col(factId), col(factKey), col(factTs))
      .join(d, facts(factKey) === d(dimKey) && d(dimTs) <= facts(factTs))
    val latest = Relational.dedupLatest(matches, Seq(factId), dimTs, tieBreak)
      .select((factId +: dimCols).map(col): _*)
    facts.join(latest, Seq(factId), "left")
  }

  /** Binned range (interval) join: each left row paired with the right
    * rows of the same key whose timestamp falls in
    * `(leftTs + loSec, leftTs + hiSec]` — lower bound exclusive, upper
    * inclusive. Returns each matching pair exactly once, with the right
    * side's carried columns prefixed `r_`.
    *
    * Scale shape: the naive key-equi-join + range filter pairs every
    * row combination of a key before filtering — quadratic on hot keys.
    * Here time is quantized into bins of the WINDOW WIDTH
    * (`hiSec - loSec`): a right row lands in exactly one bin, a left
    * row's window overlaps at most two, so the join runs on
    * `(key, bin)` and candidate fan-out is bounded by rows-per-bin —
    * the Spark-native translation of an interval index. Because each
    * right row has one bin, no matching pair can be produced twice.
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String,
                leftTs: String, rightTs: String,
                loSec: Long, hiSec: Long,
                rightCols: Seq[String]): DataFrame = {
    require(hiSec > loSec, s"empty window: ($loSec, $hiSec]")
    val w = hiSec - loSec
    val r = right
      .select((Seq(rightKey, rightTs) ++ rightCols).distinct
        .map(c => col(c).as(s"r_$c")): _*)
      .withColumn("__bin",
        floor(col(s"r_$rightTs").cast("long") / w).cast("long"))
    val probes = left.withColumn("__bin",
      explode(array_distinct(array(
        floor((col(leftTs).cast("long") + loSec) / w).cast("long"),
        floor((col(leftTs).cast("long") + hiSec) / w).cast("long")))))
    probes
      .join(r, probes("__bin") === r("__bin") &&
        probes(leftKey) === r(s"r_$rightKey") &&
        r(s"r_$rightTs") > probes(leftTs) + expr(s"INTERVAL $loSec SECONDS") &&
        r(s"r_$rightTs") <= probes(leftTs) + expr(s"INTERVAL $hiSec SECONDS"))
      .drop("__bin")
  }

  /** Exponential time-decay aggregation: per key, `Σ value·2^(-Δt/h)`
    * and the decayed event count `Σ 2^(-Δt/h)` at a fixed reference
    * instant (`Δt` = refTs − ts, `h` = the half-life in seconds) — the
    * recency-weighted feature a feature store derives from an event
    * stream (an event one half-life old counts half as much as one
    * from just now). A plain map-side-combinable groupBy: the weight
    * is a pure per-row projection, so the shuffle carries one partial
    * sum per (key, partition) regardless of corpus size.
    *
    * Cross-engine determinism: Δt is computed in integer MICROSECONDS
    * and divided by `h·10⁶` in one double op (subtracting two
    * per-side double conversions would differ in the last ulp between
    * engines); each weighted term rounds at 9 and sums as an exact
    * decimal so the fold is order-independent (the l9 discipline the
    * perplexity/KL oracles established for libm-boundary functions).
    */
  def decayedAgg(events: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, halfLifeSec: Long,
                 refTs: String): DataFrame = {
    require(halfLifeSec > 0,
      s"decayedAgg: halfLifeSec must be positive, got $halfLifeSec — " +
        "a zero/negative half-life makes every weight NaN/Infinity")
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.types.DecimalType
    val dtUs = unix_micros(lit(refTs).cast("timestamp")) -
      unix_micros(col(tsCol))
    val wgt = pow(lit(0.5), dtUs / lit(halfLifeSec * 1e6))
    events
      .select(col(keyCol),
        pround(col(valueCol) * wgt, 9).cast(DecimalType(38, 12)).as("__t"),
        pround(wgt, 9).cast(DecimalType(38, 12)).as("__w"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        pround(sum(col("__t")).cast("double"), 6).as("decayed_sum"),
        pround(sum(col("__w")).cast("double"), 6).as("decayed_count"))
  }

  /** Per-event RUNNING decayed sum — the recency-weighted counter AT
    * each event: `S_i = Σ_{(t_j,tie_j) ≤ (t_i,tie_i)} v_j ·
    * 0.5^((t_i−t_j)/h)` over the same key (each row includes itself:
    * its own term is `v_i`). The running twin of [[decayedAgg]], and
    * the standard burst/engagement feature a ranker reads per event.
    *
    * Distributed form: the per-key prefix recurrence rewrites as
    * `S_i = 0.5^((t_i−t_min)/h) · cumsum_j (v_j ·
    * 0.5^(−(t_j−t_min)/h))` — one window cumsum over the key
    * partition ordered by `(ts, tieBreak)`, no recursion, no
    * per-row UDF state. One hash exchange on the key; the cumsum is
    * the same WindowExec every ranking query pays.
    *
    * The un-normalized factor grows as `2^(span/h)`, so the key's
    * observed span is bounded: a span beyond `maxHalfLives` (default
    * 40 — ~12 of the sum's significant digits consumed) fails loudly
    * instead of silently overflowing to garbage. At scale, decay
    * within bounded windows (key on (user, month)); `maxHalfLives <=
    * 0` disables for callers that pre-bounded.
    *
    * Cross-engine determinism: [[decayedAgg]]'s l9 discipline — Δt in
    * integer µs over one double divide, terms rounded at 9 and summed
    * as exact DECIMAL(38,12) (order-independent). The rescale factor
    * is NOT pre-rounded: for late rows it is ~2^(−span/h) (far below
    * any fixed decimal grid — rounding it would zero the row); it
    * multiplies the exact sum in one IEEE op and only the product
    * rounds (pround 6), the single-multiply case the l9 discipline
    * doesn't need to protect.
    */
  def decayedRunning(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, halfLifeSec: Long,
                     tieBreak: Seq[String] = Nil,
                     maxHalfLives: Double = 40.0): DataFrame = {
    require(halfLifeSec > 0,
      s"decayedRunning: halfLifeSec must be positive, got $halfLifeSec")
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.types.DecimalType
    if (maxHalfLives > 0) {
      val worstRow = events
        .groupBy(col(keyCol))
        .agg(((max(unix_micros(col(tsCol))) -
          min(unix_micros(col(tsCol)))).cast("double") /
          lit(halfLifeSec * 1e6)).as("hl"))
        .agg(max(col("hl"))).first()
      // max over an EMPTY frame is null — nothing to guard
      val worst = if (worstRow.isNullAt(0)) 0.0 else worstRow.getDouble(0)
      if (worst > maxHalfLives) throw new IllegalStateException(
        f"decayedRunning: a key spans $worst%.1f half-lives > " +
          s"maxHalfLives=$maxHalfLives — the un-normalized cumsum " +
          "term grows as 2^span and would drown the sum's precision; " +
          "bound the span (key on (user, window)) or lengthen the " +
          "half-life")
    }
    val keyW = Window.partitionBy(col(keyCol))
    val runW = Window.partitionBy(col(keyCol))
      .orderBy((tsCol +: tieBreak).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t0 = min(unix_micros(col(tsCol))).over(keyW)
    val rel = (unix_micros(col(tsCol)) - t0) / lit(halfLifeSec * 1e6)
    val term = pround(col(valueCol) * pow(lit(0.5), -rel), 9)
      .cast(DecimalType(38, 12))
    val cum = sum(term).over(runW).cast("double")
    val factor = pow(lit(0.5), rel)
    events.withColumn("decayed_running", pround(factor * cum, 6))
  }

  /** Regular-grid resampling with forward fill (last observation
    * carried forward): per key, a `stepSec`-spaced timestamp grid from
    * the key's first observation (aligned down to `alignUnit`) to its
    * last, each grid instant carrying the latest observed value at or
    * before it. The feature-engineering staple that turns an irregular
    * event stream into the fixed-cadence series a model consumes; grid
    * points before the key's first observation (alignment padding) are
    * null, not zero — absence of data is not a value.
    *
    * Shape: observations first dedup to one-per-(key, instant) (last
    * wins via `tieBreak` — A4 semantics), grid rows generate from a
    * |keys|-row bounds frame (`sequence` + explode, no driver loop),
    * and the fill is ONE window pass over the union ordered by
    * `(ts, is_grid)` — a grid instant coinciding with an observation
    * reads that observation, not the previous one. One hash exchange
    * on the key; cost scales with |observations| + |grid|, never
    * |observations| × |grid|.
    *
    * An unbounded key span × a small step is the quadratic-ish trap
    * (one key spanning years at 1 s = 10⁷ rows from one input row), so
    * the worst per-key grid size is checked on the tiny bounds frame
    * and over-budget inputs fail loudly (the triangles/silhouette
    * guard discipline) — at scale, resample within bounded partitions
    * (key on (entity, month)) or raise `maxPointsPerKey` deliberately.
    */
  def resampleFfill(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, stepSec: Long,
                    alignUnit: String = "hour",
                    tieBreak: Seq[String] = Nil,
                    maxPointsPerKey: Long = 1000000L): DataFrame = {
    require(stepSec > 0, s"resampleFfill: stepSec must be positive, got $stepSec")
    val obs = Relational.dedupLatest(
      events.select((Seq(keyCol, tsCol, valueCol) ++ tieBreak).distinct
        .map(col): _*),
      Seq(keyCol, tsCol), tsCol, tieBreak)
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valueCol).as("__v"))
    val bounds = obs.groupBy("__k")
      .agg(date_trunc(alignUnit, min(col("__t"))).as("t0"),
        max(col("__t")).as("t1"))
      .checkpoint()
    val worstSpanUs = bounds
      .agg(max(unix_micros(col("t1")) - unix_micros(col("t0")))).first()
    if (!worstSpanUs.isNullAt(0)) {
      val worstPoints = worstSpanUs.getLong(0) / (stepSec * 1000000L) + 1
      if (worstPoints > maxPointsPerKey) throw new IllegalStateException(
        s"resampleFfill: worst key would expand to $worstPoints grid points " +
          s"(> maxPointsPerKey=$maxPointsPerKey). Resample within bounded " +
          "partitions (e.g. key on (entity, month)) or raise the bound " +
          "deliberately.")
    }
    val grid = bounds.select(col("__k"),
      explode(expr(s"sequence(t0, t1, INTERVAL $stepSec SECONDS)")).as("__t"))
      .withColumn("__v", lit(null).cast(obs.schema("__v").dataType))
      .withColumn("__isg", lit(1))
    val u = obs.withColumn("__isg", lit(0)).unionByName(grid)
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__isg"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__ff", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__isg") === 1)
      .select(col("__k").as(keyCol), col("__t").as("grid_ts"),
        col("__ff").as(s"${valueCol}_ffill"))
  }
}
