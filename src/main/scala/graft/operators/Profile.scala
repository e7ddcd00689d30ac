package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Data-quality profiling: one pass over the table producing per-column
  * completeness and cardinality stats in long format (column, n_rows,
  * n_nulls, n_distinct, min/max as strings). The ingest-time health
  * check the reference performs implicitly via NOT NULL + DEFAULT DDL;
  * here it is an explicit, queryable operator.
  *
  * Single aggregation job: all per-column expressions evaluate in one
  * scan (no per-column passes), then the wide row is unpivoted with
  * `stack` — at 100 TB this is exactly one read of the table.
  */
object Profile {

  def profile(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType ||
        f.dataType.typeName == "timestamp")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { f =>
      Seq(
        sum(when(col(f.name).isNull, 1).otherwise(0)).as(s"${f.name}__nulls"),
        countDistinct(col(f.name)).as(s"${f.name}__distinct"),
        min(col(f.name)).cast("string").as(s"${f.name}__min"),
        max(col(f.name)).cast("string").as(s"${f.name}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map(f =>
      s"'${f.name}', `${f.name}__nulls`, `${f.name}__distinct`, " +
        s"`${f.name}__min`, `${f.name}__max`").mkString(", ")
    wide.selectExpr("__n AS n_rows",
      s"stack(${cols.length}, $stackExpr) AS (column_name, n_nulls, n_distinct, min_value, max_value)")
      .select("column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value")
  }

  /** Temperature-flattened mixture rates (the multilingual τ-sampling
    * rule): target probability p_g ∝ share_g^τ — τ=1 keeps the natural
    * mix, τ=0 is uniform, 0<τ<1 upweights small groups. `keep_rate` is
    * the per-group single-pass downsampling rate that realizes the
    * target mix ((p_g/share_g) scaled so the most-boosted group keeps
    * everything); feed it to `Sampling.stratifiedSample` as
    * `floor(rate*256)` gates. Input is any per-group token aggregate
    * (e.g. [[mixSummary]] output); both normalizers are tiny
    * single-row aggregates broadcast back.
    */
  def temperatureRates(mix: DataFrame, groupCol: String, tokensCol: String,
                       tau: Double): DataFrame = {
    import graft.functions.Rounding.pround
    // a zero-token group would make p_raw/share = 0/0 = NaN, and NaN
    // sorts largest in max() — poisoning every group's keep_rate; an
    // empty group has nothing to sample, so it is dropped up front
    val nonEmpty = mix.filter(col(tokensCol) > 0)
    val tot = nonEmpty.agg(sum(col(tokensCol)).cast("double").as("total"))
    val s = nonEmpty.crossJoin(broadcast(tot))
      .withColumn("share", col(tokensCol).cast("double") / col("total"))
      .withColumn("p_raw", pow(col("share"), tau))
    val z = s.agg(sum("p_raw").as("z"),
      max(col("p_raw") / col("share")).as("max_boost"))
    s.crossJoin(broadcast(z))
      .select(col(groupCol), col(tokensCol),
        pround(col("share"), 6).as("share"),
        pround(col("p_raw") / col("z"), 6).as("p_tau"),
        pround((col("p_raw") / col("share")) / col("max_boost"), 6)
          .as("keep_rate"))
  }

  /** Quality-binned curriculum mixture: map-side bin assignment by
    * caller-supplied score edges, then the per-bin doc/token mass
    * table a quality-curriculum sampler reads ([[temperatureRates]]
    * runs on it with groupCol = "bin" to get per-bin keep rates —
    * downsample the junk bins, keep the top bins whole).
    *
    * Edges come from the percentile machinery at scale (the t-digest
    * sketch / doc_len_percentiles) — equal-mass bins WITHOUT the
    * global `ntile` sort that would single-partition the corpus; bin
    * assignment itself is a codegen'd CASE chain, zero shuffles beyond
    * the final tiny per-bin aggregate. Bin i covers
    * `[edges(i-1), edges(i))`; scores below `edges.head` land in bin
    * 0, at/above `edges.last` in bin `edges.size`.
    */
  def scoreBinnedMix(docs: DataFrame, score: Column, edges: Seq[Double],
                     tokens: Column): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted &&
      edges.distinct.size == edges.size,
      s"edges must be non-empty and strictly increasing: $edges")
    val bin = edges.zipWithIndex
      .foldRight(lit(edges.size).cast("int"): Column) {
        case ((e, i), acc) => when(score < e, lit(i).cast("int"))
          .otherwise(acc)
      }
    val per = docs.select(bin.as("bin"), tokens.as("__t"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
    val totals = per.agg(sum("n_tokens").cast("double").as("total_tokens"))
    per.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_docs"), col("n_tokens"),
        graft.functions.Rounding.pround(
          col("n_tokens").cast("double") / col("total_tokens"), 6)
          .as("token_share"))
  }

  /** Per-group token-distribution drift against the whole corpus:
    * KL(P_group ‖ P_corpus) in nats — the mixture-QA number that flags
    * a source/language whose unigram distribution has wandered from
    * the blend (pipeline drift, a bad crawl batch, template flooding).
    * Always ≥ 0; 0 means the group is distributionally identical.
    *
    * Exactness discipline is [[LanguageModel.crossEntropy]]'s: the
    * per-occurrence log term `ln((c_gw·N)/(N_g·c_w))` rounds at 1e-9
    * (`pround` absorbs sub-ulp engine differences in `ln`), is summed
    * as DECIMAL(38,12) — exact, order-independent — and only the final
    * per-group mean rounds at 1e-6. The ratio's cross-products stay
    * below 2⁵³ for corpora up to ~10⁹ tokens per count; beyond that
    * the number is still deterministic per engine, just not
    * bit-promised against a replica.
    *
    * Scale shape: token explode → three map-side-combinable count
    * aggregates (per (g,w), per w, per g) → the occurrence stream
    * re-joined on its word key (hot words hash-join fine; the
    * per-group and grand totals broadcast). One corpus scan plus one
    * word-keyed shuffle — the text_perplexity cost profile.
    */
  def klDrift(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.types.DecimalType
    // fanOut: the token explode runs at scan parallelism — one task on
    // a single-row-group corpus file (guide §2.5). MEDIUM floor: the
    // round-15 driver A/B measured the unconditional exchange as a
    // ×0.39 loss on mix_kl_drift at bench scale.
    val tok = Par.fanOut(docs, Par.MediumKernelBytes)
      .select(col(groupCol).as("g"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
    val cgw = tok.groupBy("g", "w").agg(count(lit(1)).as("cgw"))
    val cw = cgw.groupBy("w").agg(sum("cgw").as("cw"))
    val ng = cgw.groupBy("g").agg(sum("cgw").as("ng"))
    val n = cw.agg(sum("cw").as("n"))
    val arg = (col("cgw").cast("double") * col("n").cast("double")) /
      (col("ng").cast("double") * col("cw").cast("double"))
    tok.join(cgw, Seq("g", "w"))
      .join(cw, Seq("w"))
      .join(broadcast(ng), Seq("g"))
      .crossJoin(broadcast(n))
      .withColumn("l9", pround(log(arg), 9).cast(DecimalType(38, 12)))
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("l9")).as("s"))
      .select(col(groupCol), col("n_tokens"),
        pround(col("s").cast("double") / col("n_tokens"), 6).as("kl"))
  }

  /** Corpus mix planning: per-group document/token totals, each group's
    * share of the token budget, and the sampling weight that would flatten
    * the mix to uniform (weight > 1 = upsample, < 1 = downsample) — the
    * numbers a data-mixture config is written from. Two tiny aggregates
    * (per-group, then grand total broadcast back); one scan of the corpus.
    */
  def mixSummary(docs: DataFrame, groupCol: String, tokens: Column): DataFrame = {
    val per = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
    val totals = per.agg(sum("n_tokens").as("total_tokens"),
      count(lit(1)).as("n_groups"))
    per.crossJoin(broadcast(totals))
      .withColumn("token_share", graft.functions.Rounding.pround(
        col("n_tokens").cast("double") / col("total_tokens"), 6))
      .withColumn("uniform_weight", graft.functions.Rounding.pround(
        col("total_tokens").cast("double") / col("n_groups") / col("n_tokens"), 6))
      .select(groupCol, "n_docs", "n_tokens", "token_share", "uniform_weight")
  }

  /** K-Minimum-Values distinct-count QA: per group, the KMV estimate
    * beside the exact distinct count and their relative error — the
    * accuracy report that justifies deploying the O(k)-state sketch
    * ([[graft.functions.KmvDistinct]]) for a cardinality the exact
    * aggregate would shuffle the full distinct set to answer.
    *
    * This declarative twin keys the sketch on md5 (cross-engine-exact,
    * so the estimator arithmetic — k-th-minimum hash → hash-space
    * fraction → (k−1)/frac — is DuckDB-replicable bit-for-bit), unlike
    * the production aggregate's xxhash64. It deliberately PAYS the
    * exact path's distinct shuffle: the row's job is to report sketch
    * accuracy, which needs the exact count anyway, and one distinct
    * frame feeds both sides. Production cardinality estimation at
    * 100 TB uses `KmvDistinct` (k longs per partition, map-side
    * mergeable, no distinct shuffle); this operator is its
    * oracle-checked accuracy meter. Standard error is ~1/√k, so the
    * reported rel_err should sit within a few multiples of that.
    *
    * The k-th minimum is found with row_number ≤ k over the hash order:
    * Spark's WindowGroupLimit prefilters each map partition to its own
    * top-k before the exchange, so the window moves ≤ k rows per task —
    * the distinct() above it dominates, as documented.
    *
    * Numeric contract: frac = first 13 md5 hex chars as an integer
    * (< 2^52, double-exact) / 16^13; estimate = floor((k−1)/frac + 0.5)
    * when k minima were seen (count itself when fewer — the sketch is
    * exact below saturation), frac = 0 guarded to the seen count
    * identically in both engines.
    */
  def kmvEstimate(df: DataFrame, groupCol: String, value: Column,
                  k: Int): DataFrame = {
    require(k >= 16, s"k >= 16 required for a usable estimate, got $k")
    import org.apache.spark.sql.expressions.Window
    // NULL values don't count as a distinct value (count(DISTINCT)
    // semantics; a NULL md5 would occupy a top-k slot and skew `kth`)
    val dv = df.select(col(groupCol).as("g"), value.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct().persist()
    val exact = dv.groupBy("g").agg(count(lit(1)).as("n_exact"))
    val w = Window.partitionBy("g").orderBy("h")
    val kth = dv.select(col("g"), md5(col("v")).as("h"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .groupBy("g").agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth"))
    val frac = conv(substring(col("kth"), 1, 13), 16, 10).cast("double") /
      lit(4503599627370496.0) // 16^13 = 2^52
    val est = when(col("n_seen") < k || frac <= 0.0, col("n_seen"))
      .otherwise(floor(lit((k - 1).toDouble) / frac + lit(0.5)).cast("long"))
    val out = exact.join(kth, Seq("g"))
      .withColumn("kmv_est", est)
      .select(col("g").as(groupCol), col("n_exact"), col("kmv_est"),
        graft.functions.Rounding.pround(
          abs(col("kmv_est") - col("n_exact")).cast("double") /
            col("n_exact"), 6).as("rel_err"))
    val detached = out.checkpoint()
    dv.unpersist(blocking = false)
    detached
  }

  /** Dunning log-likelihood keyness (G², "Accurate Methods for the
    * Statistics of Surprise and Coincidence", CL 1993): per group, the
    * top-k ENRICHED terms by G² = 2·Σ O·ln(O/E) over the term×group
    * 2×2 contingency table — the corpus-linguistics keyword measure.
    * Where c-TF-IDF ranks by damped frequency, G² is a significance
    * test: a term must beat its expected count by more than chance at
    * the observed volumes, so rare-but-exclusive junk doesn't float to
    * the top the way raw ratios let it.
    *
    * Exact integer cell counts (a = in-group, b = elsewhere,
    * c = group's other tokens, d = rest); enrichment decided by the
    * EXACT integer cross-product a·N > cw·ng (no float at the gate);
    * each ln is prounded at 1e-9 then multiplied by its integral O and
    * summed in fixed order — engine-identical. Plan shape is the
    * klDrift family: one combinable (group, term) count, vocab-sized
    * marginals, broadcast group totals, a per-group top-k rank window
    * over the scored vocab frame.
    */
  def keyness(docs: DataFrame, groupCol: String, term: Column, topK: Int)
  : DataFrame = {
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK >= 1 required: $topK")
    val tok = docs.select(col(groupCol).as("g"), term.as("w"))
    val cgw = tok.groupBy("g", "w").agg(count(lit(1)).as("a"))
    val cw = cgw.groupBy("w").agg(sum("a").as("cw"))
    val ng = cgw.groupBy("g").agg(sum("a").as("ng"))
    val n = cw.agg(sum("cw").as("n"))
    val scored = cgw.join(cw, Seq("w"))
      .join(broadcast(ng), Seq("g"))
      .crossJoin(broadcast(n))
    val b = col("cw") - col("a")
    val c = col("ng") - col("a")
    val d = col("n") - col("cw") - col("ng") + col("a")
    def nd(x: Column) = x.cast("double")
    def t(o: Column, rowTot: Column, colTot: Column) = {
      val e = nd(rowTot) * nd(colTot) / nd(col("n"))
      when(o > 0, nd(o) * pround(log(nd(o) / e), 9)).otherwise(lit(0.0))
    }
    val g2 = lit(2.0) * (
      t(col("a"), col("ng"), col("cw")) +
        t(b, col("n") - col("ng"), col("cw")) +
        t(c, col("ng"), col("n") - col("cw")) +
        t(d, col("n") - col("ng"), col("n") - col("cw")))
    val w = Window.partitionBy("g").orderBy(col("g2").desc, col("w"))
    scored
      // enriched only — EXACT integer cross-product, operands pre-cast
      // to DECIMAL (a·N reaches count², past int64 at corpus scale)
      .filter(col("a").cast("decimal(19,0)") * col("n").cast("decimal(19,0)") >
        col("cw").cast("decimal(19,0)") * col("ng").cast("decimal(19,0)"))
      .withColumn("g2", pround(g2, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("g").as(groupCol), col("w").as("term"),
        col("a").as("n_in_group"), col("cw").as("n_corpus"),
        col("g2"), col("rank"))
  }

  /** Theta-style KMV set INTERSECTION estimate between every group
    * pair (the Datasketches theta-sketch rule): with bottom-k hash
    * sketches A and B, θ = min(θ_A, θ_B) and
    * |A ∩ B| ≈ |{h ∈ A ∩ B : h < θ}| / θ — the cross-shard overlap
    * number (shared vocabulary between sources, contamination between
    * corpus generations) WITHOUT the exact value self-join. When both
    * sketches are unsaturated the estimate IS exact (θ = 1, the
    * sketches are complete). `n_exact` rides along as the diagnostic
    * twin (same convention as [[kmvEstimate]]) — it costs a
    * corpus-sized self-join, so a 100 TB run drops that column and
    * keeps the k²-bounded sketch path, which is the point.
    *
    * Shape: one distinct + one bottom-k window per group (shared with
    * kmvEstimate's plan), then a HASH-keyed join of k-row sketches —
    * |groups|·k rows a side — with broadcast θ frames. Deterministic:
    * md5 hashing, 13-hex-digit fractions, half-up rounding.
    */
  def kmvIntersect(df: DataFrame, groupCol: String, value: Column, k: Int)
  : DataFrame = {
    require(k >= 16, s"k >= 16 required for a usable estimate, got $k")
    import org.apache.spark.sql.expressions.Window
    val dv = df.select(col(groupCol).as("g"), value.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct().persist()
    val w = Window.partitionBy("g").orderBy("h")
    val bk = dv.select(col("g"), md5(col("v")).as("h"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k).drop("r")
      .persist()
    def frac(c: Column): Column =
      conv(substring(c, 1, 13), 16, 10).cast("double") /
        lit(4503599627370496.0) // 16^13 = 2^52
    val thetas = bk.groupBy("g")
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth"))
      .withColumn("theta",
        when(col("n_seen") < k, lit(1.0)).otherwise(frac(col("kth"))))
      .select("g", "theta")
    val shared = bk.select(col("g").as("g1"), col("h"))
      .join(bk.select(col("g").as("g2"), col("h")), Seq("h"))
      .filter(col("g1") < col("g2"))
      .join(broadcast(thetas.select(col("g").as("g1"),
        col("theta").as("t1"))), Seq("g1"))
      .join(broadcast(thetas.select(col("g").as("g2"),
        col("theta").as("t2"))), Seq("g2"))
      .withColumn("theta", least(col("t1"), col("t2")))
      .filter(frac(col("h")) < col("theta"))
      .groupBy("g1", "g2")
      .agg(count(lit(1)).as("n_below"), first(col("theta")).as("theta"))
    val exact = dv.select(col("g").as("g1"), col("v"))
      .join(dv.select(col("g").as("g2"), col("v")), Seq("v"))
      .filter(col("g1") < col("g2"))
      .groupBy("g1", "g2").agg(count(lit(1)).as("n_exact"))
    val out = shared.join(exact, Seq("g1", "g2"))
      .withColumn("inter_est",
        when(col("theta") >= 1.0, col("n_below"))
          .otherwise(floor(col("n_below").cast("double") / col("theta") +
            lit(0.5)).cast("long")))
      .select(col("g1"), col("g2"), col("n_exact"), col("inter_est"),
        graft.functions.Rounding.pround(
          abs(col("inter_est") - col("n_exact")).cast("double") /
            col("n_exact"), 6).as("rel_err"))
    val detached = out.checkpoint()
    bk.unpersist(blocking = false)
    dv.unpersist(blocking = false)
    detached
  }

  /** Robust per-group outlier detection (median/MAD modified z-score,
    * Iglewicz–Hoaglin): rz = 0.6745·(x − median)/MAD, flagged beyond
    * `cutoff` (3.5 is the classic default). Mean/stddev z-scores are
    * poisoned by the outliers they hunt; the median/MAD pair has a 50%
    * breakdown point, which is what an ingest gate needs when a corrupt
    * feed is MOSTLY bad values.
    *
    * Shape: two grouped exact-percentile aggregates (median, then MAD
    * over |x − median|) joined back per group — the group-stat frames
    * are |groups| rows and broadcast. Exact `percentile` buffers each
    * group's values in the aggregation state, which is the oracle
    * semantics; at 100 TB substitute the O(δ) mergeable t-digest
    * ([[graft.functions.TDigestQuantiles]]) for both medians — the same
    * exact-twin convention as heavy hitters (Misra–Gries) and distinct
    * counts (KMV).
    *
    * A constant group (MAD = 0: >50% of values identical) defines every
    * row as non-outlying with rz = 0 — the gate should flag a stuck
    * sensor via [[profile]]'s n_distinct, not score it here.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  cutoff: Double = 3.5): DataFrame = {
    import graft.functions.Rounding.pround
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val withMed = df.join(broadcast(med), groupCol)
    val mad = withMed.groupBy(col(groupCol))
      .agg(expr(s"percentile(abs($valueCol - med), 0.5)").as("mad"))
    val rz = when(col("mad") === 0.0, lit(0.0))
      .otherwise(lit(0.6745) * (col(valueCol) - col("med")) / col("mad"))
    withMed.join(broadcast(mad), groupCol)
      .withColumn("rz", pround(rz, 9))
      .withColumn("is_outlier", abs(col("rz")) > cutoff)
  }

  /** Multi-epoch token-budget allocation (the data-mixing config step):
    * given per-group token totals, a temperature-τ target mix
    * (p_g ∝ share_g^τ — [[temperatureRates]]' rule) and a total token
    * budget, allocate each group min(p_g·budget, maxEpochs·tokens_g) —
    * a small source contributes at most `maxEpochs` passes over itself
    * (the repetition bound scaling work prescribes) and the shortfall
    * is reported per group rather than silently redistributed, so the
    * config author sees exactly which sources cap.
    *
    * Pure closed-form arithmetic over the |groups|-row mix frame (one
    * one-row total broadcast): the corpus itself is never touched, so
    * the plan cost is independent of corpus size.
    */
  def epochPlan(mix: DataFrame, groupCol: String, tokensCol: String,
                tau: Double, budgetTokens: Long,
                maxEpochs: Double): DataFrame = {
    import graft.functions.Rounding.pround
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    import org.apache.spark.sql.types.DecimalType
    // The mix frame is referenced four times below (rows, total, z,
    // output); pin it so a caller passing an unpersisted corpus-derived
    // aggregate pays ONE corpus scan, not four (PlanAuditSpec pin: the
    // result plan never touches the corpus again).
    val nonEmpty = mix.filter(col(tokensCol) > 0).persist()
    val tot = nonEmpty.agg(sum(col(tokensCol)).cast("double").as("total"))
    // p_raw quantizes to 12 decimals BEFORE normalizing so the
    // normalizer z is an exact decimal sum — accumulation-order-
    // independent, hence identical across partitionings and engines
    // (the klDrift convention; a raw double sum would let the last ulp
    // of z flip a floor() boundary in desired_tokens).
    val praw = pround(pow(col(tokensCol).cast("double") / col("total"), tau), 12)
      .cast(DecimalType(38, 12))
    val withP = nonEmpty.crossJoin(broadcast(tot))
      .withColumn("p_raw", praw)
    val z = withP.agg(sum("p_raw").as("z"))
    val out = withP.crossJoin(broadcast(z))
      .withColumn("p", col("p_raw").cast("double") / col("z").cast("double"))
      .withColumn("desired_tokens",
        floor(col("p") * budgetTokens + lit(0.5)).cast("long"))
      .withColumn("cap_tokens",
        floor(col(tokensCol).cast("double") * maxEpochs + lit(0.5)).cast("long"))
      .withColumn("alloc_tokens", least(col("desired_tokens"), col("cap_tokens")))
      .withColumn("epochs",
        pround(col("alloc_tokens").cast("double") / col(tokensCol), 6))
      .withColumn("shortfall_tokens",
        col("desired_tokens") - col("alloc_tokens"))
      .select(col(groupCol), col(tokensCol).as("n_tokens"),
        pround(col("p"), 6).as("p"), col("desired_tokens"),
        col("alloc_tokens"), col("epochs"), col("shortfall_tokens"))
    val detached = out.checkpoint()
    nonEmpty.unpersist(blocking = false)
    detached
  }

  /** Population Stability Index per period: the numeric-feature drift
    * meter (PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b), each period's binned
    * value distribution against the whole table's). The monitoring
    * heuristics: < 0.1 stable, 0.1–0.25 shifting, > 0.25 broken feed.
    * The numeric twin of [[klDrift]] (tokens) and
    * [[centroidDrift]] (embeddings).
    *
    * Bins are a fixed-edge map-side CASE (the [[scoreBinnedMix]]
    * discipline — no global sort); zero-count cells exist via a
    * |periods|·bins scaffold and floor at `eps` (the standard PSI
    * convention, keeping every term finite). Per-term products round
    * at 1e-12 and sum as exact DECIMAL(38,12) (the klDrift
    * discipline), so the index is accumulation-order-independent.
    *
    * Scale shape: one scan → a (period, bin)-keyed map-side-combinable
    * count; everything after is arithmetic over |periods|·bins rows
    * with the baseline and grand total broadcast.
    */
  def psi(df: DataFrame, period: Column, valueCol: String,
          edges: Seq[Double], eps: Double = 1e-6): DataFrame = {
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.types.DecimalType
    require(edges.nonEmpty && edges == edges.sorted &&
      edges.distinct.size == edges.size,
      s"edges must be non-empty and strictly increasing: $edges")
    require(eps > 0, s"eps must be positive: $eps")
    val nBins = edges.size
    val bin = edges.zipWithIndex
      .foldRight(lit(nBins).cast("int"): Column) {
        case ((e, i), acc) => when(col(valueCol) < e, lit(i).cast("int"))
          .otherwise(acc)
      }
    val perPB = df.select(period.as("__p"), bin.as("bin"))
      .groupBy("__p", "bin").agg(count(lit(1)).as("c"))
    val perP = perPB.groupBy("__p").agg(sum("c").as("np"))
    val base = perPB.groupBy("bin").agg(sum("c").as("cb"))
    val tot = base.agg(sum("cb").as("n"))
    val cells = perP.withColumn("bin", explode(sequence(lit(0), lit(nBins))))
    cells
      .join(perPB, Seq("__p", "bin"), "left")
      .join(broadcast(base), Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("pr", greatest(
        coalesce(col("c"), lit(0L)).cast("double") / col("np"), lit(eps)))
      .withColumn("qr", greatest(
        coalesce(col("cb"), lit(0L)).cast("double") / col("n"), lit(eps)))
      .withColumn("t12",
        pround((col("pr") - col("qr")) * log(col("pr") / col("qr")), 12)
          .cast(DecimalType(38, 12)))
      .groupBy(col("__p").as("period"))
      .agg(max(col("np")).as("n_rows"), // np is constant per period
        pround(sum(col("t12")).cast("double"), 6).as("psi"))
  }

  /** Per-group embedding centroid drift: cosine of each group's mean
    * vector against the corpus mean — the embedding-space twin of
    * [[klDrift]]. A source/label whose centroid swings away from the
    * blend flags a distribution shift (new topic, encoder change,
    * poisoned shard) that token-level KL can miss entirely.
    *
    * Exactness: elements quantize to integer 2^-10 units up front
    * (float → double is exact, one multiply + floor is deterministic),
    * so every downstream sum is BIGINT/DECIMAL — accumulation-order-
    * independent, hence identical across partitionings and engines.
    * Cosine is scale-invariant, so the mean never needs dividing: the
    * per-group quantized SUM vector stands in for the centroid.
    *
    * Shape: one posexplode pass → a (group, dim)-keyed exact-sum
    * aggregate (map-side combinable, |groups|·d rows) → the corpus row
    * derives from the per-group frame, never a second corpus scan.
    * Decimal headroom: |sum| ≤ rows·2^10·max|v|, so the DECIMAL(38)
    * dot products hold to ~10^13 vectors per group at unit scale.
    */
  def centroidDrift(df: DataFrame, groupCol: String, vecCol: String)
      : DataFrame = {
    val (out, perGroup) = centroidDriftLazy(df, groupCol, vecCol)
    val detached = out.checkpoint()
    perGroup.unpersist(blocking = false)
    detached
  }

  /** The un-detached [[centroidDrift]] computation — exposed so
    * PlanAuditSpec can pin the internal plan shape (one corpus scan
    * into the (g, p) sums, broadcast dim-keyed join), which the
    * checkpoint-detached public result hides behind a Scan ExistingRDD.
    * Returns (result, pinned per-group frame to unpersist after use).
    */
  private[graft] def centroidDriftLazy(df: DataFrame, groupCol: String,
                                       vecCol: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.Rounding.pround
    val q = df.select(col(groupCol).as("g"),
      posexplode(col(vecCol)).as(Seq("p", "v")))
      .withColumn("qv",
        floor(col("v").cast("double") * lit(1024.0) + lit(0.5)).cast("long"))
    val perGroup = q.groupBy("g", "p")
      .agg(sum("qv").as("sg")).persist()
    val corpus = perGroup.groupBy("p").agg(sum("sg").as("sp"))
    val n = df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
    val dec = (c: Column) => c.cast("decimal(18,0)")
    val dots = perGroup.join(broadcast(corpus), "p")
      .groupBy("g")
      .agg(sum(dec(col("sg")) * dec(col("sp"))).as("dot"),
        sum(dec(col("sg")) * dec(col("sg"))).as("na"),
        sum(dec(col("sp")) * dec(col("sp"))).as("nb"))
    val cosine = when(col("na") === 0 || col("nb") === 0, lit(0.0))
      .otherwise(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val out = n.join(dots, "g")
      .select(col("g").as(groupCol), col("n"),
        pround(cosine, 9).as("cos_to_corpus"))
    (out, perGroup)
  }

  /** Pairwise distinct-overlap estimation from HLL sketches — the
    * sketch ALGEBRA a corpus operator actually uses: "how much does
    * source A's vocabulary overlap source B's" WITHOUT a quadratic
    * scan, via inclusion–exclusion over mergeable states:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where est(A∪B) comes from
    * the register-wise MAX of the two sketches — no second pass over
    * the data. Returns one row per unordered group pair
    * `(g1, g2, est_a, est_b, est_union, overlap_est)` with the
    * estimate clamped at 0 (inclusion–exclusion can go slightly
    * negative for near-disjoint sets).
    *
    * The exact twin is the `dedup_source_overlap` matrix (a term-key
    * equi-join); the QA row joins both so the sketch error is itself
    * oracle-checked, the KMV/SQ8/PQ accuracy-row convention.
    *
    * Shape: ONE scan builds per-group register arrays (groupBy(g,
    * bucket) MAX — map-side combinable, ≤m rows per group shuffled);
    * the pair frame is |groups|² over a broadcast of |groups| rows of
    * 256 ints. Guarded: beyond `maxGroups` the pair matrix is the
    * quadratic thing this operator exists to avoid — fail loudly.
    */
  def hllOverlapMatrix(df: DataFrame, groupCol: String, value: Column,
                       maxGroups: Int = 1000): DataFrame = {
    import graft.functions.Hll
    // NULL values don't count as a distinct value (count(DISTINCT)
    // semantics; md5(NULL) would otherwise poison the register build)
    val dv = df.select(col(groupCol).as("g"), value.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct()
    val h = md5(col("v"))
    val regs = dv
      .select(col("g"), Hll.bucket(h).as("__b"), Hll.rho(h).as("__rho"))
      .groupBy("g", "__b").agg(max("__rho").as("__m"))
      .groupBy("g")
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__m"))))
        .as("__regs"))
      .withColumn("hll",
        transform(sequence(lit(0), lit(Hll.M - 1)),
          i => coalesce(element_at(col("__regs"), i), lit(0))))
      .select("g", "hll")
    val pinned = regs.checkpoint()
    val nGroups = pinned.count()
    if (nGroups > maxGroups)
      throw new IllegalStateException(
        s"hllOverlapMatrix over $nGroups groups builds a ${nGroups}² " +
          s"pair matrix (maxGroups = $maxGroups). Bucket the groups or " +
          "raise the bound deliberately.")
    def estOf(hllCol: String): Column = {
      val sInt = expr(s"aggregate($hllCol, CAST(0 AS BIGINT), " +
        "(acc, m) -> acc + CAST(power(2, 53 - m) AS BIGINT))")
      val vEmpty = expr(s"size(filter($hllCol, m -> m = 0))")
      Hll.estimate(sInt, vEmpty)
    }
    val a = pinned.select(col("g").as("g1"), col("hll").as("__ha"))
    val b = pinned.select(col("g").as("g2"), col("hll").as("__hb"))
    a.join(broadcast(b), col("g1") < col("g2"))
      .withColumn("__hu", zip_with(col("__ha"), col("__hb"),
        (x, y) => greatest(x, y)))
      .select(col("g1"), col("g2"),
        estOf("__ha").as("est_a"), estOf("__hb").as("est_b"),
        estOf("__hu").as("est_union"))
      .withColumn("overlap_est",
        greatest(lit(0.0),
          graft.functions.Rounding.pround(
            col("est_a") + col("est_b") - col("est_union"), 6)))
  }

  /** Exact weighted quantiles per group — ClickHouse
    * `quantileExactWeighted`: the smallest value whose cumulative
    * weight reaches q·W (lower weighted quantile). The corpus use is
    * token-weighted length stats: "what document length holds half the
    * TOKENS" weights big documents by their cost, where the unweighted
    * median answers a question about document counts.
    *
    * Deterministic without a tie-break column: permuting equal values
    * permutes cumulative weights only WITHIN a tied run, and the
    * selected `min(value | cumw ≥ q·W)` depends only on the run's last
    * row — so any engine, any partitioning, same answer. That argument
    * needs the running sum itself to be reorder-exact, so weights are
    * required INTEGRAL (they are counts — tokens, bytes, rows): the
    * cumulative LONG is exact, and the one float op (q·W) is a single
    * multiply of identical operands in every engine.
    *
    * Shape: one per-group sort window (running weight) + a
    * whole-partition total + one grouped min per q — cost ∝ n log n
    * per group, exact. The mergeable at-scale twin is the t-digest
    * ([[graft.functions.TDigestQuantiles]]), same exact-vs-sketch
    * convention as KMV/HLL distinct.
    */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1]: $qs")
    require(Seq("byte", "short", "integer", "long")
      .contains(df.schema(weightCol).dataType.typeName),
      s"weight column $weightCol must be integral (a count) — " +
        "float weights make the running sum reorder-sensitive")
    import org.apache.spark.sql.expressions.Window
    val sorted = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col(groupCol))
    val staged = df
      .filter(col(weightCol) > 0)
      .withColumn("__cumw", sum(col(weightCol).cast("long")).over(sorted))
      .withColumn("__totw", sum(col(weightCol).cast("long")).over(whole))
    // Column name per quantile: pNN for whole percentages (p50, p95 —
    // the stable common case), full decimal with '.'→'_' otherwise
    // (0.254 → p25_4) so e.g. Seq(0.25, 0.254) can't silently produce
    // two identically-named columns that break select-by-name.
    def nameOf(q: Double): String = {
      val pct = BigDecimal(q.toString) * 100
      if (pct.isWhole) s"p${pct.toBigInt}"
      else "p" + pct.underlying.stripTrailingZeros.toPlainString.replace(".", "_")
    }
    val names = qs.map(nameOf)
    require(names.distinct.size == names.size,
      s"quantile list $qs maps to duplicate column names $names")
    val aggs = qs.zip(names).map { case (q, n) =>
      min(when(col("__cumw").cast("double") >=
          lit(q) * col("__totw").cast("double"), col(valueCol)))
        .as(n)
    }
    staged.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** HyperLogLog distinct estimate (ClickHouse `uniqHLL12`'s shape, at
    * m = 256 registers) with the exact count beside it — the same
    * QA-row convention as [[kmvEstimate]], giving the engine a second
    * mergeable distinct sketch with different scaling: KMV state is k
    * hashes per group, HLL state is m 6-bit registers merging by MAX
    * (the AggregatingMergeTree-friendly shape; union = register-wise
    * max, no re-scan).
    *
    * Register stream is md5-derived so the DuckDB oracle reconstructs
    * it exactly: bucket = first 2 hex chars (8 bits); the next 13 hex
    * chars form a 52-bit word `w`, and ρ = (leading zeros of w in a
    * 52-bit field) + 1 ∈ [1, 53], computed as `53 − length(bin(w))` —
    * a string-length scan, identical in both engines, with none of
    * float `log2`'s power-of-two boundary risk.
    *
    * The harmonic sum Σ 2^−M_j is kept EXACT by integer scaling:
    * Σ 2^(53−M_j) ≤ m·2^53 < 2^63 sums associatively in BIGINT, so
    * the distributed sum is partial-aggregate-order-independent and
    * matches DuckDB bit for bit; the one double division α·m²·2^53 / S
    * is a single IEEE op on identical operands. Small-range correction
    * (raw ≤ 2.5m with empty registers) is linear counting m·ln(m/V);
    * estimates pround@6.
    *
    * Shape: distinct → groupBy(g, bucket) MAX(ρ) (map-side combinable,
    * ≤ m rows per group cross the shuffle) → |groups|-row finish.
    *
    * `uniqCombined` upgrade: groups at or below `sparseThreshold`
    * distinct values report the EXACT count (`hll_mode = 'sparse'` —
    * ClickHouse keeps an exact hash set below its threshold and only
    * converts to registers above it); the register estimator serves
    * the rest (`'dense'`). The QA row computes the exact count anyway,
    * so the switch costs nothing here; the stored-state twin with the
    * bounded sparse list is [[graft.pipeline.Rollup.aggregateState]].
    */
  def hllEstimate(df: DataFrame, groupCol: String, value: Column,
                  sparseThreshold: Int = graft.functions.Hll.M)
      : DataFrame = {
    import graft.functions.Rounding.pround
    import graft.functions.Hll
    val m = Hll.M
    // NULL values don't count as a distinct value (count(DISTINCT)
    // semantics — and md5(NULL) registers would corrupt both the exact
    // count and the sketch)
    val dv = df.select(col(groupCol).as("g"), value.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct().persist()
    val exact = dv.groupBy("g").agg(count(lit(1)).as("n_exact"))
    val h = md5(col("v"))
    val regs = dv
      .select(col("g"), Hll.bucket(h).as("bucket"), Hll.rho(h).as("rho"))
      .groupBy("g", "bucket").agg(max("rho").as("m_j"))
    val grouped = regs.groupBy("g").agg(
        sum(expr("CAST(power(2, 53 - m_j) AS BIGINT)")).as("s_occ"),
        count(lit(1)).as("occ"))
      .withColumn("s_int",
        col("s_occ") + (lit(m.toLong) - col("occ")) * lit(Hll.Pow53.toLong))
      .withColumn("v_empty", lit(m.toLong) - col("occ"))
    val out = exact.join(grouped, Seq("g"))
      .withColumn("hll_est",
        when(col("n_exact") <= sparseThreshold,
          col("n_exact").cast("double"))
          .otherwise(Hll.estimate(col("s_int"), col("v_empty"))))
      .withColumn("hll_mode",
        when(col("n_exact") <= sparseThreshold, lit("sparse"))
          .otherwise(lit("dense")))
      .select(col("g").as(groupCol), col("n_exact"), col("hll_est"),
        pround(abs(col("hll_est") - col("n_exact")) /
          col("n_exact").cast("double"), 6).as("rel_err"),
        col("hll_mode"))
    val detached = out.checkpoint()
    dv.unpersist(blocking = false)
    detached
  }

  /** Zipf rank–frequency fit per group: least-squares slope of
    * ln(freq) over ln(rank) across the group's term distribution, plus
    * the Pearson correlation of the fit. Natural text sits near slope
    * −1 with |corr| ≈ 1 (Zipf's law); templated/boilerplate corpora
    * flatten the head (slope → 0), id-like token streams flatten
    * everything (corr → 0) — a one-number corpus-shape QA beside
    * [[klDrift]]'s cross-source drift and the OOV/fertility meters.
    *
    * Cross-engine exactness: ln(rank) and ln(freq) are quantized to
    * integer 10⁻⁹ units (the log2-at-9 discipline), all five sums run
    * as exact 128-bit integers (DECIMAL(38,0) here, HUGEINT in the
    * DuckDB replica — x·y ≈ 1.6·10¹⁹ overflows int64, which is why
    * the operands cast BEFORE multiplying), and only the final
    * slope/corr divisions (and one IEEE sqrt) run in double, pround(6).
    * Degenerate groups (one distinct term ⇒ zero x-variance) report
    * NULL fit, the linearFit convention.
    *
    * Scale shape: one map-side-combinable term count, one per-group
    * rank window (the frequency table is |vocab| rows, not corpus
    * rows), one combinable five-sum aggregate. Nothing corpus-sized
    * is sorted.
    */
  def zipfFit(docs: DataFrame, groupCol: String, term: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.Rounding.pround
    val d38 = DecimalType(38, 0)
    val t = docs.groupBy(col(groupCol).as("__k"), term.as("__t"))
      .agg(count(lit(1)).as("__f"))
    val w = Window.partitionBy("__k").orderBy(col("__f").desc, col("__t"))
    val xy = t.withColumn("__r", row_number().over(w))
      .select(col("__k"),
        floor(log(col("__r").cast("double")) * 1e9 + 0.5).cast("long")
          .cast(d38).as("__x"),
        floor(log(col("__f").cast("double")) * 1e9 + 0.5).cast("long")
          .cast(d38).as("__y"))
    val s = xy.groupBy("__k").agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    val dx = col("__n").cast(d38) * col("__sxx") - col("__sx") * col("__sx")
    val dy = col("__n").cast(d38) * col("__syy") - col("__sy") * col("__sy")
    val num = col("__n").cast(d38) * col("__sxy") - col("__sx") * col("__sy")
    s.select(col("__k").as(groupCol),
      col("__n").as("n_terms"),
      when(dx =!= 0,
        pround(num.cast("double") / dx.cast("double"), 6)).as("zipf_slope"),
      when(dx =!= 0 && dy =!= 0,
        pround(num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 6)).as("fit_corr"))
      .orderBy(groupCol)
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF shape, Grootendorst
    * 2022): the top-k terms that CHARACTERIZE each class (source,
    * cluster, language …) rather than merely occur in it —
    *
    *   score(t, c) = (n_{t,c} / N_c) · ln(1 + A / n_t)
    *
    * with n_{t,c} the term's count in the class, N_c the class's token
    * total (so common-in-class wins), n_t the corpus-wide count and A
    * the mean class size (so corpus-common terms are damped; ln(1+·)
    * keeps the damp positive even for terms above mean-class
    * frequency). The corpus-QA companion to [[zipfFit]] and
    * `mix_kl_drift`: "what is each source actually made of" as a
    * query.
    *
    * Scale shape: three map-side-combinable groupBys off the same
    * exploded token stream (class×term, class, term) — everything
    * after the first aggregation is vocabulary-sized, not
    * corpus-sized; the scalar A rides a one-row broadcast, the
    * ranking window partitions by class over per-class vocab only.
    * Float discipline: the one transcendental (ln) is absorbed at the
    * repo-standard 9-digit rounding BEFORE ranking, so an ulp of
    * math-library skew cannot flip an ORDER BY across engines; ties
    * break lexicographically.
    */
  def classTfIdf(tokens: DataFrame, classCol: String, term: Column,
                 k: Int): DataFrame = {
    require(k >= 1, s"k >= 1 required: $k")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.pround
    val tc = tokens.groupBy(col(classCol).as("__c"), term.as("__t"))
      .agg(count(lit(1)).as("__ntc"))
    val cTot = tc.groupBy("__c").agg(sum(col("__ntc")).as("__nc"))
    val tTot = tc.groupBy("__t").agg(sum(col("__ntc")).as("__nt"))
    val stats = cTot.agg((sum(col("__nc")).cast("double") /
      count(lit(1)).cast("double")).as("__a"))
    val raw = (col("__ntc").cast("double") / col("__nc").cast("double")) *
      log(lit(1.0) + col("__a") / col("__nt").cast("double"))
    val w = Window.partitionBy("__c").orderBy(col("__s9").desc, col("__t"))
    tc.join(cTot, Seq("__c"))
      .join(tTot, Seq("__t"))
      .crossJoin(broadcast(stats))
      .withColumn("__s9", pround(raw, 9))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__c").as(classCol), col("__t").as("term"),
        col("__ntc").as("n_term"), pround(col("__s9"), 6).as("score"),
        col("rank"))
      .orderBy(col(classCol), col("rank"))
  }

  /** Differentially-private count release (ε-DP, Laplace mechanism):
    * per-group counts with Laplace(sensitivity/ε) noise — the release
    * shape a data-card / usage-report pipeline publishes when the raw
    * per-group counts are themselves sensitive (the aggregate
    * complement of [[kAnonymity]]'s row-level gate). Noise is SEEDED
    * per group from md5(groupKey, seed) — deterministic for the gate
    * and for reproducible releases (fix the seed per release, rotate
    * it between releases; a re-run with the same seed must not spend
    * privacy budget twice). `n_true` rides along for in-pipeline
    * auditing — an actual release drops it.
    *
    * Mechanism: h = first 8 md5 hex digits → u = (h + ½)/2³² − ½ ∈
    * (−½, ½) \ {0} (all exact doubles), noise = −b·sgn(u)·ln(1−2|u|)
    * with the one transcendental (ln) prounded at 1e-9 before the
    * exact-ordered multiply — the cross-engine discipline every log
    * in the repo follows. One combinable groupBy; the noise column is
    * pure projection.
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                    sensitivity: Double = 1.0, seed: Int = 42)
  : DataFrame = {
    import graft.functions.Rounding.pround
    require(groupCols.nonEmpty, "dpNoisyCounts needs group columns")
    require(epsilon > 0.0, s"epsilon must be positive: $epsilon")
    require(sensitivity > 0.0, s"sensitivity must be positive: $sensitivity")
    val b = sensitivity / epsilon
    val g = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
    // NULL is a group value: sentinel-coalesce each part so the key
    // string is total (concat_ws would silently DROP null parts,
    // colliding (NULL,'x') with ('x',NULL))
    val keyStr = concat_ws("",
      groupCols.map(c => coalesce(col(c).cast("string"),
        lit("NULL"))): _*)
    val h = conv(substring(md5(concat(keyStr, lit(s":dp$seed"))), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0) - lit(0.5)
    val lnT = pround(log(lit(1.0) - lit(2.0) * abs(u)), 9)
    val noise = lit(-b) * signum(u) * lnT
    g.withColumn("noisy_count",
        col("n_true").cast("double") + noise)
      .withColumn("epsilon", lit(epsilon))
  }

  /** Benford first-digit QA: per key, the observed leading-digit
    * distribution of a positive integral column against Benford's law
    * (e_d = log10(1 + 1/d)) with per-digit χ² terms — the
    * synthetic/fabricated-numbers detector (organically-grown
    * magnitudes follow Benford; templated or uniformly-generated ones
    * don't). All 9 digits are emitted per key (absent digits as 0 —
    * a missing digit IS evidence). The leading digit comes from the
    * integer's decimal string (exact in both engines — no per-row
    * log10); the expected shares are Scala-computed constants folded
    * in as literals. One combinable groupBy + a 9-row broadcast.
    */
  def benford(df: DataFrame, keyCol: String, value: Column): DataFrame = {
    import graft.functions.Rounding.pround
    val counts = df.select(col(keyCol).as("__k"), value.as("__v"))
      .filter(col("__v").isNotNull && col("__v") > 0)
      .withColumn("digit",
        substring(col("__v").cast("long").cast("string"), 1, 1).cast("int"))
      .groupBy("__k", "digit").agg(count(lit(1)).as("n_digit"))
    val totals = counts.groupBy("__k").agg(sum("n_digit").as("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val expected = (1 to 9)
      .map(d => (d, math.log10(1.0 + 1.0 / d))).toDF("digit", "expected")
    val full = totals.crossJoin(broadcast(expected))
      .join(counts, Seq("__k", "digit"), "left")
      .withColumn("n_digit", coalesce(col("n_digit"), lit(0L)))
    val obs = col("n_digit").cast("double") / col("__n").cast("double")
    val dev = obs - col("expected")
    full.select(col("__k").as(keyCol), col("digit"), col("n_digit"),
      pround(obs, 9).as("obs_share"),
      pround(col("expected"), 9).as("benford_share"),
      pround(col("__n").cast("double") * dev * dev / col("expected"), 9)
        .as("chi2_term"))
  }

  /** Pairwise Jensen–Shannon divergence between per-group term
    * distributions (base 2, so JSD ∈ [0, 1]) — the symmetric
    * source-similarity matrix beside [[klDrift]]'s per-source-vs-
    * corpus number: which sources are near-duplicates of each other
    * in unigram space (merge candidates), which are genuinely
    * distinct (coverage).
    *
    * Only SHARED terms need the log: a term present in one side only
    * contributes exactly its probability mass (log₂(2p/(p+0)) = 1),
    * so JSD = ½((1−Pₛ) + (1−Qₛ)) + ½·Σ_shared [p·log₂(2p/(p+q)) +
    * q·log₂(2q/(p+q))] — one vocab-keyed self-join (g₁ < g₂), then a
    * combinable per-pair aggregate. The shared masses Pₛ/Qₛ come from
    * INTEGER count sums divided once (a double Σ of per-term p would
    * be accumulation-order-dependent); the per-term log factor is
    * prounded and summed as DECIMAL(38,12). A hot term present in all
    * G groups fans to G²/2 rows — G is the number of SOURCES (tens),
    * not corpus-sized, which is what keeps the self-join safe at
    * 100 TB.
    */
  def jsDivergenceMatrix(docs: DataFrame, groupCol: String, term: Column)
  : DataFrame = {
    import graft.functions.Rounding.pround
    import org.apache.spark.sql.types.DecimalType
    val cgw = docs.select(col(groupCol).as("__g"), term.as("__w"))
      .groupBy("__g", "__w").agg(count(lit(1)).as("__c"))
    val ng = cgw.groupBy("__g").agg(sum("__c").as("__n"))
    val a = cgw.select(col("__g").as("g1"), col("__w"), col("__c").as("c1"))
      .join(broadcast(ng.select(col("__g").as("g1"), col("__n").as("n1"))),
        Seq("g1"))
    val b = cgw.select(col("__g").as("g2"), col("__w"), col("__c").as("c2"))
      .join(broadcast(ng.select(col("__g").as("g2"), col("__n").as("n2"))),
        Seq("g2"))
    val p = col("c1").cast("double") / col("n1").cast("double")
    val q = col("c2").cast("double") / col("n2").cast("double")
    val sharedTerm = pround(
      p * log2(lit(2.0) * p / (p + q)) + q * log2(lit(2.0) * q / (p + q)),
      9).cast(DecimalType(38, 12))
    val pairs = a.join(b, Seq("__w")).filter(col("g1") < col("g2"))
      .withColumn("__t", sharedTerm)
      .groupBy("g1", "g2")
      .agg(count(lit(1)).as("n_shared_terms"),
        sum("c1").as("__c1s"), sum("c2").as("__c2s"),
        sum(col("__t")).as("__s"),
        first(col("n1")).as("__n1"), first(col("n2")).as("__n2"))
    val ps = col("__c1s").cast("double") / col("__n1").cast("double")
    val qs = col("__c2s").cast("double") / col("__n2").cast("double")
    pairs.select(col("g1"), col("g2"), col("n_shared_terms"),
      pround(lit(0.5) * ((lit(1.0) - ps) + (lit(1.0) - qs)) +
        lit(0.5) * col("__s").cast("double"), 9).as("jsd"))
  }

  /** One-sided CUSUM drift detector (Page 1954): per key, the
    * cumulative-sum statistic Sₜ = max(0, Sₜ₋₁ + (xₜ − k)) with alarm
    * at Sₜ > h — the sequential detector for SUSTAINED small shifts a
    * per-point z-score never fires on (each point is individually
    * unremarkable; the drift only shows in the accumulation). The
    * ingest-drift complement to [[psi]] (distribution shape) and the
    * event-rate z (single-point spikes).
    *
    * The recurrence has the prefix-min closed form
    * Sₜ = cumₜ − min(0, min_{j≤t} cumⱼ) (cum = Σ(x − k)), so the whole
    * statistic is two GROWING-frame windows over one key exchange —
    * O(n) per key, no sequential loop, no UDF. Exact when x and k are
    * integral (quantize upstream, the mannWhitneyU convention); ties
    * in the order column are broken by `tieCol` so distributed runs
    * and the oracle agree row-for-row.
    */
  def cusum(df: DataFrame, keyCol: String, orderCol: String,
            tieCol: String, x: Column, allowance: Long, threshold: Long)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0, s"threshold must be positive: $threshold")
    val w = Window.partitionBy(keyCol)
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(orderCol), col(tieCol),
      (x - lit(allowance)).as("__y"))
      .withColumn("__cum", sum(col("__y")).over(w))
      .withColumn("__rmin", least(lit(0L), min(col("__cum")).over(w)))
      .select(col(keyCol), col(orderCol), col(tieCol),
        (col("__cum") - col("__rmin")).as("s_stat"))
      .withColumn("alarm", col("s_stat") > threshold)
  }

  /** Per-group quantile normalization (rank transform): each value
    * mapped to its within-group quantile position q ∈ [0, 1] with
    * average ranks for ties — the step that makes quality scores from
    * DIFFERENT sources comparable before a single global threshold
    * (a raw perplexity cut keeps easy sources wholesale and guts hard
    * ones; the rank transform equalizes the keep-rate axis). Integral
    * doubled-rank arithmetic (q = (2r + c − 3) / (2(n − 1))); the one
    * double division is exact-operand IEEE, no rounding needed. A
    * single-row group has no spread — q = 0.5 (the distribution
    * midpoint). One key exchange: all three windows share the
    * partition.
    */
  def quantileNorm(df: DataFrame, groupCol: String, valueCol: String,
                   idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy(groupCol).orderBy(col(valueCol))
    val wt = Window.partitionBy(col(groupCol), col(valueCol))
    val wg = Window.partitionBy(groupCol)
    df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("__r", rank().over(wr))
      .withColumn("__c", count(lit(1)).over(wt))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("q", when(col("__n") > 1,
        (lit(2L) * col("__r") + col("__c") - lit(3L)).cast("double") /
          (lit(2L) * (col("__n") - lit(1L))).cast("double"))
        .otherwise(lit(0.5)))
      .drop("__r", "__c", "__n")
  }

  /** Distinct-n diversity (the generation-diversity metric of Li et
    * al.'s "A Diversity-Promoting Objective", applied corpus-wide):
    * per group and n ∈ [1, maxN], total vs distinct n-gram counts and
    * their ratio. Natural text keeps distinct-2/3 high; templated or
    * self-repetitive corpora (and model-generated synthetic data, the
    * case this QA gate exists for) collapse toward 0 — the corpus-level
    * complement of the per-document repetition score.
    *
    * One branch per n, each a combinable groupBy over an exploded
    * n-gram stream (n-grams joined to strings so distinctness is
    * hash-friendly); the union is |groups|·maxN rows. maxN scans of
    * the token column — acceptable because maxN ≤ 5 and each scan is
    * projection-pruned to (group, text); fusing the branches into one
    * explode would save scans but serialize the per-n aggregates
    * through one shuffle with a wider key, measured slower at sf1.
    */
  def distinctNgrams(docs: DataFrame, groupCol: String, textCol: String,
                     maxN: Int): DataFrame = {
    import graft.functions.Rounding.pround
    require(maxN >= 1 && maxN <= 5, s"maxN out of [1,5]: $maxN")
    val toks = docs.select(col(groupCol).as("__g"),
      filter(split(col(textCol), " "), t => length(t) > 0).as("__ws"))
    val perN = (1 to maxN).map { n =>
      val grams =
        if (n == 1) toks.select(col("__g"), explode(col("__ws")).as("__gram"))
        else toks
          .filter(size(col("__ws")) >= n)
          .select(col("__g"), explode(
            transform(sequence(lit(0), size(col("__ws")) - n),
              i => array_join(slice(col("__ws"), i + lit(1), lit(n)), " ")))
            .as("__gram"))
      grams.groupBy("__g")
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("__gram")).as("distinct_ngrams"))
        .withColumn("n", lit(n))
    }
    perN.reduce(_ unionByName _)
      .select(col("__g").as(groupCol), col("n"), col("total_ngrams"),
        col("distinct_ngrams"),
        pround(col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"), 9).as("distinct_ratio"))
  }

  /** k-anonymity audit (Sweeney): every quasi-identifier combination's
    * anonymity-set size. A row is k-anonymous iff at least k rows share
    * its full quasi-identifier tuple — re-identification risk lives in
    * the SMALL groups, so the gate is `at_risk = anonymity_k < k`. This
    * is the release check a training-data pipeline runs before shipping
    * a corpus whose metadata columns (site, region, age bucket, …)
    * could be joined to an external identified table; the PII scrubber
    * ([[graft.operators.TextOps]] lane) handles in-content identifiers,
    * this handles the column-combination side channel.
    *
    * One map-side-combinable groupBy on the quasi tuple — the output is
    * |distinct tuples| rows, the thing an auditor reads sorted by k
    * ascending. NULL is a value (CH/SQL GROUP BY semantics): an absent
    * attribute still narrows the attacker's candidate set.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long)
  : DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier column")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("anonymity_k"))
      .withColumn("at_risk", col("anonymity_k") < k)
  }

  /** Distinct l-diversity (Machanavajjhala): within each
    * quasi-identifier group, the number of DISTINCT sensitive values.
    * k-anonymity alone fails the homogeneity attack — a 50-row group
    * whose sensitive column is constant discloses it for every member —
    * so the release gate pairs [[kAnonymity]] with
    * `diversity_l >= l`. NULL sensitive values are not a disclosure
    * (nothing is learned) and don't count toward l, but the group still
    * appears — an all-NULL group reports l = 0.
    *
    * Exact countDistinct per group: one expand-free two-level aggregate
    * ((quasi, sensitive) partial counts, then group) — both levels
    * map-side combinable; at 100 TB swap the exact count for the KMV
    * estimator ([[kmvEstimate]]) under the usual exact-twin convention.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi-identifier column")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("anonymity_k"),
        countDistinct(col(sensitiveCol)).as("diversity_l"))
      .withColumn("at_risk", col("diversity_l") < l)
  }

  /** Gap islands in a key sequence: every maximal run of ABSENT ids
    * between the observed min and max — (gap_start, gap_end, gap_len).
    * The completeness half of ingestion QA ([[eventRateAnomaly]] finds
    * slow days; this finds the dropped id RANGES a resumable extractor
    * or a failed partition leaves behind).
    *
    * Scale shape — deliberately NOT one global window: Spark puts an
    * un-partitioned window's whole input on ONE task, so the classic
    * `lag(id) OVER (ORDER BY id)` islands query dies exactly at the
    * corpus sizes where gap QA matters. Ids are bucketed by
    * `id div bucketSize`; intra-bucket gaps come from a lag window
    * PARTITIONED by bucket (parallel, each partition ≤ bucketSize
    * rows), and cross-bucket gaps from a per-bucket (min, max)
    * aggregate — a frame `observed-ids/bucketSize` long — lag-scanned
    * in bucket order (empty buckets need no row: the gap between
    * bucket b's max and bucket b+3's min spans them). The tiny-frame
    * window is the one serial step; size `bucketSize` so
    * range/bucketSize fits a task (at 10¹² ids, bucketSize 10⁶ leaves
    * a 10⁶-row boundary frame).
    *
    * Duplicate ids are tolerated (deduped by the aggregation itself:
    * `distinct` before the windows).
    */
  def idGaps(df: DataFrame, idCol: String,
             bucketSize: Long = 1L << 20): DataFrame = {
    require(bucketSize > 1, s"bucketSize must be > 1: $bucketSize")
    import org.apache.spark.sql.expressions.Window
    val ids = df.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("bucket", floor(col("id") / bucketSize))
    val intraW = Window.partitionBy("bucket").orderBy("id")
    val intra = ids.withColumn("prev", lag("id", 1).over(intraW))
      .filter(col("prev").isNotNull && col("id") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("id") - 1).as("gap_end"))
    val perBucket = ids.groupBy("bucket")
      .agg(min("id").as("mn"), max("id").as("mx"))
    val boundW = Window.orderBy("bucket")
    val bounds = perBucket.withColumn("prev_mx", lag("mx", 1).over(boundW))
      .filter(col("prev_mx").isNotNull && col("mn") - col("prev_mx") > 1)
      .select((col("prev_mx") + 1).as("gap_start"), (col("mn") - 1).as("gap_end"))
    intra.unionByName(bounds)
      .withColumn("gap_len", col("gap_end") - col("gap_start") + 1)
  }

  /** Per-source prefix boilerplate: for each source, the most common
    * first-`prefixLen`-token document prefix and the share of the
    * source's documents carrying it. Site chrome ("welcome to …",
    * cookie banners, nav headers) is injected at document START by
    * crawlers, so a prefix shared by a large share of one source is the
    * cheapest boilerplate detector there is — and the natural input to
    * a strip-prefix cleaning pass. The dispersion ([[dispersion]]) and
    * keyness views rank TERMS; this ranks the literal leading token
    * run, which is what a cleaner actually removes.
    *
    * One combinable (source, prefix) groupBy over a codegen'd
    * slice-and-join projection, per-source doc totals re-aggregated
    * from that table (never a second corpus scan) and joined back
    * BROADCAST (sources are few), one row per source via a struct-max
    * (ties to the lexicographically smaller prefix via the struct's
    * second field ordering on (-n, prefix) — deterministic).
    */
  def prefixBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, prefixLen: Int = 8): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1: $prefixLen")
    val pfx = array_join(
      slice(graft.functions.TextFunctions.tokens(col(textCol)), 1, prefixLen),
      " ")
    val counts = docs.select(col(sourceCol).as("source"), pfx.as("prefix"))
      .groupBy("source", "prefix").agg(count(lit(1)).as("n_docs"))
    val totals = counts.groupBy("source").agg(sum("n_docs").as("total"))
    // struct-max argmax: (n_docs, reversed-prefix-rank) — Spark's
    // struct ordering is lexicographic by field, so max picks the
    // highest count; prefix ties resolve to the SMALLEST prefix by
    // negating the comparison via a max on (n, prefix) with prefix
    // descending unavailable — use min over (-n, prefix) instead.
    val top = counts
      .groupBy("source")
      .agg(min(struct((-col("n_docs")).as("neg"), col("prefix").as("p")))
        .as("m"))
      .select(col("source"), col("m.p").as("prefix"),
        (-col("m.neg")).as("n_docs"))
    top.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("prefix"), col("n_docs"),
        graft.functions.Rounding.pround(
          col("n_docs").cast("double") / col("total").cast("double"), 6)
          .as("share"))
  }

  /** Gries' deviation of proportions (DP; Gries 2008): per-term
    * burstiness across corpus parts — DP(t) = ½·Σ_p |v_p − s_p| with
    * v_p = the term's share of its own total in part p and s_p = part
    * p's share of all tokens. 0 = the term is spread exactly like the
    * corpus; → 1 = concentrated in one part. The dispersion companion
    * to [[keyness]]: G2 says a term is over-represented SOMEWHERE, DP
    * says it is not spread — boilerplate, site chrome, and template
    * artifacts light up on DP long before frequency ranks them.
    *
    * `pairs` carries one row per token occurrence as (partCol, term).
    * Absent (term, part) cells contribute |0 − s_p| = s_p; summing
    * only observed cells and adding 1 − Σ_{p observed} s_p is exact
    * and keeps the join candidate-sized (never |vocab|·|parts|).
    *
    * Scale: one combinable (term, part) groupBy over the occurrence
    * stream; part totals re-aggregate that table and ride a BROADCAST
    * join (parts are few); term totals are a vocabulary-keyed
    * re-aggregation. Integer counts throughout; the one double
    * division per cell feeds the pround(6) published DP.
    */
  def dispersion(pairs: DataFrame, partCol: String, term: Column,
                 minCount: Long = 5L, k: Int = 20): DataFrame = {
    val cells = pairs.select(col(partCol).as("part"), term.as("term"))
      .groupBy("part", "term").agg(count(lit(1)).as("f_tp"))
    val partTotals = cells.groupBy("part").agg(sum("f_tp").as("f_p"))
    val grand = partTotals.agg(sum("f_p").as("t"))
    val sp = partTotals.crossJoin(broadcast(grand))
      .select(col("part"), (col("f_p").cast("double") / col("t")).as("s_p"))
    val termTotals = cells.groupBy("term").agg(sum("f_tp").as("f_t"))
    // per-cell deviations rounded at 9 digits and summed as exact
    // DECIMAL(38,12) (the logp discipline): double summation ORDER
    // differs between engines, and a sum that lands on a pround(6)
    // boundary would hash-split the oracle; decimal sums cannot.
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    cells.join(broadcast(sp), Seq("part"))
      .join(termTotals, Seq("term"))
      .filter(col("f_t") >= minCount)
      .groupBy(col("term"), col("f_t"))
      .agg(sum(graft.functions.Rounding.pround(
          abs(col("f_tp").cast("double") / col("f_t") - col("s_p")), 9)
          .cast(dec)).as("present"),
        sum(graft.functions.Rounding.pround(col("s_p"), 9).cast(dec))
          .as("covered"))
      .select(col("term"), col("f_t").as("n"),
        graft.functions.Rounding.pround(
          (col("present") + (lit(BigDecimal(1)).cast(dec) - col("covered")))
            .cast("double") / 2.0, 6).as("dp"))
      .orderBy(col("dp").desc, col("term"))
      .limit(k)
  }
}
