package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Rounding, TextFunctions}
import graft.operators.{Classifier, Contamination, Dedup, DedupCluster, Graph, Kmeans, Packing, Profile, Similarity, TextEmbedding}

/** Oracle-checked queries for the training-data-pipeline tier
  * (BASELINE.json north star): text analysis, document dedup, and
  * embedding similarity search. The DuckDB SQL is generated from the
  * same constants (marker word lists, shingle size, band layout) as the
  * Spark code so the two can never drift apart.
  *
  * Every entry here is oracle-checked — including SimHash, whose
  * md5-derived 64-bit fingerprint the oracle reconstructs nibble by
  * nibble, and dedup clustering, whose connected components the oracle
  * computes with a recursive CTE.
  */
object Extensions {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val ShingleN = 5
  private val Bands = 4
  private val RowsPerBand = 3
  private val ChunkN = 64
  private val ChunkStride = 48
  private val HashDim = 64
  // DSIR: hashed-ngram feature buckets, selection size, draw seed
  private val DsirDim = 1024
  // KMV sketch size for the accuracy QA row (std err ≈ 1/√k ≈ 6%).
  private val KmvK = 256
  // Top-N vocabulary for the OOV-rate QA row.
  private val OovVocabN = 1000
  // Count–Min grid: 4 rows × 512 cells ⇒ ε = e/512 ≈ 0.5% of N,
  // δ = e^-4 ≈ 1.8% — plenty for the ~30-term fixture vocabulary,
  // small enough that collisions occur and over_err is non-trivially 0
  private val CmDepth = 4
  private val CmWidth = 512
  private val CmTopN = 20
  // C4-style blocklist for the phrase_hits gate: two-word phrases and
  // single terms from the fixture vocabulary, plus one never-matching
  // entry so the automaton's miss path is exercised in the oracle row
  private val Blocklist =
    Seq("fast table", "slow small", "vector", "merge batch", "zzz never")
  // SSL-prototypes pruning: keep the hardest half of every cell
  // (dyadic fraction — ceil(0.5·n) is IEEE-exact in both engines)
  private val PruneKeepFrac = 0.5
  // mix_epoch_plan: temperature, token budget, per-source epoch cap —
  // sized so some fixture sources hit the cap and some don't.
  private val EpochTau = 0.5
  private val EpochBudget = 200000L
  private val EpochCap = 1.25
  // dq_psi_daily: fixed bin edges over the events value range (0–490).
  private val PsiEdges = Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 300.0)
  // funnel_window: the classic view→click→purchase chain; 12 h window
  // exercises all three levels on the fixture (14/100/36 users).
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelWindowSec = 43200L
  private val SeqSpanConds = Seq("signup", "view", "purchase")
  // seq_match_timed: the spanning pattern with ClickHouse (?t<=N)
  // inter-step bounds — 12 h per gap splits the fixture 62/88.
  private val SeqTimedGapSec = 43200L
  private val TokenBudget = 800L
  private val GroupArrayN = 20
  // agg_* ClickHouse-aggregate parity rows: value quantized to cents
  // (floor(v*100+0.5) — identical IEEE arithmetic in both engines;
  // explicit floor because Spark CASTs double→long by truncation where
  // DuckDB rounds). Retention thresholds split the 150 fixture users
  // 150/67/134; uniqUpTo's N=15 splits 79 above / 71 below; the
  // interval rows use floor(value)-hour durations (max concurrent
  // 6–16 per user).
  private val UniqUpToN = 15
  private val MovingSumW = 3

  /** α·m²·2^53 for HLL m=256 — [[graft.functions.Hll.C2]], so the
    * embedded SQL literal is the bit-identical double the Spark side
    * divides by. */
  private val HllC2: Double = graft.functions.Hll.C2
  // retention_cohort: signup-day cohorts followed for a week.
  private val RetentionDays = 7
  private val DsirN = 50
  private val DsirSeed = "dsir-r8"
  private val AnnK = 5
  private val LshBits = 8
  // stored-vector-index build/query parameters (graft_vec_index)
  private val AnnNlist = 16
  private val AnnNprobe = 6
  private val AnnNsub = 8
  private val AnnKsub = 16
  private val AnnOverquery = 5
  // nprobe for the FIXED-model stored indexes (8 SemCents cells, vs
  // the trained index's AnnNlist=16)
  private val FixedNprobe = 3
  // Johnson–Lindenstrauss sign projection: 64 → 16 dims, seeded —
  // k=16 is a power of 4 so every matrix entry is exactly ±0.25 and
  // the SQL literals ARE the Scala doubles (the SemCents convention)
  private val JlK = 16
  private lazy val JlSigns: Seq[Seq[Double]] =
    graft.operators.Pca.jlSigns(64, JlK, "jl13")
  private def jlArray(j: Int): String =
    JlSigns(j).map(_.toString).mkString("[", ", ", "]")
  // fixed dyadic logistic-regression model for the hash-matched
  // classifier-inference row (training is spec-pinned, not oracled)
  private val LrFixedModel = Classifier.LogRegModel(
    (0 until HashDim).map(i => ((i * 37) % 21 - 10) / 16.0), bias = 0.1875)
  private val PageRankIters = 5
  private val PageRankDamping = 0.85
  private val HitsIters = 4
  private val KmeansIters = 3
  // mutual-kNN clustering: neighbor count and bounded slice for the
  // quadratic oracle replica
  private val KnnK = 4
  private val KnnSlice = 300

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis ------------------------------------------------
    "text_token_counts" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    "text_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"))
        .orderBy("doc_id")),

    // Tokenizer-fertility QA: characters per BPE-ish token per doc —
    // the tokenizer-budget number (a language or source whose fertility
    // spikes is being shredded into units the model pays for twice).
    "text_token_fertility" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .withColumn("fertility", when(col("n_bpe_tokens") > 0,
          Rounding.pround(
            col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
          .otherwise(lit(0.0)))
        .orderBy("doc_id")),

    "text_quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Winnowing (rolling-hash) fingerprints: shift-resistant near-dup
    // signal; restricted to a query slice so output stays bounded.
    "text_winnowing" -> ((s, dir) =>
      TextFunctions.winnowingFingerprints(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", k = 16, w = 8)
        .orderBy("doc_id", "fp")),

    // Vocabulary extraction: the word-count shuffle over the corpus —
    // top terms with deterministic tie-break.
    "text_vocab" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)),

    // CCNet-style LM quality scoring: unigram LM trained on the corpus,
    // every document scored by cross-entropy (bits/token) under it.
    // Gibberish and boilerplate drift from the corpus distribution and
    // score high; fluent text scores low. The one transcendental (log2)
    // follows the weightedPriority 9-digit rule; per-doc sums are exact
    // DECIMAL(38,12) — order-independent, DuckDB-hash-matchable.
    "text_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.crossEntropy(d, "doc_id", "text",
        graft.operators.LanguageModel.unigramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // Interpolated bigram LM (Jelinek–Mercer λ-mix with the add-α
    // unigram floor) — one rung up the KenLM ladder, same exact-decimal
    // discipline. (1−λ) is the Scala-computed double injected into both
    // engines; see crossEntropyBigram.
    "text_bigram_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.crossEntropyBigram(d, "doc_id", "text",
        graft.operators.LanguageModel.unigramLm(d, "text"),
        graft.operators.LanguageModel.bigramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // One more rung: the interpolated TRIGRAM (λ₃ tri + λ₂ bi + uni
    // floor) — same exact-decimal discipline, five one-row-per-key
    // left joins, no position self-join.
    "text_trigram_perplexity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.crossEntropyTrigram(d, "doc_id", "text",
        graft.operators.LanguageModel.unigramLm(d, "text"),
        graft.operators.LanguageModel.bigramLm(d, "text"),
        graft.operators.LanguageModel.trigramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // Stupid backoff (Brants et al. EMNLP'07) — the distributed
    // web-scale LM: raw-count 4-gram score with β=0.4 backoff hops,
    // position-aware ladder (document-initial tokens pay no penalty),
    // add-α unigram base. Seven one-row-per-key left joins; β powers
    // are Scala-computed doubles injected into both engines.
    "text_stupid_backoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.stupidBackoff4(d, "doc_id", "text",
        graft.operators.LanguageModel.unigramLm(d, "text"),
        graft.operators.LanguageModel.bigramLm(d, "text"),
        graft.operators.LanguageModel.trigramLm(d, "text"),
        graft.operators.LanguageModel.fourgramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser–Ney bigram (the KenLM smoothing): absolute
    // discount D=0.75 with the discounted mass redistributed through
    // the CONTINUATION unigram (distinct-context counts, not raw
    // frequency). All model state derives from the one bigram table;
    // scoring is three one-row-per-key left joins.
    "text_kneser_ney" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.kneserNeyBigram(d, "doc_id", "text",
        graft.operators.LanguageModel.bigramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // The full KN recursion one order up: trigram top with raw counts,
    // continuation-TYPE-count middle (N1+(·,v,w) from the trigram type
    // table), add-α continuation-unigram base — what KenLM computes,
    // order 3.
    "text_kneser_ney3" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.kneserNeyTrigram(d, "doc_id", "text",
        graft.operators.LanguageModel.bigramLm(d, "text"),
        graft.operators.LanguageModel.trigramLm(d, "text"))
        .orderBy("doc_id")
    }),

    // Zipf rank–frequency fit per source: natural text slopes to ≈ −1
    // (Zipf's law); templated/id-heavy sources flatten — the
    // corpus-shape QA number beside mix_kl_drift and OOV. Exact
    // 128-bit integer sums of 1e-9-quantized logs; only the final
    // divisions are IEEE.
    "corpus_zipf_fit" -> ((s, dir) =>
      graft.operators.Profile.zipfFit(
        t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"))),

    // Distinct-n diversity per source: distinct/total n-gram ratios
    // for n = 1..3 — the synthetic-data QA gate (templated corpora
    // collapse distinct-2/3 toward 0). One combinable groupBy per n.
    "corpus_distinct_ngrams" -> ((s, dir) =>
      graft.operators.Profile.distinctNgrams(
        t(s, dir, "documents"), "source", "text", 3)
        .orderBy("source", "n")),

    // Dunning log-likelihood keyness: per source, the top-10 terms by
    // G² significance — the statistical keyword test beside c-TF-IDF's
    // damped-frequency ranking (rare-but-exclusive junk doesn't float).
    "corpus_keyness" -> ((s, dir) =>
      graft.operators.Profile.keyness(
        t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"), 10)
        .orderBy("source", "rank")),

    // c-TF-IDF (BERTopic shape): the top-10 terms that CHARACTERIZE
    // each source — in-class frequency damped by corpus-wide
    // commonness. Everything past the first combinable groupBy is
    // vocabulary-sized; ln absorbed at 9 digits BEFORE ranking.
    "corpus_class_tfidf" -> ((s, dir) =>
      graft.operators.Profile.classTfIdf(
        t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"), 10)),

    // PMI collocations (Church & Hanks 1990): top multiword expressions
    // by pointwise mutual information over the corpus bigram table —
    // min-count 5 suppresses the hapax-pair pathology. Vocabulary-keyed
    // joins + broadcast totals; log2 at 9 digits per the ladder rule.
    "text_pmi_collocations" -> ((s, dir) =>
      graft.operators.LanguageModel.pmiCollocations(
        t(s, dir, "documents"), "doc_id", "text", 5L, 20)),

    // Good–Turing count-of-counts over bigram types (the table Katz
    // backoff discounts): r* = (r+1)·N_{r+1}/N_r and the unseen-bigram
    // mass p0 = N_1/N. N_{r+1} = 0 rows publish NULL r* (estimator
    // undefined), never a fake 0.
    "text_good_turing" -> ((s, dir) =>
      graft.operators.LanguageModel.goodTuring(
        t(s, dir, "documents"), "doc_id", "text", 10)),

    // Gap islands in the event id stream — the completeness half of
    // ingestion QA. The fixture's ids are gap-free, so the defect is
    // PLANTED (the dq_json_quarantine convention): one 100-id range
    // straddling the 512-bucket boundary (a failed extractor partition)
    // and one 3-id intra-bucket range are dropped, and idGaps must
    // recover exactly those islands through its bucketed two-level scan
    // (never one global window — see the operator's scaladoc). Ranges
    // sit inside even the sf0.001 id space so every sf yields rows.
    "dq_id_gaps" -> ((s, dir) =>
      graft.operators.Profile.idGaps(
        t(s, dir, "events").filter(
          !col("event_id").between(450, 549) &&
            !col("event_id").between(777, 779)),
        "event_id", 512L)
        .orderBy(col("gap_len").desc, col("gap_start")).limit(20)),

    // Gries' deviation of proportions: per-term burstiness across
    // sources — the dispersion companion to keyness (template artifacts
    // and site chrome concentrate; real vocabulary spreads).
    "corpus_burstiness" -> ((s, dir) =>
      graft.operators.Profile.dispersion(
        t(s, dir, "documents").select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"), 5L, 20)),

    // Gopher filter panel (Rae et al. 2021 App. A): each MassiveWeb
    // rule as a named flag — adopt/tune/ablate per rule, not one
    // opaque verdict. One codegen'd map stage.
    "text_gopher_rules" -> ((s, dir) =>
      graft.operators.Quality.gopherRules(
        t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),

    // C4 cleaning panel (Raffel et al. 2020 §2.2), document-grained
    // flags + conjunction.
    "text_c4_filters" -> ((s, dir) =>
      graft.operators.Quality.c4Filters(
        t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),

    // Per-source prefix boilerplate: the most common leading-8-token
    // run and its share — the crawler-chrome detector feeding a
    // strip-prefix cleaner.
    "corpus_prefix_boilerplate" -> ((s, dir) =>
      graft.operators.Profile.prefixBoilerplate(
        t(s, dir, "documents"), "doc_id", "text", "source", 8)
        .orderBy("source")),

    // Lang-id confusion matrix: the n-gram-marker classifier judged
    // against the corpus's labeled lang column — (label, predicted, n,
    // per-label share). The accuracy QA every heuristic filter needs
    // before it gates a corpus; one combinable groupBy plus a
    // label-keyed total re-aggregated from the cells themselves.
    "corpus_langid_confusion" -> ((s, dir) => {
      val cells = t(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      val totals = cells.groupBy("lang").agg(sum("n").as("total"))
      cells.join(broadcast(totals), Seq("lang"))
        .select(col("lang"), col("predicted"), col("n"),
          graft.functions.Rounding.pround(
            col("n").cast("double") / col("total").cast("double"), 6)
            .as("share"))
        .orderBy("lang", "predicted")
    }),

    // Per-source exact-duplicate rate: the mixing-weight input dedup
    // planning starts from (a source that is 40 % duplicate contributes
    // 40 % less unique signal than its row count claims). Same md5
    // content hash as dedup_exact; one groupBy, two aggregates.
    "mix_dedup_rate_by_source" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          graft.functions.Rounding.pround(lit(1.0) -
            col("n_unique").cast("double") / col("n_docs").cast("double"), 6)
            .as("dup_rate"))
        .orderBy("source")),

    // Trigram head coverage: the share of all trigram TOKENS carried by
    // the top-100 trigram TYPES — the Zipf companion that directly
    // predicts how far n-gram dedup/contamination tables can be
    // truncated (a head-heavy corpus is mostly boilerplate). Tie-safe:
    // the top-k SUM is invariant to which equal-count type sits at the
    // cut. One combinable groupBy; the type table re-aggregates to two
    // one-row frames.
    "text_ngram_coverage" -> ((s, dir) => {
      val tri = graft.operators.LanguageModel.trigramLm(
        t(s, dir, "documents"), "text")
      val top = tri.orderBy(col("cnt3").desc, col("prev2"), col("prev"),
          col("token")).limit(100)
        .agg(sum("cnt3").as("top_sum"))
      tri.agg(count(lit(1)).as("n_types"), sum("cnt3").as("n_trigrams"))
        .crossJoin(broadcast(top))
        .select(col("n_types"), col("n_trigrams"),
          graft.functions.Rounding.pround(
            col("top_sum").cast("double") / col("n_trigrams").cast("double"),
            6).as("top100_share"))
    }),

    // Aho–Corasick blocklist scan (the C4 bad-words gate shape): every
    // blocklist phrase matched in ONE automaton pass per document —
    // O(|text|+hits) regardless of list size, vs N contains() probes.
    // Exploded to (doc_id, term) rows so the hit SET is what both
    // engines hash (zero-hit docs are absent from both).
    "text_blocklist" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.PhraseHits.column(col("text"),
          Blocklist)).as("term"))
        .orderBy("doc_id", "term")),

    // Count–Min sketch accuracy report: the grid built by the custom
    // mergeable aggregate (md5-celled, so DuckDB rebuilds the SAME
    // grid), probed for the top-N exact terms — est = min over rows,
    // over_err = est − exact ≥ 0 by construction (CM never
    // underestimates; the oracle checks the exact collision pattern).
    "sketch_cm_accuracy" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      val sketch = toks.agg(graft.functions.CmSketch.column(
        col("term"), CmDepth, CmWidth).as("cells"))
      val top = toks.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(CmTopN)
      val est = least((0 until CmDepth).map { j =>
        val cell = (conv(substring(md5(
          concat(col("term"), lit(":cm" + j))), 1, 8), 16, 10)
          .cast("long") % CmWidth).cast("int")
        element_at(col("cells"), cell + lit(j * CmWidth) + lit(1))
      }: _*)
      top.crossJoin(broadcast(sketch))
        .select(col("term"), col("n"), est.as("cm_est"))
        .withColumn("over_err", col("cm_est") - col("n"))
        .orderBy(col("n").desc, col("term"))
    }),

    // Per-source quota cap (Gopher/RefinedWeb domain caps): at most 10
    // docs per source survive, chosen by the deterministic shuffle-key
    // priority — replayable "which N of this domain live".
    "source_quota_cap" -> ((s, dir) =>
      graft.operators.Sampling.capPerGroup(t(s, dir, "documents"),
        "doc_id", "source", 10, "s42")
        .select("doc_id", "source").orderBy("doc_id")),

    // The quality-aware variant: each source keeps its TOP-N docs under
    // an explicit ordering (here longest-first — standing in for the
    // quality prior CorpusBuildJob.qualityPriors orders by), not a
    // pseudo-random draw.
    "source_quota_top" -> ((s, dir) =>
      graft.operators.Sampling.capPerGroupTop(t(s, dir, "documents"),
        "source", 10,
        Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "source", "n_chars").orderBy("doc_id")),

    // Token-budget selection: fill each source's slice of the mixture
    // to 800 whitespace tokens — the budget-in-tokens twin of the
    // row-count quota (training budgets are set in tokens, not docs).
    "source_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudgetSelect(
        t(s, dir, "documents").withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text"))),
        "source", "doc_id", "n_tokens", TokenBudget, "b42")
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")),

    // The filter arc: keep documents at or under 4.95 bits/token (the
    // fixture corpus sits at ~4.88–5.33, so the gate is non-vacuous).
    "corpus_perplexity_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LanguageModel.perplexityFilter(d, "doc_id", "text",
        graft.operators.LanguageModel.unigramLm(d, "text"), maxXent = 4.95)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Frequency-threshold heavy hitters (exact form — the oracle
    // semantics of functions.MisraGries, whose O(k) mergeable sketch is
    // the 100 TB path benchmarked in GraftExtensionsSpec): terms whose
    // share of all tokens is at least 0.5%.
    // Vocabulary-coverage QA: per document, the fraction of tokens
    // OUTSIDE the corpus's top-1000 vocabulary — the tokenizer-budget
    // number (a high-OOV doc will shatter into byte-level subwords and
    // waste sequence length) and a cheap foreign-language/gibberish
    // flag. The vocab is a top-N aggregate (TakeOrderedAndProject:
    // per-partition top-N, driver merge of N·partitions rows — no
    // global sort) broadcast into a map-side membership probe; ties at
    // the boundary break on the term so both engines cut identically.
    "text_oov_rate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(OovVocabN)
        .select(col("term"), lit(1).as("in_vocab"))
      val per = toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            Rounding.pround(col("n_oov").cast("double") /
              col("n_tokens"), 6)).otherwise(lit(0.0)).as("oov_rate"))
        .orderBy("doc_id")
    }),

    // KMV distinct-count accuracy report: per source, the k-minimum-
    // values estimate of distinct tokens beside the exact count — the
    // QA row that justifies the O(k)-state KmvDistinct sketch (whose
    // xxhash64 keying has no SQL replica; this md5-keyed twin pins the
    // estimator arithmetic itself, training to rounding, in DuckDB).
    "sketch_kmv_estimate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.kmvEstimate(
        d.select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"), KmvK)
        .orderBy("source")
    }),

    // Theta-sketch intersection: pairwise shared-vocabulary estimates
    // from k-row bottom-k sketches — the set-operation leg of the
    // sketch family (cross-shard overlap without an exact self-join;
    // n_exact rides as the diagnostic twin).
    "sketch_kmv_intersect" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Profile.kmvIntersect(
        d.select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("term")),
        "source", col("term"), KmvK)
        .orderBy("g1", "g2")
    }),

    // Robust per-event-type value outliers: median/MAD modified z-score
    // (Iglewicz–Hoaglin) — the ingest gate that survives a mostly-bad
    // feed, where the mean/stddev z-score is poisoned by the very
    // outliers it hunts. Exact percentiles are the oracle semantics;
    // the 100 TB path swaps in TDigestQuantiles for both medians.
    "dq_value_outliers" -> ((s, dir) =>
      Profile.madOutliers(
        t(s, dir, "events").select("event_id", "event_type", "value"),
        "event_type", "value")
        .select("event_id", "event_type", "value", "rz", "is_outlier")
        .orderBy("event_id")),

    // k-anonymity release audit: anonymity-set size of every
    // (lang, source, length-bucket) quasi-identifier tuple over the
    // corpus metadata — the column-combination re-identification check
    // beside the in-content PII scrubber. One combinable groupBy.
    "dq_k_anonymity" -> ((s, dir) =>
      Profile.kAnonymity(
        t(s, dir, "documents")
          .select(col("lang"), col("source"),
            floor(col("n_chars") / 100).as("len_bucket")),
        Seq("lang", "source", "len_bucket"), 5L)
        .orderBy("lang", "source", "len_bucket")),

    // Distinct l-diversity: per quasi-identifier group, how many
    // DISTINCT sensitive values — the homogeneity-attack gate that
    // k-anonymity alone misses. NULL sensitive values don't count
    // toward l (nothing is disclosed).
    "dq_l_diversity" -> ((s, dir) =>
      Profile.lDiversity(
        t(s, dir, "events")
          .select(col("event_type"), (col("user_id") % 25).as("cohort"),
            floor(col("value") / 100).as("sensitive")),
        Seq("event_type", "cohort"), "sensitive", 3L)
        .orderBy("event_type", "cohort")),

    // Event-rate anomaly QA: hourly ingest counts z-scored against the
    // table's own hourly mean/stddev — the missing-feed / double-send
    // detector. Variance comes from exact integer sums (n, Σc, Σc²),
    // so the z-scores are accumulation-order-independent.
    "dq_event_rate_anomaly" -> ((s, dir) => {
      val hours = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"))
      val stats = hours.agg(count(lit(1)).as("nh"),
        sum("n_events").as("s1"),
        sum(col("n_events") * col("n_events")).as("s2"))
      val mean = col("s1").cast("double") / col("nh")
      val sd = sqrt((col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("nh")) /
        (col("nh") - lit(1L)))
      hours.crossJoin(broadcast(stats))
        .withColumn("z", Rounding.pround(
          when(sd === 0.0, lit(0.0))
            .otherwise((col("n_events") - mean) / sd), 9))
        .withColumn("is_anomaly", abs(col("z")) > 3.0)
        .select("hour", "n_events", "z", "is_anomaly")
        .orderBy("hour")
    }),

    // ClickHouse windowFunnel (strict-increase): per user, the deepest
    // prefix of view→click→purchase chained on strictly-increasing
    // timestamps within a 12 h window of the chain's first event — the
    // conversion dashboard number. Greedy earliest-next extension per
    // start, max over starts (see Funnel.windowFunnel).
    "funnel_window" -> ((s, dir) =>
      graft.operators.Funnel.windowFunnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", FunnelSteps, FunnelWindowSec)
        .orderBy("user_id")),

    // windowFunnel strict_order: an intervening event of ANY other
    // type aborts the chain (A→B→D→C stops at level 2) — per level,
    // "earliest event after t IS the step event", one extra window min
    // on the same pass.
    "funnel_window_strict_order" -> ((s, dir) =>
      graft.operators.Funnel.windowFunnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", FunnelSteps, FunnelWindowSec,
        strictOrder = true)
        .orderBy("user_id")),

    // windowFunnel strict_dedup: a repeat of an already-matched
    // condition before the next step aborts (A→B→A→C stops at
    // level 2) — the interrupt min over the matched-condition set.
    "funnel_window_strict_dedup" -> ((s, dir) =>
      graft.operators.Funnel.windowFunnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", FunnelSteps, FunnelWindowSec,
        strictDedup = true)
        .orderBy("user_id")),

    // ClickHouse retention in cohort-matrix form: signup-day cohorts ×
    // day offsets 0..7, active-user counts and retained rates — the
    // other half of every product-analytics dashboard on this stack.
    "retention_cohort" -> ((s, dir) =>
      graft.operators.Funnel.cohortRetention(t(s, dir, "events"),
        "user_id", "ts", col("event_type") === "signup", RetentionDays)
        .orderBy("cohort_day", "day_offset")),

    // Kaplan–Meier churn curves: right-censored survival per user
    // cohort — censored (still-active) users leave the risk set
    // without counting as deaths, the thing a naive weekly churn rate
    // gets wrong. exp(Σ prounded ln) product, risk-set exhaustion
    // pins the tail to exactly 0.
    "retention_kaplan_meier" -> ((s, dir) => {
      val horizon = lit("2024-01-25 00:00:00").cast("timestamp")
      val subj = t(s, dir, "events")
        .groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .select((col("user_id") % 4).as("cohort"),
          datediff(to_date(col("last_ts")), to_date(col("first_ts")))
            .as("duration"),
          (col("last_ts") < horizon).as("churned"))
      graft.operators.Funnel.kaplanMeier(subj, "cohort", "duration",
        "churned")
        .orderBy("cohort", "duration")
    }),

    // ClickHouse sequenceMatch('(?1).*(?2).*(?3)'): signup, then a
    // view strictly later, then a purchase strictly later — no time
    // bound. The funnel chain walk with the window check off.
    "seq_match_spanning" -> ((s, dir) =>
      graft.operators.Sequence.matchSpanning(t(s, dir, "events"),
        "user_id", "ts", SeqSpanConds.map(col("event_type") === _))
        .orderBy("user_id")),

    // ClickHouse sequenceMatch('(?1)(?t<=N)(?2)(?t<=N)(?3)'): the
    // spanning pattern with inter-step time bounds. Greedy walking is
    // inexact under per-gap bounds, so this is the level-reachability
    // pass: "latest valid previous position" per candidate event — an
    // ascending growing-frame running max, one union+window per level.
    "seq_match_timed" -> ((s, dir) =>
      graft.operators.Sequence.matchTimed(t(s, dir, "events"),
        "user_id", "ts", SeqSpanConds.map(col("event_type") === _),
        Seq(Some(SeqTimedGapSec), Some(SeqTimedGapSec)))
        .orderBy("user_id")),

    // The full (?t op N) grammar: signup →(≤2h) view →(≥24h) purchase
    // — a max-bound gap decided by the LATEST valid predecessor and a
    // min-bound gap decided by the EARLIEST, both running extremes of
    // the same ascending growing frame (53/150 users match).
    "seq_match_min_gap" -> ((s, dir) =>
      graft.operators.Sequence.matchTimedBounds(t(s, dir, "events"),
        "user_id", "ts", SeqSpanConds.map(col("event_type") === _),
        Seq(Some(graft.operators.Sequence.TimeBound("<=", 7200L)),
          Some(graft.operators.Sequence.TimeBound(">=", 86400L))))
        .orderBy("user_id")),

    // ClickHouse sequenceCount('(?1)(?2)'): view IMMEDIATELY followed
    // by click in the view/click subsequence (other events skipped),
    // ties broken by event_id — one lag window, linear on hot keys.
    "seq_count_pairs" -> ((s, dir) =>
      graft.operators.Sequence.countAdjacentPairs(t(s, dir, "events"),
        "user_id", "ts", "event_id",
        col("event_type") === "view", col("event_type") === "click")
        .orderBy("user_id")),

    // ClickHouse sequenceCount('(?1)(?2)(?3)'): view→click→purchase
    // CONSECUTIVE in the condition-filtered subsequence — the k-ary
    // lag composition (non-self-overlapping pattern ⇒ position count
    // = greedy non-overlap count).
    "seq_count_triples" -> ((s, dir) =>
      graft.operators.Sequence.countAdjacentRuns(t(s, dir, "events"),
        "user_id", "ts", "event_id",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
        .orderBy("user_id")),

    // ClickHouse groupArraySorted(N) + arrayStringConcat: the N
    // smallest user_ids per event type as a joined string — the one
    // deterministic reading of ClickHouse's order-sensitive array
    // aggregate. The rank pre-filter rides WindowGroupLimit, so a
    // mega-group ships ~N rows per partition, never its row count;
    // the collect is bounded at N by construction.
    "agg_group_array_sorted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("user_id")
      t(s, dir, "events")
        .select(col("event_type"), col("user_id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= GroupArrayN)
        .groupBy("event_type")
        .agg(array_join(
          transform(sort_array(collect_list(col("user_id"))),
            _.cast("string")), ",").as("first_users"))
        .orderBy("event_type")
    }),

    // ClickHouse retention(c1, c2, c3): signup ever, gated by signup:
    // big purchase ever, big error ever — one map-side-combinable
    // aggregate, flat boolean columns (CH's UInt8 array unnested).
    "agg_retention" -> ((s, dir) =>
      graft.operators.Aggregates.retention(t(s, dir, "events"), "user_id",
        Seq(col("event_type") === "signup",
          col("event_type") === "purchase" && col("value") > 150,
          col("event_type") === "error" && col("value") > 95))
        .orderBy("user_id")),

    // ClickHouse deltaSum: per-user sum of positive consecutive value
    // deltas in (ts, event_id) order — cents-quantized so the grouped
    // BIGINT sum is accumulation-order-independent.
    "agg_delta_sum" -> ((s, dir) =>
      graft.operators.Aggregates.deltaSum(t(s, dir, "events"),
        "user_id", "ts", "event_id", floor(col("value") * 100 + 0.5))
        .orderBy("user_id")),

    // ClickHouse sumMap(event_type, value): per-user per-type cent
    // sums as parallel key-sorted arrays, joined to strings for the
    // cross-engine compare.
    "agg_sum_map" -> ((s, dir) =>
      graft.operators.Aggregates.sumMap(t(s, dir, "events"), "user_id",
        col("event_type"), floor(col("value") * 100 + 0.5))
        .select(col("user_id"),
          array_join(col("map_keys"), ",").as("map_keys"),
          array_join(transform(col("map_sums"), _.cast("string")), ",")
            .as("map_sums"))
        .orderBy("user_id")),

    // ClickHouse groupUniqArray(15): the 15 smallest distinct users
    // per event type (the deterministic max_size reading) — the rank
    // pre-filter rides WindowGroupLimit like agg_group_array_sorted.
    "agg_group_uniq_array" -> ((s, dir) =>
      graft.operators.Aggregates.groupUniqArray(t(s, dir, "events"),
        "event_type", col("user_id"), Some(UniqUpToN))
        .select(col("event_type"),
          array_join(transform(col("uniq_values"), _.cast("string")), ",")
            .as("uniq_users"))
        .orderBy("event_type")),

    // ClickHouse uniqUpTo(15): distinct value deciles per user, 16 as
    // the "more than 15" sentinel — exact semantics (the bounded-state
    // production path is the KMV / uniqCombined sketch tier).
    "agg_uniq_upto" -> ((s, dir) =>
      graft.operators.Aggregates.uniqUpTo(t(s, dir, "events"), "user_id",
        floor(col("value") / 10).cast("int"), UniqUpToN)
        .orderBy("user_id")),

    // ClickHouse argMax/argMin(user_id, value): per event type, the
    // user posting the largest/smallest value — struct-lexicographic
    // MIN/MAX with the event_id tie-break (no window, no collect).
    "agg_arg_minmax" -> ((s, dir) =>
      graft.operators.Aggregates.argMinMax(t(s, dir, "events"),
        "event_type", col("user_id"), col("value"), "event_id")
        .orderBy("event_type")),

    // ClickHouse intervalLengthSum: per user, the union length of
    // [ts, ts + floor(value) hours) activity intervals in µs — the
    // running-max frontier sweep (growing frame, O(n) per key).
    "agg_interval_length_sum" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("__s", unix_micros(col("ts")))
        .withColumn("__e",
          col("__s") + floor(col("value")) * 3600000000L)
      graft.operators.Aggregates.intervalLengthSum(e, "user_id",
        col("__s"), col("__e"))
        .orderBy("user_id")
    }),

    // ClickHouse maxIntersections: max concurrently-open activity
    // intervals per user (same [ts, ts + floor(value) h) intervals) —
    // the ±1 sweep with ends-before-starts tie order.
    "agg_max_intersections" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("__s", unix_micros(col("ts")))
        .withColumn("__e",
          col("__s") + floor(col("value")) * 3600000000L)
      graft.operators.Aggregates.maxIntersections(e, "user_id",
        col("__s"), col("__e"))
        .orderBy("user_id")
    }),

    // ClickHouse groupArrayMovingSum(3): per user, the time-ordered
    // 3-window moving cent sums as a joined string — the sliding frame
    // is incrementally maintained (bounded both sides).
    "agg_moving_sum" -> ((s, dir) =>
      graft.operators.Aggregates.movingSum(t(s, dir, "events"),
        "user_id", "ts", "event_id", floor(col("value") * 100 + 0.5),
        MovingSumW)
        .select(col("user_id"),
          array_join(transform(col("moving_sums"), _.cast("string")), ",")
            .as("moving_sums"))
        .orderBy("user_id")),

    // ClickHouse runningDifference: per-event cent delta vs the
    // previous event of the same user (0 on the first) — row-level
    // lag output.
    "agg_running_difference" -> ((s, dir) =>
      graft.operators.Aggregates.runningDifference(t(s, dir, "events"),
        "user_id", "ts", "event_id", floor(col("value") * 100 + 0.5))
        .select(col("event_id"), col("user_id"), col("running_diff"))
        .orderBy("event_id")),

    // ClickHouse groupArrayMovingAvg(3): the moving sums divided by
    // the FIXED window size (CH divides by W even on the short
    // prefix), prounded doubles compared element-wise via posexplode.
    "agg_moving_avg" -> ((s, dir) =>
      graft.operators.Aggregates.movingAvg(t(s, dir, "events"),
        "user_id", "ts", "event_id", floor(col("value") * 100 + 0.5),
        MovingSumW)
        .select(col("user_id"),
          posexplode(col("moving_avgs")).as(Seq("pos", "mov_avg")))
        .orderBy("user_id", "pos")),

    // ClickHouse sequenceNextNode('forward','first_match'): the event
    // type right after the earliest view→click CONSECUTIVE run in each
    // user's full stream (10/150 fixture users never have one → NULL).
    "seq_next_node" -> ((s, dir) =>
      graft.operators.Aggregates.sequenceNextNode(t(s, dir, "events"),
        "user_id", "ts", "event_id", col("event_type"),
        Seq(col("event_type") === "view", col("event_type") === "click"))
        .orderBy("user_id")),

    // ClickHouse minMap/maxMap: per-user per-type cent min/max as
    // parallel key-sorted arrays — sumMap's siblings.
    "agg_min_max_map" -> ((s, dir) =>
      graft.operators.Aggregates.minMaxMap(t(s, dir, "events"), "user_id",
        col("event_type"), floor(col("value") * 100 + 0.5))
        .select(col("user_id"),
          array_join(col("map_keys"), ",").as("map_keys"),
          array_join(transform(col("map_mins"), _.cast("string")), ",")
            .as("map_mins"),
          array_join(transform(col("map_maxs"), _.cast("string")), ",")
            .as("map_maxs"))
        .orderBy("user_id")),

    // ClickHouse avgWeighted(value, hour+1): hour-of-day-weighted mean
    // cents per event type — exact BIGINT sums, one prounded quotient.
    "agg_avg_weighted" -> ((s, dir) =>
      graft.operators.Aggregates.avgWeighted(t(s, dir, "events"),
        "event_type", floor(col("value") * 100 + 0.5),
        hour(col("ts")).cast("long") + 1)
        .orderBy("event_type")),

    // ClickHouse simpleLinearRegression + corr: cents regressed on
    // hour-of-day per event type — one pass of integer sums, exact
    // difference terms, prounded slope/intercept/corr.
    "agg_linear_fit" -> ((s, dir) =>
      graft.operators.Aggregates.linearFit(t(s, dir, "events"),
        "event_type", hour(col("ts")).cast("long"),
        floor(col("value") * 100 + 0.5))
        .orderBy("event_type")),

    // ClickHouse entropy(event_type) per user: per-term log2 rounded
    // @9 + exact decimal sum (the perplexity discipline).
    "agg_entropy" -> ((s, dir) =>
      graft.operators.Aggregates.entropy(t(s, dir, "events"), "user_id",
        col("event_type"))
        .orderBy("user_id")),

    // ClickHouse stddevPop/skewPop/kurtPop of the value decile per
    // event type — integer raw-moment sums, fixed-order double
    // evaluation, prounded.
    "agg_moments" -> ((s, dir) =>
      graft.operators.Aggregates.moments(t(s, dir, "events"),
        "event_type", floor(col("value") / 10))
        .orderBy("event_type")),

    // ClickHouse -If combinators (countIf/sumIf/avgIf/minIf/maxIf):
    // conditional aggregates in one pass; avgIf from the exact sums,
    // prounded. Query-level composition — the combinator is a
    // filtered-aggregate spelling, not a new operator.
    "agg_if_combinators" -> ((s, dir) => {
      import graft.functions.Rounding.pround
      val cents = floor(col("value") * 100 + 0.5)
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("count_if_view"),
          coalesce(sum(when(col("event_type") === "purchase", cents)),
            lit(0L)).as("sum_if_purchase"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("__np"),
          min(when(col("event_type") === "click", cents))
            .as("min_if_click"),
          max(when(col("event_type") === "click", cents))
            .as("max_if_click"))
        .withColumn("avg_if_purchase",
          when(col("__np") > 0,
            pround(col("sum_if_purchase").cast("double") /
              col("__np").cast("double"), 9)))
        .drop("__np")
        .orderBy("user_id")
    }),

    // ClickHouse boundingRatio: per user, the cents-per-day slope
    // between the first and last observation day — two struct-extreme
    // aggregates, deterministic tie-break on event_id.
    "agg_bounding_ratio" -> ((s, dir) =>
      graft.operators.Aggregates.boundingRatio(t(s, dir, "events"),
        "user_id",
        datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))),
        floor(col("value") * 100 + 0.5), "event_id")
        .orderBy("user_id")),

    // ClickHouse cramersV/contingency: association between event type
    // and 6-hour day segment per ISO week — exact contingency counts,
    // per-term 1e-12 rounding + decimal sum (the klDrift discipline).
    "agg_cramers_v" -> ((s, dir) =>
      graft.operators.Aggregates.categoricalAssociation(
        t(s, dir, "events")
          .withColumn("week", date_trunc("week", col("ts"))),
        "week", col("event_type"),
        floor(hour(col("ts")) / 6).cast("long"))
        .orderBy("week")),

    // ClickHouse sequenceNextNode('backward','first_match'): scan
    // newest→oldest — the most recent view whose immediately-older
    // event is a click; report the event older still. Same window
    // pass over the reversed sort.
    "seq_next_node_backward" -> ((s, dir) =>
      graft.operators.Aggregates.sequenceNextNode(t(s, dir, "events"),
        "user_id", "ts", "event_id", col("event_type"),
        Seq(col("event_type") === "view", col("event_type") === "click"),
        forward = false)
        .orderBy("user_id")),

    // ClickHouse welchTTest: purchase-vs-view cent t statistic + Welch
    // df per user — one pass of conditional integer sums, fixed-order
    // double tail, prounded. (p-value needs the incomplete beta —
    // library-dependent, deliberately not emitted.)
    "agg_welch_t" -> ((s, dir) =>
      graft.operators.Aggregates.welchT(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view")),
        "user_id", col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5))
        .orderBy("user_id")),

    // ClickHouse mannWhitneyUTest: EXACT min(U1,U2) with average tie
    // ranks — doubled-rank integer arithmetic, the only double is the
    // final halving.
    "agg_mann_whitney_u" -> ((s, dir) =>
      graft.operators.Aggregates.mannWhitneyU(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view")),
        "user_id", col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5))
        .orderBy("user_id")),

    // ClickHouse rankCorr: exact Spearman ρ per user — doubled average
    // ranks (integral), DECIMAL(38,0) Pearson sums, the only doubles
    // are two IEEE sqrts and the final prounded division. event_id is
    // tie-free, the cent-quantized value is not — both rank paths
    // exercised.
    "agg_rank_corr" -> ((s, dir) =>
      graft.operators.Aggregates.rankCorr(
        t(s, dir, "events").filter(col("value").isNotNull),
        "user_id", col("event_id"), floor(col("value") * 100 + 0.5))
        .orderBy("user_id")),

    // ClickHouse kolmogorovSmirnovTest: exact two-sample D per user
    // (purchase vs view over the cent-quantized value) — integral ECDF
    // cross-products, sup as DECIMAL(38,0), one double division.
    "agg_ks_test" -> ((s, dir) =>
      graft.operators.Aggregates.ksTest(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view") &&
            col("value").isNotNull),
        "user_id", col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5))
        .orderBy("user_id")),

    // ClickHouse proportionsZTest: pooled two-proportion z per event
    // type (even vs odd user arms, conversion = value > 500) — the
    // A/B rate test beside welchT (means) and mannWhitneyU (ranks).
    "agg_proportions_ztest" -> ((s, dir) =>
      graft.operators.Aggregates.proportionsZTest(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", col("user_id") % 2 === 0, col("value") > 500)
        .orderBy("event_type")),

    // Gini concentration of document length mass per source — the
    // corpus-inequality QA number beside Zipf and KL drift.
    "corpus_gini" -> ((s, dir) =>
      graft.operators.Aggregates.gini(
        t(s, dir, "documents"), "source", col("n_chars"))
        .orderBy("source")),

    // ClickHouse categoricalInformationValue: WoE/IV of the value
    // decile against the purchase outcome per user cohort — the
    // feature-screening number; zero-sided categories NULL, not ±∞.
    "agg_iv_woe" -> ((s, dir) =>
      graft.operators.Aggregates.informationValue(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("cohort", col("user_id") % 5),
        "cohort", floor(col("value") / 100),
        col("event_type") === "purchase")
        .orderBy("cohort", "category")),

    // ClickHouse theilsU: uncertainty coefficient U(event_type | value
    // decile) per user cohort — exact contingency counts, per-term
    // prounded log2 under the entropy discipline.
    "agg_theils_u" -> ((s, dir) =>
      graft.operators.Aggregates.theilsU(
        t(s, dir, "events").filter(col("value").isNotNull)
          .withColumn("cohort", col("user_id") % 10),
        "cohort", col("event_type"), floor(col("value") / 10))
        .orderBy("cohort")),

    // ClickHouse topKWeighted's EXACT semantics (the oracle twin of
    // the MisraGriesWeighted sketch, same convention as the unweighted
    // heavy-hitters row): top 10 terms by total n_chars of their
    // documents — TakeOrdered limit, no global sort materialization.
    "agg_topk_weighted" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"),
          col("n_chars"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(sum(col("n_chars")).as("weight"))
        .orderBy(desc("weight"), asc("term"))
        .limit(10)),

    // ClickHouse histogram(8), deterministic equal-width reading:
    // 8 bins over each event type's value range — bounds broadcast,
    // binned count map-side combinable, prounded edges.
    "agg_histogram" -> ((s, dir) =>
      graft.operators.Aggregates.histogram(t(s, dir, "events"),
        "event_type", col("value"), 8)
        .orderBy("event_type", "bin")),

    // ClickHouse groupBitAnd/Or/Xor of floor(value) per user — the
    // bitwise aggregate trio (map-side combinable in both engines).
    "agg_bit_ops" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), floor(col("value")).as("__v"))
        .groupBy("user_id")
        .agg(expr("bit_and(__v)").as("bits_and"),
          expr("bit_or(__v)").as("bits_or"),
          expr("bit_xor(__v)").as("bits_xor"))
        .orderBy("user_id")),

    // ClickHouse uniqCombined's shape: distinct users per event type —
    // every fixture group sits below the m=256 sparse threshold, so
    // the estimate is EXACT (mode 'sparse'), the CH
    // exact-set-below-threshold behavior; the register-max mergeable
    // twin of sketch_kmv_estimate.
    "sketch_hll_estimate" -> ((s, dir) =>
      graft.operators.Profile.hllEstimate(t(s, dir, "events"),
        "event_type", col("user_id"))
        .orderBy("event_type")),

    // The dense half of the uniqCombined switch: distinct EVENT ids
    // per type (~2k ≫ 256) force every group through the register
    // estimator (mode 'dense') — keeps the harmonic-sum math
    // oracle-covered now that the sparse row is exact.
    "sketch_hll_dense" -> ((s, dir) =>
      graft.operators.Profile.hllEstimate(t(s, dir, "events"),
        "event_type", col("event_id"))
        .orderBy("event_type")),

    // Sketch ALGEBRA: pairwise vocabulary overlap between sources via
    // HLL inclusion–exclusion (est_a + est_b − est_union, union =
    // register-wise max — no second data pass), with the exact
    // term-join overlap beside it so the sketch error is itself
    // oracle-checked.
    "sketch_hll_overlap" -> ((s, dir) => {
      import graft.functions.Rounding.pround
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val est = graft.operators.Profile.hllOverlapMatrix(
        terms, "source", col("term"))
      val dt = terms.select(col("source").as("g"), col("term").as("v"))
        .distinct()
      val ex = dt.as("x")
        .join(dt.as("y"),
          col("x.v") === col("y.v") && col("x.g") < col("y.g"))
        .groupBy(col("x.g").as("g1"), col("y.g").as("g2"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(ex, Seq("g1", "g2"), "left")
        .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
        .withColumn("rel_err",
          when(col("n_exact") > 0,
            pround(abs(col("overlap_est") - col("n_exact")) /
              col("n_exact").cast("double"), 6))
            .otherwise(lit(0.0)))
        .orderBy("g1", "g2")
    }),

    // Daily PSI of the value distribution vs the whole table: the
    // numeric-feature drift meter (p/q binned shares, eps-floored,
    // Σ(p−q)·ln(p/q)) — flags the day a feed's value distribution
    // broke, where the rate-anomaly row only sees volume.
    "dq_psi_daily" -> ((s, dir) =>
      Profile.psi(t(s, dir, "events"),
        date_trunc("day", col("ts")).as("period"), "value", PsiEdges)
        .orderBy("period")),

    // Embedding centroid drift: per-label quantized-centroid cosine
    // against the corpus centroid — the embedding-space twin of
    // mix_kl_drift (an encoder change or poisoned shard moves a
    // centroid long before token-level KL notices).
    "emb_centroid_drift" -> ((s, dir) =>
      Profile.centroidDrift(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label")),

    // Multi-epoch token-budget allocation: temperature-τ target mix
    // capped at maxEpochs passes over each source, shortfall reported
    // per source — the data-mixing config computed as a query.
    "mix_epoch_plan" -> ((s, dir) => {
      val mix = t(s, dir, "documents").groupBy("source")
        .agg(sum(col("n_chars")).cast("long").as("n_tokens"))
      Profile.epochPlan(mix, "source", "n_tokens",
        tau = EpochTau, budgetTokens = EpochBudget, maxEpochs = EpochCap)
        .orderBy("source")
    }),

    // Bad-record quarantine: JSON payload rows route to ok/quarantine
    // by whether the required field parses — three malformed payloads
    // are planted (broken JSON, non-JSON, wrong shape) so the
    // quarantine side is exercised, not just declared.
    "dq_json_quarantine" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (-1L, "{broken"),
        (-2L, "not json at all"),
        (-3L, """{"other": 1}"""))).toDF("event_id", "props")
      val src = t(s, dir, "events").select("event_id", "props")
        .unionByName(planted)
      graft.operators.Quality.jsonQuarantine(src, "props", "k")
        .select("event_id", "k", "status").orderBy("event_id")
    }),

    // The skew-salting lever, oracle-checked: the salted equi-join must
    // be row-for-row identical to the plain join it replaces (the salt
    // only respreads hot keys across reducers).
    "join_salted" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      graft.operators.Skew.saltedJoin(o, c, "o_custkey", "c_custkey", 8)
        .select("o_orderkey", "o_custkey", "c_name")
        .orderBy("o_orderkey")
    }),

    "text_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      val tot = toks.agg(count(lit(1)).cast("double").as("total"))
      val share = graft.functions.Rounding.pround(
        col("n").cast("double") / col("total"), 6)
      toks.groupBy("term").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share", share)
        .filter(col("share") >= 0.005)
        .select("term", "n", "share")
        .orderBy(col("n").desc, col("term"))
    }),

    // Normalization: lowercase, strip non-alphanumerics, squeeze spaces —
    // the canonical pre-dedup cleanup pass.
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
        .orderBy("doc_id")),

    // Feature-hashed document embeddings (hashing trick): the
    // text→vector bridge with zero trained state. Exploded to scalar
    // rows (doc, dim, weight) because the gate compares scalar cells.
    "text_hash_embedding" -> ((s, dir) =>
      TextEmbedding.hashedEmbeddings(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", HashDim)
        .select(col("doc_id"), posexplode(col("vec")))
        .select(col("doc_id"), col("pos").cast("long").as("dim_idx"),
          col("col").as("weight"))
        .orderBy("doc_id", "dim_idx")),

    // Text similarity search with no model: hash both sides, exact
    // cosine top-k — the raw-text twin of ann_brute_topk.
    "text_hash_ann" -> ((s, dir) =>
      TextEmbedding.hashedTopK(t(s, dir, "documents"),
        "doc_id", "text", col("doc_id") < 5, 5, HashDim)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    // Trained-classifier corpus scoring (fastText/CCNet-style quality
    // filter) with FIXED dyadic weights so the whole inference path —
    // hashed features → fused-dot logit → rounded verdict — is
    // hash-matched. Training itself is iterative driver state (like
    // KMeans) and is pinned by ClassifierSpec instead.
    "text_lr_score" -> ((s, dir) =>
      Classifier.score(
        TextEmbedding.hashedEmbeddings(t(s, dir, "documents"),
          "doc_id", "text", HashDim),
        "doc_id", "vec", LrFixedModel)
        .orderBy("doc_id")),

    // PageRank link authority over the bidirected customer↔supplier
    // purchase graph (node ids disjointly encoded as 2·cust / 2·supp+1).
    // Fixed 5-iteration run; per-edge contributions quantize to
    // DECIMAL(28,14) before the incoming sum so the reduction is
    // order-independent and the unrolled-CTE DuckDB replica
    // hash-matches every rank.
    "graph_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.pageRank(Graph.undirect(pairs, "src", "dst"), "src", "dst",
        iters = PageRankIters, damping = PageRankDamping)
        .orderBy("id")
    }),

    // Personalized PageRank from a trusted seed set (high-balance
    // customers): teleport mass returns to the seeds, so rank is link
    // proximity to the trusted region — the TrustRank-style
    // topic-conditioned crawl prior. Same quantized fixed-iteration
    // loop, same unrolled-CTE replica discipline.
    "graph_pagerank_personalized" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_acctbal") > 9000.0)
        .select((col("c_custkey") * 2).as("id"))
      Graph.personalizedPageRank(Graph.undirect(pairs, "src", "dst"),
        "src", "dst", seeds, iters = PageRankIters,
        damping = PageRankDamping)
        .orderBy("id")
    }),

    // HITS over the DIRECTED customer→supplier purchase graph: hub
    // mass scores buyers by the authority of who they buy from,
    // authority mass scores suppliers by the hubness of their buyers.
    // Integer-10⁻¹²-unit quantization after each L1 normalization
    // keeps the fixed 4-iteration run bit-identical to the
    // unrolled-CTE DuckDB replica.
    "graph_hits" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.hits(pairs, "src", "dst", iters = HitsIters)
        .orderBy("id")
    }),

    // Leakage-safe split: train/val/test keyed on the duplicate-
    // cluster id, so near-duplicate documents can never straddle an
    // eval boundary — the contamination path a doc-id split leaves
    // open through every surviving near-dup.
    "corpus_split_leakage_safe" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        ShingleN, Bands, RowsPerBand)
      graft.operators.Sampling
        .leakageSafeSplit(d, "doc_id", pairs, 16, 32)
        .orderBy("doc_id")
    }),

    // Embedding clustering with zero trained state: mutual-kNN edges
    // (each endpoint in the other's cosine top-k) → connected
    // components. Bounded slice so the DuckDB replica's quadratic
    // scoring stays cheap; at corpus scale the kNN front-end is the
    // stored ANN index (same output shape), everything downstream is
    // candidate-bounded.
    "emb_knn_clusters" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < KnnSlice)
      Graph.knnClusters(sub, "vec_id", "embedding", k = KnnK)
        .select(col("id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),

    // Lloyd k-means with pinned init (the SemCents dyadic rows) and a
    // pinned iteration count: the one trained-model step the stored-
    // index oracles previously had to treat as opaque, made fully
    // hash-checkable — integer-1e-8-unit centroid means keep every
    // assign/update round bit-identical to the unrolled replica.
    "emb_kmeans_fixed" -> ((s, dir) =>
      Kmeans.lloydFixed(t(s, dir, "embeddings"), "vec_id", "embedding",
          SemCents, KmeansIters)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")),

    // Neighborhood cliquishness: per-node triangles + local clustering
    // coefficient on the mutual-kNN graph (degree ≤ k keeps the wedge
    // join linear). The density QA next to the silhouette score.
    "graph_triangles" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < KnnSlice)
      Graph.triangles(
        Graph.mutualKnnEdges(sub, "vec_id", "embedding", KnnK))
        .orderBy("id")
    }),

    // Cluster-quality QA: per-vector silhouette of the mutual-kNN
    // clustering on the same slice — the numeric gate a pipeline
    // checks before trusting cluster-level decisions downstream.
    "emb_cluster_silhouette" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < KnnSlice)
      val labels = Graph.knnClusters(sub, "vec_id", "embedding", k = KnnK)
      Graph.silhouette(sub, "vec_id", "embedding", labels)
        .select(col("id").as("vec_id"), col("cluster_id"), col("sil"))
        .orderBy("vec_id")
    }),

    // Sampled silhouette pinned in its FULL-COVERAGE regime (perCluster
    // ≥ every cluster size ⇒ the estimator degenerates to the exact
    // metric — the KMV-exactness convention): proves the O(n·sample)
    // scale path computes the same statistic the quadratic diagnostic
    // does. GraphSpec separately bounds the estimator error at a
    // genuinely small perCluster.
    "emb_silhouette_sampled" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < KnnSlice)
      val labels = Graph.knnClusters(sub, "vec_id", "embedding", k = KnnK)
      Graph.silhouetteSampled(sub, "vec_id", "embedding", labels,
        perCluster = KnnSlice)
        .select(col("id").as("vec_id"), col("cluster_id"), col("sil"))
        .orderBy("vec_id")
    }),

    // Retrieval/RAG-style sliding-window chunking: one row per
    // overlapping 64-word window (stride 48 → 16 words of shared
    // context). Pure array codegen + posexplode — the shape that turns
    // a 100 TB corpus into retrieval units without a UDF or shuffle.
    "text_chunking" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(TextFunctions.slidingChunks(col("text"), ChunkN,
          ChunkStride)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
          col("col").as("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    // Corpus statistics: exact interpolated length percentiles per
    // language (both engines use linear interpolation on sorted values).
    "doc_len_percentiles" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"))
        .orderBy("lang")),

    // ClickHouse quantileExactWeighted: token-weighted length
    // quantiles per lang — the doc length holding 25/50/90% of the
    // TOKENS (cost-weighted, where doc_len_percentiles is count-
    // weighted).
    "doc_len_weighted_percentiles" -> ((s, dir) =>
      graft.operators.Profile.weightedQuantiles(
        t(s, dir, "documents").withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text"))),
        "lang", "n_chars", "n_tokens", Seq(0.25, 0.5, 0.9))
        .orderBy("lang")),

    // Embedding column statistics: per-label counts and mean L2 norm.
    "emb_stats" -> ((s, dir) =>
      t(s, dir, "embeddings").groupBy("label")
        .agg(count(lit(1)).as("n"),
          graft.functions.Rounding.pround(
            avg(Similarity.l2Norm(col("embedding"))), 6).as("avg_norm"))
        .orderBy("label")),

    // Data-quality profile of the events table: per-column completeness
    // and cardinality in one scan.
    "dq_profile_events" -> ((s, dir) =>
      graft.operators.Profile.profile(
        t(s, dir, "events").select("event_id", "user_id", "event_type", "value"))
        .orderBy("column_name")),

    // Deterministic hash-gated sampling: reproducible across runs,
    // engines and partitionings — the holdout-split primitive.
    "sample_deterministic" -> ((s, dir) =>
      graft.operators.Sampling.deterministicSample(
        t(s, dir, "documents"), "doc_id", 64)
        .select("doc_id", "lang").orderBy("doc_id")),

    // Stratified sampling: rebalance the language mix (keep all 'de',
    // half 'en', none of the rest) — deterministic per-stratum gates.
    "sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("de" -> 256, "en" -> 128))
        .select("doc_id", "lang").orderBy("doc_id")),

    // Weighted sampling without replacement (derandomized exponential
    // keys): char-length-proportional document draws — the mixture-
    // sampling primitive. Top-50 priorities u^(1/w), u md5-derived.
    "sample_weighted" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id", "n_chars", 50, "mix1")
        .select("doc_id", "n_chars", "priority")
        .orderBy(col("priority").desc, col("doc_id"))),

    // BM25 top-k retrieval through the inverted term index; docs with
    // doc_id < 25 play the queries (the text_topk_similar convention).
    "text_bm25_topk" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", col("doc_id") < 25, 3)
        .orderBy("query_id", "rank")),

    // Same retrieval against the STORED index: postings + term stats
    // are built once as bucketed tables and the query path never
    // re-tokenizes the corpus (PlanAuditSpec pins it); identical
    // results — the oracle row is the direct form's SQL verbatim.
    "text_bm25_indexed" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      if (!s.catalog.tableExists("graft_bm25_postings"))
        buildBm25Index(s, dir)
      graft.operators.Retrieval.bm25TopKFromIndex(s, "graft_bm25_postings",
        graft.operators.Retrieval.queryTerms(d, "doc_id", "text",
          col("doc_id") < 25), 3)
        .orderBy("query_id", "rank")
    }),

    // Hybrid retrieval: the sparse (BM25) and dense (hashed-embedding
    // cosine) rankers fused by reciprocal rank — the standard RAG
    // retrieval combiner; needs no cross-system score calibration.
    "hybrid_rrf_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sparse = graft.operators.Retrieval.bm25TopK(d, "doc_id", "text",
        col("doc_id") < 25, 10)
      val dense = TextEmbedding.hashedTopK(d, "doc_id", "text",
        col("doc_id") < 25, 10, HashDim)
      graft.operators.Retrieval.rrfFuse(sparse, dense, 5)
        .orderBy("query_id", "rank")
    }),

    // DSIR (Xie et al. 2023): per-doc log importance weight of every
    // document under a target-domain (lang='en') vs raw bag-of-hashed-
    // ngrams model — the "which crawl pages look like the quality
    // domain" scorer. Both models, the md5 bucketing, the 9-digit ln
    // rounding, and the decimal sums replicate in DuckDB.
    "dsir_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dsir.importanceWeights(d, "doc_id", "text",
        d.filter(col("lang") === "en"), DsirDim)
        .orderBy("doc_id")
    }),

    // The paper's selection step: Gumbel top-n over the importance
    // weights — a without-replacement draw ∝ w(x), derandomized via
    // the md5 uniform so both engines draw the identical sample.
    "dsir_resample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dsir.resample(d, "doc_id", "text",
        d.filter(col("lang") === "en"), DsirDim, DsirN, DsirSeed)
        .orderBy(col("key").desc, col("doc_id"))
    }),

    // Deterministic arg-max per group (longest doc per language,
    // ties -> smallest id).
    "agg_argmax_doc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mx = d.groupBy(col("lang").as("mlang"))
        .agg(max("n_chars").as("max_chars"))
      d.join(mx, d("lang") === col("mlang") && d("n_chars") === col("max_chars"))
        .groupBy(col("lang"), col("max_chars"))
        .agg(min("doc_id").as("doc_id"))
        .orderBy("lang")
    }),

    // --- deduplication ------------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, 0.5).orderBy("id_a", "id_b")),

    // Asymmetric containment: catches a short doc quoted inside a long
    // one, where Jaccard dilutes to ~0. Either direction clearing the
    // threshold keeps the pair; c_a vs c_b names the contained side.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, 0.6).orderBy("id_a", "id_b")),

    // Signature-fidelity QA: MinHash-estimated vs exact Jaccard per
    // LSH candidate pair, with the absolute error — the number that
    // justifies the bands×rows choice (the dedup twin of recall@k).
    "dedup_minhash_est_error" -> ((s, dir) =>
      Dedup.minHashEstimateError(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, Bands, RowsPerBand).orderBy("id_a", "id_b")),

    // Corpus-level novelty: fraction of each doc's shingles seen
    // nowhere else — flags templated text below any pairwise threshold.
    "text_ngram_novelty" -> ((s, dir) =>
      Dedup.ngramNovelty(t(s, dir, "documents"), "doc_id", "text",
        ShingleN).orderBy("doc_id")),

    // Gibberish/encoding-noise detector: codepoint-distribution
    // Shannon entropy per doc, one codegen'd pass per row (no char
    // explode on the Spark side — the replica explodes, the engine
    // doesn't). Base64/mojibake ≫ prose ≫ padding.
    "text_char_entropy" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        graft.functions.Rounding.pround(
          graft.functions.CharEntropyFn.column(col("text")), 6)
          .as("entropy"))
        .orderBy("doc_id")),

    // Mixture drift QA: KL(lang ‖ corpus) over token unigrams, the
    // number that flags a source whose distribution wandered from the
    // blend. Same pround(9)-log → decimal-sum discipline as perplexity.
    "mix_kl_drift" -> ((s, dir) =>
      Profile.klDrift(t(s, dir, "documents"), "lang", "text")
        .orderBy("lang")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, Bands, RowsPerBand).orderBy("id_a", "id_b")),

    // The candidate→verify composition: LSH proposes, exact Jaccard
    // confirms.
    "dedup_minhash_verified" -> ((s, dir) =>
      Dedup.minHashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, Bands, RowsPerBand, 0.5).orderBy("id_a", "id_b")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")),

    // Incremental LSH against a STORED corpus index: docs with
    // doc_id % 4 == 0 arrive as the "new" batch. The existing corpus'
    // signatures are computed once "at ingest", persisted as a bucketed
    // table (graft.sources.IO.writeBucketedTable — the physical index),
    // and read back for the join — the plan never re-shingles the
    // existing corpus, only the new batch (PlanAuditSpec pins this).
    // Per batch: |new| signature computations + a new×all band join.
    "dedup_minhash_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      if (!s.catalog.tableExists("graft_sig_index"))
        buildSigIndex(s, dir)
      val existing = s.table("graft_sig_index")
      val newSigs = Dedup.minHashSignatures(d.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", ShingleN, Bands * RowsPerBand)
      Dedup.minHashLshPairsIncremental(existing, newSigs,
        "doc_id", Bands, RowsPerBand)
        .orderBy("id_a", "id_b")
    }),

    // Pair detection → duplicate clusters → one canonical doc (min id)
    // per cluster with its member count; singletons stay their own
    // cluster, so this is the full "deduplicated corpus" manifest.
    // Runs the EXPLICIT propagation opt-in (the library default is now
    // the alternating-star path, covered by the row below) so both
    // component algorithms keep an oracle row without timing the same
    // computation twice.
    "dedup_cluster_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        ShingleN, Bands, RowsPerBand)
      DedupCluster.canonicalizePropagation(d, "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // Same manifest via ALTERNATING star contraction — the default
    // `canonicalize` path: O(log n)-round connected components,
    // diameter-independent (labels are the component minima either
    // way, so the recursive-CTE oracle is shared verbatim with
    // dedup_cluster_canonical).
    "dedup_cluster_alternating" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        ShingleN, Bands, RowsPerBand)
      DedupCluster.canonicalize(d, "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // Cross-source duplication matrix over the LSH near-dup pairs:
    // (source_a, source_b) → pair count. The off-diagonal cells are
    // inter-source republication (the "CommonCrawl contains Wikipedia"
    // number); the diagonal is per-source internal duplication.
    "dedup_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        ShingleN, Bands, RowsPerBand)
      Dedup.sourceOverlap(pairs, d, "doc_id", "source")
        .orderBy("source_a", "source_b")
    }),

    // Cross-modal join: text-quality features next to embedding-norm
    // features for the same document id.
    "cross_modal_features" -> ((s, dir) =>
      t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          graft.functions.Rounding.pround(
            Similarity.l2Norm(col("embedding")), 6).as("norm"),
          col("label"))
        .orderBy("doc_id")),

    // Edit-distance verification of LSH candidates: integer Levenshtein
    // over only the candidate pairs (never all-pairs — the quadratic
    // scan is bounded by the candidate count).
    "dedup_edit_distance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cand = Dedup.minHashLshPairs(d, "doc_id", "text",
        ShingleN, Bands, RowsPerBand)
      cand
        .join(d.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
        .orderBy("id_a", "id_b")
    }),

    // Text top-k similarity join: 3 nearest documents by n-gram Jaccard
    // for each query doc, via the inverted shingle index.
    "text_topk_similar" -> ((s, dir) =>
      Dedup.jaccardTopK(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, 3, col("doc_id") < 25)
        .orderBy("query_id", "rank")),

    // Eval-set contamination: docs with doc_id % 20 == 0 play the held-out
    // benchmark; training docs containing >= 20% of an eval doc's
    // shingles are flagged. Containment, not Jaccard — a short eval item
    // inside a long page is still contamination.
    "contamination_overlap" -> ((s, dir) =>
      Contamination.overlap(t(s, dir, "documents"), "doc_id", "text",
        ShingleN, col("doc_id") % 20 === 0, 0.2)
        .orderBy("eval_id", "train_id")),

    // Same detection through the broadcast-bloom corpus prefilter: the
    // filter has no false negatives, so the result is IDENTICAL to
    // contamination_overlap (shared oracle row proves it) while the
    // exact join only ever sees the few documents that might collide.
    "contamination_prefiltered" -> ((s, dir) =>
      Contamination.overlapPrefiltered(t(s, dir, "documents"), "doc_id",
        "text", ShingleN, col("doc_id") % 20 === 0, 0.2)
        .orderBy("eval_id", "train_id")),

    // Detect → remove: the decontaminated training corpus — training
    // docs minus those flagged against the eval set (eval rows are not
    // training data and are excluded by definition).
    "decontaminated_corpus" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val flagged = Contamination.overlap(d, "doc_id", "text",
        ShingleN, col("doc_id") % 20 === 0, 0.2)
        .select(col("train_id").as("doc_id")).distinct()
      d.filter(col("doc_id") % 20 =!= 0)
        .join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // PII scrubbing: deterministic synthetic contact block appended per
    // doc (the fixture corpus carries no PII), then the email/IP/phone
    // scrub — the oracle applies the identical regex pipeline.
    "text_pii_scrub" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.scrubPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10.0."),
          (col("doc_id") % 200).cast("string"),
          lit(".7 or call +1 555 010 "),
          (col("doc_id") % 90 + 10).cast("string"))).as("clean"))
        .orderBy("doc_id")),

    // Gopher-style repetition features: repeated-word and repeated-bigram
    // ratios per document.
    "text_repetition" -> ((s, dir) =>
      // fanOut: three heavy per-row HOF features over the scan — the
      // gopherRules shape (guide §2.5, single-row-group input)
      graft.operators.Par.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_words"),
          TextFunctions.dupWordRatio(col("text")).as("dup_word_ratio"),
          TextFunctions.dupNgramRatio(col("text"), 2).as("dup_bigram_ratio"))
        .orderBy("doc_id")),

    // Token-budget packing: concatenate-then-chunk sequence assignment
    // per language group at a 2048-token budget.
    "seq_pack_bins" -> ((s, dir) =>
      Packing.packBins(t(s, dir, "documents"), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), 2048)
        .orderBy("doc_id")),

    // Mixture planning: token share per language + the uniform-mix
    // sampling weight.
    "corpus_mix_summary" -> ((s, dir) =>
      Profile.mixSummary(t(s, dir, "documents"), "lang",
        TextFunctions.tokenCount(col("text")))
        .orderBy("lang")),

    // Temperature-flattened mixture: τ=0.5 target probabilities and the
    // single-pass keep-rates that realize them.
    "mix_temperature_rates" -> ((s, dir) =>
      Profile.temperatureRates(
        Profile.mixSummary(t(s, dir, "documents"), "lang",
          TextFunctions.tokenCount(col("text")))
          .select("lang", "n_tokens"),
        "lang", "n_tokens", tau = 0.5)
        .orderBy("lang")),

    // Per-source quantile normalization: length scores rank-mapped to
    // [0,1] within each source (average ranks for ties) so ONE global
    // threshold keeps comparable fractions of every source.
    "mix_quantile_norm" -> ((s, dir) =>
      Profile.quantileNorm(
        t(s, dir, "documents").filter(col("n_chars").isNotNull),
        "source", "n_chars", "doc_id")
        .orderBy("doc_id")),

    // Benford first-digit QA: leading-digit shares of the integral
    // event value vs Benford's law with per-digit χ² terms — the
    // fabricated/templated-numbers detector. All 9 digits per key.
    "dq_benford" -> ((s, dir) =>
      Profile.benford(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", floor(col("value")))
        .orderBy("event_type", "digit")),

    // Pairwise Jensen–Shannon matrix over source unigram
    // distributions — which sources duplicate each other (merge
    // candidates) vs genuinely extend coverage.
    "mix_js_matrix" -> ((s, dir) =>
      Profile.jsDivergenceMatrix(t(s, dir, "documents"), "source",
        explode(TextFunctions.tokens(col("text"))))
        .orderBy("g1", "g2")),

    // CUSUM drift detector: per event type over time, the cumulative
    // statistic for sustained small shifts in the cent-quantized
    // value (allowance = 60000 cents ≈ the fixture's mean level) —
    // fires where a per-point z never would. Two growing-frame
    // windows, zero sequential work.
    "dq_cusum_drift" -> ((s, dir) =>
      Profile.cusum(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", "ts", "event_id",
        floor(col("value") * 100 + 0.5), allowance = 60000L,
        threshold = 5000000L)
        .orderBy("event_type", "ts", "event_id")),

    // ε-DP count release: per-(lang, source) counts with seeded
    // Laplace(1/ε) noise — the publishable data-card aggregate beside
    // the k-anonymity row gate. Deterministic by md5-seeded inverse
    // CDF; ln prounded per the repo discipline.
    "dq_dp_release" -> ((s, dir) =>
      Profile.dpNoisyCounts(t(s, dir, "documents"),
        Seq("lang", "source"), epsilon = 1.0)
        .orderBy("lang", "source")),

    // Quality-curriculum mixture: documents binned by quality score
    // (fixed edges standing in for sketch-derived percentiles), per-bin
    // mass + τ-flattened keep rates — downsample the junk bins, keep
    // the top bins whole. Map-side CASE binning, no global ntile sort.
    "corpus_quality_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val mix = Profile.scoreBinnedMix(d,
        TextFunctions.qualityScore(col("text")),
        Seq(0.45, 0.6, 0.75), TextFunctions.tokenCount(col("text")))
      Profile.temperatureRates(mix, "bin", "n_tokens", tau = 0.5)
        .join(mix.select(col("bin"), col("n_docs")), Seq("bin"))
        .select("bin", "n_docs", "n_tokens", "share", "p_tau", "keep_rate")
        .orderBy("bin")
    }),

    // Three-way train/val/test assignment (6.25% val, 12.5% test) from
    // one md5 byte — membership-stable as the corpus grows.
    "corpus_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.operators.Sampling.splitLabel(col("doc_id"), 16, 32).as("split"))
        .orderBy("doc_id")),

    // The composed C4/Gopher cleaning pass: every signal in one scan,
    // first-failing-check verdict per document.
    "corpus_quality_verdict" -> ((s, dir) =>
      graft.operators.Quality.verdict(t(s, dir, "documents"), "doc_id",
        "text", graft.operators.Quality.Thresholds(
          minTokens = 15, maxTokens = 90,
          allowedLangs = Seq("en", "de", "es", "fr"),
          minQuality = 0.55, maxDupWordRatio = 0.68))
        .orderBy("doc_id")),

    // The same composed pass with the C4 bad-words gate ARMED: any
    // blocklist phrase (one Aho–Corasick pass) rejects the doc with
    // verdict 'blocked' ahead of the quality checks. Same thresholds
    // as corpus_quality_verdict, so the diff between the two rows IS
    // the gate's effect.
    "corpus_blocklist_verdict" -> ((s, dir) =>
      graft.operators.Quality.verdict(t(s, dir, "documents"), "doc_id",
        "text", graft.operators.Quality.Thresholds(
          minTokens = 15, maxTokens = 90,
          allowedLangs = Seq("en", "de", "es", "fr"),
          minQuality = 0.55, maxDupWordRatio = 0.68,
          blockedPhrases = Blocklist))
        .orderBy("doc_id")),

    // Line-level (CCNet-style) dedup: 10-word chunks recurring in > 2
    // distinct docs are boilerplate, stripped from every doc; docs are
    // reassembled from their surviving chunks in position order.
    "line_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.LineDedup.dedupLines(d, "doc_id",
        TextFunctions.wordChunks(col("text"), 10), maxDocs = 2)
        .orderBy("doc_id")
    }),

    // Exact duplicated-substring spans (suffix-dedup at word-8-gram
    // granularity): maximal verbatim runs occurring more than once
    // corpus-wide, first occurrence exempt.
    "span_dedup_spans" -> ((s, dir) =>
      graft.operators.SpanDedup.dupSpans(
        t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id", "span_start")),

    // The excised corpus: duplicated spans removed from every doc but
    // the globally-first occurrence; span-free docs pass verbatim.
    "span_dedup_clean" -> ((s, dir) =>
      graft.operators.SpanDedup.removeDupSpans(
        t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")),

    // Shuffle-then-pack: documents laid out in seeded pseudo-random
    // order (md5 shuffle key) before token-budget chunking.
    "seq_pack_shuffled" -> ((s, dir) =>
      Packing.packBins(t(s, dir, "documents"), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), 2048,
        Seq(graft.operators.Sampling.shuffleKey(col("doc_id"), "s42"),
          col("doc_id")))
        .orderBy("doc_id")),

    // --- similarity search --------------------------------------------
    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // Hard-negative mining (DPR/SimCSE data prep): per anchor, the
    // AnnK most-similar candidates with a DIFFERENT label — the
    // negatives a contrastive loss actually learns from. Brute contract
    // + null-safe label-mismatch gate.
    "ann_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativesTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", AnnK)
        .orderBy("query_id", "rank")
    }),

    // MMR diversity re-rank (Carbonell & Goldstein): greedy
    // λ·rel − (1−λ)·max-sim-to-selected over a 20-deep brute
    // shortlist; pick order is part of the contract — the oracle
    // replays the greedy loop as unrolled per-pick CTEs.
    "ann_mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, 0.7, 20)
        .orderBy("query_id", "pick")
    }),

    // Same contract as ann_brute_topk but scored by the fused native
    // Catalyst expression (one array pass, whole-stage codegen) instead
    // of the three-pass HOF formulation; same oracle — bit-equal scores.
    "ann_brute_topk_native" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK,
        (a, b) => graft.functions.Rounding.pround(
          graft.functions.CosineSimilarity.column(a, b), 6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, LshBits)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SQ8 scalar-quantized ANN: per-dim min/max train → affine 8-bit
    // encode → ADC shortlist → exact re-rank. Unlike PQ there is no
    // KMeans anywhere, so the WHOLE arc — training included — is
    // hash-matched against the DuckDB replica.
    "ann_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // PCA training's distributed half: the d(d+1)/2 upper-triangle
    // second-moment table (per-term 9-digit rounding, decimal-exact
    // sums). The driver-side eigensolve consumes exactly these cells.
    "emb_pca_gram" -> ((s, dir) =>
      graft.operators.Pca.gram(t(s, dir, "embeddings"), "vec_id",
        "embedding")
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("gram"), col("n"))
        .orderBy("i", "j")),

    // PCA apply with FIXED loadings (the SemCents dyadic rows): one
    // fused dot product per component, exploded to scalar rows so the
    // projection arithmetic itself is hash-matched.
    "emb_pca_project" -> ((s, dir) =>
      graft.operators.Pca.project(t(s, dir, "embeddings"), "vec_id",
        "embedding", SemCents.map(_.map(_.toDouble)))
        .select(col("vec_id"), posexplode(col("vec")))
        .toDF("vec_id", "dim", "value")
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("value"))
        .orderBy("vec_id", "dim")),

    // Robust per-dim standardization (median/MAD): the prep pass
    // before quantization when embedding dims are heavy-tailed — a
    // min/max affine grid spends its code range on one outlier, the
    // 50%-breakdown pair doesn't. Long format for the oracle.
    "emb_robust_scale" -> ((s, dir) =>
      graft.operators.Pca.robustScale(t(s, dir, "embeddings"),
        "vec_id", "embedding")
        .orderBy("vec_id", "dim")),

    // Matryoshka two-stage ANN: leading-16-dim L2 prefilter over the
    // whole corpus, exact full-dim re-rank of the k·overquery
    // shortlist — no trained state, so the whole arc hash-matches.
    "ann_matryoshka_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRerankTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, dPrefix = 16,
        overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // Johnson–Lindenstrauss two-stage ANN: seeded ±1/√k sign projection
    // (Achlioptas) as the stage-1 metric — the data-INDEPENDENT
    // prefilter rung (matryoshka needs MRL-trained embeddings, PCA a
    // gram pass; JL works on any embedding column with zero trained
    // state), exact full-dim re-rank. Dyadic matrix entries, so the
    // whole arc hash-matches.
    "ann_jl_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.jlRerankTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, JlSigns, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // The stored form of the same projection: per-vector k-dim JL
    // coordinates (rounded at 6), exploded to scalar rows — the
    // projection arithmetic itself is hash-matched, mirroring
    // emb_pca_project.
    "emb_jl_project" -> ((s, dir) =>
      graft.operators.Pca.project(t(s, dir, "embeddings"), "vec_id",
        "embedding", JlSigns)
        .select(col("vec_id"), posexplode(col("vec")))
        .toDF("vec_id", "dim", "value")
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("value"))
        .orderBy("vec_id", "dim")),

    // JL lemma QA: per-pair ratio of projected to exact L2² over a
    // deterministic pair sample — the empirical distortion the
    // prefilter actually pays at k=16 (E[ratio]=1, spread ~√(2/k)).
    "emb_jl_distortion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 32)
      val proj = graft.operators.Pca.project(emb, "vec_id", "embedding",
        JlSigns)
      val withP = emb.join(proj, "vec_id")
      val a = withP.select(col("vec_id").as("vec_a"),
        col("embedding").as("av"), col("vec").as("ap"))
      val b = withP.select(col("vec_id").as("vec_b"),
        col("embedding").as("bv"), col("vec").as("bp"))
      val d2 = graft.functions.Rounding.pround(
        graft.functions.VectorExprs.l2DistSq(col("av"), col("bv")), 6)
      val d2p = graft.functions.Rounding.pround(
        graft.functions.VectorExprs.l2DistSq(col("ap"), col("bp")), 6)
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .withColumn("d2", d2).withColumn("d2_jl", d2p)
        .withColumn("ratio", when(col("d2") > 0,
          graft.functions.Rounding.pround(col("d2_jl") / col("d2"), 6)))
        .select("vec_a", "vec_b", "d2", "d2_jl", "ratio")
        .orderBy("vec_a", "vec_b")
    }),

    // Binary (sign) quantization ANN: packed sign-bit codes (1 bit/dim,
    // 32× below float32), Hamming shortlist, exact cosine re-rank.
    // Zero trained state, so the WHOLE arc — pack, Hamming ordering,
    // shortlist cut, re-rank — hash-matches the DuckDB replica (which
    // counts sign disagreements dimension-wise; packed ≡ naive is
    // pinned in SimilaritySpec).
    "ann_binary_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.binaryHammingTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // The full IVF-SQ8 composition with fixed coarse cells: cells
    // bound candidates, 8-bit scalar codes bound bytes, exact re-rank
    // restores precision — and with the cells fixed the whole path
    // including SQ8 training is hash-matched.
    "ann_ivf_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfSq8TopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, SemCents, nprobe = FixedNprobe,
        overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // PQ encode + ADC scoring with FIXED hand-set codebooks (no KMeans)
    // so the quantization arithmetic itself gets a hash-matched oracle
    // row — the trained paths (pqTrain/ivfPqTopK) are recall-tested in
    // SimilaritySpec, but this pins the encode argmin and ADC distance
    // math exactly. The oracle SQL is generated from the same codebook
    // constants below.
    "pq_adc_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", PqBooks)
      Similarity.pqTopK(enc, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", AnnK, PqBooks)
        .orderBy("query_id", "rank")
    }),

    // PQ quantization-error QA: ADC of each vector against its OWN
    // codes = Σ_j min_c ||x_j − c_jc||², the per-doc reconstruction
    // error that justifies the (nsub, ksub) byte budget — the third
    // leg of the ANN QA triad beside recall@k and the MinHash
    // estimate-error row. Map-only: one codegen'd encode + one ADC
    // pass, no joins beyond the id-aligned self-join.
    "ann_pq_reconstruction" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqEncode(emb, "vec_id", "embedding", PqBooks)
        .join(emb.select(col("vec_id").as("cand_id"), col("embedding")),
          Seq("cand_id"))
        .select(col("cand_id").as("vec_id"),
          graft.functions.Rounding.pround(
            graft.functions.PqCodec.adc(col("codes"), col("embedding"),
              PqBooks), 6).as("recon_err"))
        .orderBy("vec_id")
    }),

    // SQ8 quantization-error QA: decode each vector's own 8-bit codes
    // and measure Σ_d (v_d − decode_d)² — the scalar-codec leg of the
    // reconstruction-error QA beside ann_pq_reconstruction. Unlike PQ
    // the TRAINING (per-dim min/max) is in the oracle too, so this row
    // hash-checks the full train→encode→decode arc. Map-only plus the
    // id-aligned self-join; the stats scan is the one corpus pass any
    // codec build pays.
    "ann_sq8_reconstruction" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mins, deltas) = Similarity.sq8Stats(emb, "embedding")
      Similarity.sq8Encode(emb, "vec_id", "embedding", mins, deltas)
        .join(emb.select(col("vec_id").as("cand_id"), col("embedding")),
          Seq("cand_id"))
        .select(col("cand_id").as("vec_id"),
          graft.functions.Rounding.pround(
            graft.functions.Sq8Codec.adc(col("codes"), col("embedding"),
              mins, deltas), 6).as("recon_err"))
        .orderBy("vec_id")
    }),

    // Incremental index maintenance: the base index is built from the
    // older vectors only; the newest batch arrives via appendVectors —
    // encoded with the STORED centroids/codebooks and bucket-appended,
    // no retrain, cost ∝ |batch| (the ANN analogue of
    // dedup_minhash_incremental). The query then sees old and new rows
    // uniformly. The base uses the FIXED model (SemCents + PqBooks,
    // residual) precisely so the append path gets a hash-matched
    // oracle: encode is a pure function of the model, so base+append ≡
    // one full fixed build, and the DuckDB full-build replica checks
    // the appended index EXACTLY. (The trained-KMeans stored-index
    // path, which has no SQL equivalent, stays spec-only: result
    // equality and recall are pinned in SimilaritySpec/PlanAuditSpec.)
    "ann_ivfpq_append" -> ((s, dir) => {
      if (!s.catalog.tableExists("graft_vec_index_inc"))
        buildIncVecIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopKFromIndex(s, "graft_vec_index_inc",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", AnnK,
        nprobe = FixedNprobe, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ against a STORED index built from a FIXED model
    // (writeVectorIndexWithModel: SemCents coarse cells + PqBooks
    // codebooks — no KMeans anywhere): every stage (cell argmin,
    // encode argmin, ADC shortlist, exact re-rank) is a pure function
    // of the corpus, so the stored-index QUERY path itself gets a
    // hash-matched DuckDB replica (the trained-KMeans stored index has
    // no SQL equivalent and is spec-only — SimilaritySpec pins its
    // result equality with this exact code path).
    "ann_ivfpq_indexed_fixed" -> ((s, dir) => {
      if (!s.catalog.tableExists("graft_vec_index_fixed"))
        buildFixedVecIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopKFromIndex(s, "graft_vec_index_fixed",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", AnnK,
        nprobe = FixedNprobe, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // The RESIDUAL-encoded fixed-model stored index (codes quantize
    // v − centroid[cell], the FAISS refinement the trained build uses
    // by default): the float32 residual subtraction is replicated in
    // DuckDB (FLOAT−FLOAT is true float32 there too), so the exact
    // residual ADC arc the production index runs is hash-matched.
    "ann_ivfpq_indexed_fixed_residual" -> ((s, dir) => {
      if (!s.catalog.tableExists("graft_vec_index_fixed_res"))
        buildFixedResVecIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopKFromIndex(s, "graft_vec_index_fixed_res",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", AnnK,
        nprobe = FixedNprobe, overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // Recall@k of the fixed-model stored IVF-PQ index against the
    // exact L2 top-k — the published QA number an ANN tier ships with.
    // Both sides and the metric itself are hash-checked: the oracle
    // recomputes the whole index replica AND the brute-force baseline.
    "ann_recall_fixed" -> ((s, dir) => {
      if (!s.catalog.tableExists("graft_vec_index_fixed"))
        buildFixedVecIndex(s, dir)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val ann = Similarity.ivfPqTopKFromIndex(s, "graft_vec_index_fixed",
        qs, "vec_id", "embedding", AnnK,
        nprobe = FixedNprobe, overquery = AnnOverquery)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id",
        "embedding", AnnK,
        (a, b) => lit(0.0) - graft.functions.Rounding.pround(
          graft.functions.VectorExprs.l2DistSq(a, b), 6))
      Similarity.recallAtK(ann, exact, AnnK).orderBy("query_id")
    }),

    // The text→stored-ANN bridge END-TO-END: feature-hashed embeddings
    // (model-free text→vector) → fixed-model stored IVF-PQ index →
    // indexed query — raw text in, approximate neighbors out, one
    // oracle-checked pipeline (text_hash_ann is the brute-force twin;
    // this is the scale path a 100 TB corpus would actually run).
    "text_hash_ann_indexed" -> ((s, dir) => {
      if (!s.catalog.tableExists("graft_text_vec_index"))
        buildTextVecIndex(s, dir)
      val q = TextEmbedding.hashedEmbeddings(
        t(s, dir, "documents").filter(col("doc_id") < 5),
        "doc_id", "text", HashDim)
      Similarity.ivfPqTopKFromIndex(s, "graft_text_vec_index", q,
        "doc_id", "vec", AnnK, nprobe = FixedNprobe,
        overquery = AnnOverquery)
        .orderBy("query_id", "rank")
    }),

    // threshold 0.4: the fixture corpus has no planted vector near-dups
    // (max pairwise cosine ≈0.51), so a production-style 0.9 threshold
    // would make the check vacuous.
    "emb_near_dup" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", LshBits, 0.4).orderBy("id_a", "id_b")),

    // SEMANTIC decontamination, detect stage: training embeddings close
    // to an eval-set embedding (paraphrase leakage no n-gram overlap
    // sees). Eval side broadcast — the corpus never shuffles. The 0.3
    // threshold is fixture-calibrated (isotropic synthetic embeddings
    // top out near cosine 0.5 — emb_near_dup's documented band).
    "contamination_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Contamination.semanticOverlap(
        e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20),
        "vec_id", "embedding", LshBits, 0.3)
        .orderBy("train_id", "eval_id")
    }),

    // ... and the remove stage: the corpus rows that survive.
    "decontaminated_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Contamination.semanticDecontaminated(
        e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20),
        "vec_id", "embedding", LshBits, 0.3)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    // The dedup arc on the EMBEDDING modality: near-dup pairs →
    // connected components → canonical manifest, the same cluster
    // machinery the text tier uses (DedupCluster is modality-agnostic —
    // it only sees ids and edges).
    "emb_dedup_canonical" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
        LshBits, 0.4)
      DedupCluster.canonicalize(e, "vec_id", pairs).orderBy("vec_id")
    }),

    // SemDeDup (Abbas et al. 2023) with FIXED dyadic centroids so the
    // whole arc — cell argmin, within-cell cosine pairs, connected
    // components, keep-the-least-centroid-similar — gets a hash-matched
    // recursive-CTE oracle row (the trained-KMeans form is recall/
    // policy-tested in SemDedupSpec instead, same split as
    // pq_adc_fixed vs ivfPqTopK).
    "sem_dedup_fixed" -> ((s, dir) =>
      Similarity.semDedupWithCentroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", SemCents, 0.4)
        .select("vec_id").orderBy("vec_id")),

    // Correctness TETHER for the sweep-only sem_dedup_scaled shape
    // (round-13 review: sweepQueries entries need a gate row that FAILS
    // if the shape breaks). Runs the IDENTICAL scaled-nlist arc via the
    // sweepQueries lambda, then asserts its deterministic invariants as
    // oracle-pinnable aggregates: (a) the kept set is non-empty, (b)
    // every DROPPED vector has a duplicate witness — some other corpus
    // vector at cosine ≥ τ (a dropped doc is always in a ≥2-member
    // duplicate component, and its component neighbors are witnesses
    // regardless of which member the policy kept). A policy regression
    // that drops isolated vectors reads dropped_uncovered > 0 and
    // hash-fails; an exception in the arc errs the row. The witness
    // probe is brute dropped×corpus — gate-scale-bounded by the tiny
    // embeddings fixture (the SCALED shape itself is what ScaleSweep
    // amplifies; this row is not swept).
    "sem_dedup_scaled_tether" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val kept = sweepQueries("sem_dedup_scaled")(s, dir)
      val dropped = e.join(kept, Seq("vec_id"), "left_anti")
        .select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val bestWitness = dropped
        .join(e, col("d_id") =!= col("vec_id"))
        .groupBy("d_id")
        .agg(max(Similarity.cosineFused(col("d_vec"), col("embedding")))
          .as("best"))
      val total = e.agg(count(lit(1)).as("n_total"))
      val keptN = kept.agg((count(lit(1)) > 0).cast("int")
        .as("kept_nonempty"))
      val uncov = bestWitness.agg(coalesce(
        sum(when(col("best") < lit(0.4), 1).otherwise(0)), lit(0))
        .cast("int").as("dropped_uncovered"))
      total.crossJoin(keptN).crossJoin(uncov)
    }),

    // Correctness TETHER for the sweep-only emb_zca_whiten shape: runs
    // the identical train+project arc via the sweepQueries lambda, then
    // asserts the DEFINING property of whitening in-query — the
    // covariance of the projected output is the identity (covariance is
    // translation-invariant, so the uncentered projection Wx satisfies
    // Cov(Wx) = W·C·Wᵀ ≈ I exactly like the centered form PcaSpec
    // pins). Population (÷n) convention matches covEig; tolerance 0.05
    // absorbs the λ/(λ+ε) diagonal shrink and pround(6) quantization.
    "emb_zca_whiten_tether" -> ((s, dir) => {
      // (vec_id, dim, value) — materialized ONCE: the covariance probe
      // below references this frame four times (means, both self-join
      // sides, the n_vecs count), and the lazy form re-ran the whole
      // train+project arc per reference. A reliable checkpoint: computed
      // once, no cache entry left behind
      val long = sweepQueries("emb_zca_whiten")(s, dir).checkpoint()
      val means = long.groupBy(col("dim").as("mi"))
        .agg(avg(col("value")).as("mu_i"))
      val b = long.select(col("vec_id").as("vid2"), col("dim").as("j"),
        col("value").as("vj"))
      val cov = long.join(b, col("vec_id") === col("vid2"))
        .groupBy(col("dim").as("i"), col("j"))
        .agg(sum(col("value") * col("vj")).as("sxy"),
          count(lit(1)).as("cnt"))
        .join(broadcast(means), col("i") === col("mi"))
        .join(broadcast(means.toDF("mj", "mu_j")), col("j") === col("mj"))
        .select(col("i"), col("j"),
          (col("sxy") / col("cnt") - col("mu_i") * col("mu_j")).as("c"))
      val maxDev = cov.agg(max(abs(col("c") -
        when(col("i") === col("j"), 1.0).otherwise(0.0))).as("max_dev"))
      long.agg(countDistinct(col("vec_id")).as("n_vecs"))
        .crossJoin(maxDev.select((col("max_dev") < 0.05).cast("int")
          .as("cov_is_identity")))
    }),

    // SSL-prototypes pruning (Sorscher et al. NeurIPS'22): keep the
    // HARDEST ceil(0.5·n) examples of every cluster, hardness = low
    // cosine to the cell centroid. Fixed dyadic centroids ⇒ the whole
    // arc (argmin cells, pround(6) proto_sim, per-cell rank cut) is
    // hash-matched; the trained-KMeans form is policy-tested in
    // SimilaritySpec (the semDedup/sem_dedup_fixed split).
    "prune_prototypes" -> ((s, dir) =>
      Similarity.prototypesPruneWithCentroids(t(s, dir, "embeddings"),
        "vec_id", "embedding", SemCents, PruneKeepFrac)
        .orderBy("vec_id")),

    // Greedy k-center coreset (Gonzalez farthest-first): 6 hull points
    // with their max-min selection radii — the geometric-coverage
    // data-selection rung. Oracle replays the traversal as unrolled
    // per-pick CTEs.
    "emb_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(t(s, dir, "embeddings"),
        "vec_id", "embedding", 6)
        .orderBy("pick")),

    // Incremental SemDeDup: the corpus below vec_id 400 is deduplicated
    // once (stage 1), then the remaining rows arrive as a batch and
    // only the semantically-novel ones are admitted — kept×kept is
    // never re-paired, so the per-batch cost is |batch|·cell-occupancy
    // (the dedup_minhash_incremental shape on the embedding modality).
    // Same fixed centroids → fully hash-matched two-stage DuckDB
    // replica.
    "sem_dedup_incremental" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // build-once/query-many split (the indexed-query convention):
      // the deduped base comes from the persisted table when present,
      // so the benched cost is the increment — stage 1 runs inline
      // only when no build preceded (correctness runs)
      if (!s.catalog.tableExists("graft_sem_base")) buildSemBase(s, dir)
      Similarity.semDedupIncrement(s.table("graft_sem_base"),
        e.filter(col("vec_id") >= 400),
        "vec_id", "embedding", SemCents, 0.4)
        .select("vec_id").orderBy("vec_id")
    }))

  // --- DuckDB oracle SQL, generated from the same constants -----------

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private val markerScores = TextFunctions.LangMarkers.map { case (l, ws) =>
    s"len(list_filter(string_split(text, ' '), w -> w IN ${inList(ws)})) AS s_$l"
  }.mkString(",\n    ")

  private val allMarkers = inList(TextFunctions.LangMarkers.flatMap(_._2))

  /** The quality-score SQL expression, shared by the text and
    * cross-modal oracle queries (kept in lockstep with
    * TextFunctions.qualityScore).
    */
  private lazy val qualitySqlExpr: String =
    s"""floor((
       |  0.4 * (CASE WHEN length(text) >= 200 AND length(text) <= 2000 THEN 1.0
       |              WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END)
       |  + 0.3 * (1.0 - (CASE WHEN length(text) > 0
       |      THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text)
       |      ELSE 0.0 END))
       |  + 0.3 * least(1.0, (CASE WHEN len(string_split(text, ' ')) > 0
       |      THEN len(list_filter(string_split(text, ' '), w -> w IN $allMarkers))::DOUBLE / len(string_split(text, ' '))
       |      ELSE 0.0 END) * 5)) * 10000 + 0.5) / 10000""".stripMargin

  /** Shared shingle CTE (word 5-grams, short-doc guard identical to
    * TextFunctions.wordShingles).
    */
  private val shingleCte =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |idx AS (
       |  SELECT doc_id, ws, unnest(generate_series(1,
       |    CASE WHEN len(ws) >= $ShingleN THEN len(ws) - ${ShingleN - 1} ELSE 1 END)) AS i
       |  FROM toks),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(ws) >= $ShingleN
       |         THEN array_to_string(ws[i:i+${ShingleN - 1}], ' ')
       |         ELSE array_to_string(ws, ' ') END AS shingle
       |  FROM idx)""".stripMargin

  // zero-norm operands score 0.0 (CASE guard) — mirrors the Spark
  // side's rule in Similarity.cosine / functions.CosineSimilarity
  private val cosineExpr =
    """floor((CASE WHEN
      |  (sqrt((SELECT sum(qv[i]::DOUBLE * qv[i]::DOUBLE) FROM generate_series(1, 64) t(i))) *
      |   sqrt((SELECT sum(cv[i]::DOUBLE * cv[i]::DOUBLE) FROM generate_series(1, 64) t(i)))) > 0 THEN
      |  (SELECT sum(qv[i]::DOUBLE * cv[i]::DOUBLE) FROM generate_series(1, 64) t(i)) /
      |  (sqrt((SELECT sum(qv[i]::DOUBLE * qv[i]::DOUBLE) FROM generate_series(1, 64) t(i))) *
      |   sqrt((SELECT sum(cv[i]::DOUBLE * cv[i]::DOUBLE) FROM generate_series(1, 64) t(i))))
      |  ELSE 0.0 END) * 1000000 + 0.5) / 1000000""".stripMargin

  // --- sem_dedup_fixed centroids ------------------------------------
  // Eight 64-dim dyadic centroids (k/32 values: exact in float and
  // double, shortest-decimal round-trips in DuckDB) so the cell argmin
  // and both cosine folds are bit-identical across engines. Fitted once
  // offline to the fixture embedding distribution and snapped to the
  // /32 grid, so cells stay balanced (~1/8 of the corpus each) and the
  // within-cell pair count — the term that scales as sum(cell_i^2) —
  // stays bounded; the values themselves are arbitrary constants as far
  // as correctness goes.
  private[graft] val SemCents: Seq[Seq[Float]] = Seq(
    Seq(0f, -0.03125f, 0f, 0f, 0f, 0.03125f, 0f, 0.03125f, 0f, 0.09375f, 0f, 0.03125f, 0f, -0.0625f, 0.0625f, -0.0625f, 0.0625f, 0f, 0.03125f, 0.03125f, 0.03125f, 0f, -0.0625f, 0.03125f, 0.03125f, 0.03125f, 0f, 0f, -0.03125f, 0.03125f, -0.03125f, 0.03125f, 0.09375f, -0.03125f, -0.03125f, 0f, 0f, -0.03125f, 0f, -0.0625f, 0.03125f, -0.0625f, -0.0625f, 0f, 0f, -0.03125f, 0f, 0f, 0f, -0.0625f, 0.03125f, -0.03125f, 0.03125f, -0.03125f, -0.03125f, 0f, 0.03125f, 0.03125f, 0.0625f, 0f, 0f, 0.03125f, -0.0625f, -0.03125f),
    Seq(0.0625f, 0.03125f, 0.03125f, 0f, 0.03125f, 0.03125f, -0.0625f, 0.03125f, -0.0625f, -0.03125f, 0.0625f, -0.0625f, 0f, -0.03125f, 0f, 0.0625f, 0f, 0.0625f, 0f, -0.0625f, 0.03125f, 0f, 0.03125f, 0f, 0f, -0.03125f, 0.03125f, 0.03125f, 0.0625f, 0.03125f, 0.03125f, -0.03125f, 0f, 0.03125f, 0.03125f, -0.03125f, -0.0625f, 0.0625f, 0f, -0.03125f, -0.03125f, -0.03125f, 0f, 0f, -0.0625f, 0.03125f, -0.03125f, 0.03125f, 0.03125f, -0.0625f, 0.03125f, -0.03125f, -0.0625f, 0f, 0f, 0f, 0f, 0.03125f, 0f, 0.0625f, 0f, -0.03125f, 0f, 0.09375f),
    Seq(0.03125f, -0.0625f, 0f, 0f, 0.0625f, 0.03125f, -0.09375f, 0f, 0f, 0f, 0f, 0.03125f, 0.03125f, 0f, 0.03125f, 0f, -0.0625f, -0.03125f, -0.0625f, 0f, 0.03125f, 0f, 0.03125f, -0.03125f, -0.0625f, 0.0625f, 0f, 0.03125f, -0.0625f, 0f, 0f, 0f, -0.03125f, 0.03125f, 0.0625f, 0f, -0.0625f, 0.0625f, 0.03125f, 0f, -0.0625f, -0.03125f, 0f, 0.03125f, 0.03125f, 0f, -0.03125f, 0f, 0.03125f, 0f, 0.03125f, 0f, 0f, 0.03125f, 0f, 0f, 0f, -0.03125f, 0f, 0f, 0f, 0f, 0f, -0.09375f),
    Seq(0f, 0f, 0f, -0.0625f, 0f, 0f, -0.0625f, 0.03125f, 0.03125f, -0.0625f, -0.03125f, -0.03125f, -0.03125f, -0.0625f, -0.0625f, 0.03125f, 0f, 0f, 0.0625f, 0.03125f, -0.03125f, 0.03125f, 0.03125f, 0f, 0.03125f, -0.03125f, 0.03125f, 0f, 0f, 0.03125f, -0.03125f, 0.03125f, 0f, 0f, -0.03125f, -0.03125f, 0.03125f, 0f, 0.03125f, 0f, 0f, 0f, 0f, 0.03125f, -0.0625f, 0.0625f, -0.03125f, -0.0625f, -0.03125f, 0f, 0f, 0f, 0.0625f, 0f, 0.0625f, 0f, 0f, 0f, -0.0625f, -0.0625f, 0f, 0f, 0.03125f, 0f),
    Seq(-0.03125f, 0f, -0.0625f, 0.03125f, -0.0625f, -0.03125f, -0.03125f, -0.03125f, 0f, -0.03125f, 0.03125f, 0f, -0.03125f, 0.0625f, -0.03125f, -0.03125f, -0.03125f, 0f, -0.03125f, 0f, -0.03125f, 0.0625f, 0.03125f, 0.0625f, 0f, 0.03125f, -0.03125f, 0f, 0.03125f, 0f, -0.03125f, -0.03125f, 0.03125f, -0.0625f, 0f, 0f, 0f, -0.0625f, -0.0625f, 0.03125f, 0f, 0f, 0.03125f, -0.03125f, 0.03125f, 0.0625f, 0f, 0.03125f, 0.03125f, 0f, 0.03125f, -0.0625f, 0.03125f, -0.03125f, -0.09375f, -0.03125f, -0.03125f, -0.03125f, 0.03125f, 0f, 0f, 0.0625f, 0f, 0f),
    Seq(-0.03125f, 0.03125f, 0.03125f, 0.03125f, 0f, 0.03125f, 0.03125f, 0.03125f, 0.03125f, -0.03125f, -0.03125f, 0.09375f, 0f, 0f, 0f, 0f, 0.0625f, -0.03125f, -0.03125f, 0f, -0.0625f, 0f, 0f, -0.09375f, 0.03125f, 0f, 0.03125f, -0.03125f, 0.03125f, -0.03125f, 0.03125f, 0f, 0f, 0f, 0f, 0.09375f, -0.03125f, 0f, 0.03125f, -0.03125f, 0f, 0.03125f, 0f, -0.0625f, 0f, -0.09375f, -0.03125f, 0.0625f, 0f, -0.03125f, -0.0625f, 0f, -0.03125f, 0f, 0f, -0.03125f, -0.03125f, 0.03125f, -0.0625f, -0.09375f, -0.03125f, 0f, 0.03125f, -0.03125f),
    Seq(-0.03125f, -0.03125f, 0.0625f, 0f, 0.03125f, -0.0625f, 0.0625f, 0f, 0f, -0.03125f, 0f, -0.0625f, -0.03125f, 0.03125f, 0f, 0.03125f, 0.03125f, 0.0625f, 0.03125f, 0.03125f, 0.03125f, 0f, 0.03125f, -0.09375f, -0.0625f, 0f, -0.03125f, 0f, 0f, -0.03125f, 0f, -0.03125f, 0f, 0.03125f, 0.03125f, 0f, 0.0625f, -0.03125f, -0.0625f, 0.03125f, 0.09375f, -0.03125f, 0f, 0f, 0f, 0f, 0.03125f, 0.03125f, -0.03125f, 0.03125f, -0.03125f, 0.09375f, 0.03125f, 0f, 0.0625f, -0.03125f, 0.03125f, -0.03125f, 0f, 0.03125f, 0f, 0f, -0.03125f, -0.03125f),
    Seq(0f, 0.03125f, -0.0625f, -0.03125f, 0.0625f, 0.0625f, 0.03125f, 0f, -0.03125f, 0.0625f, 0.03125f, 0f, -0.03125f, 0.09375f, 0f, 0f, 0.03125f, 0.03125f, 0f, -0.03125f, -0.03125f, -0.03125f, -0.03125f, 0.03125f, 0f, 0f, -0.03125f, 0.0625f, 0f, -0.03125f, 0.09375f, 0f, 0f, -0.03125f, 0f, 0f, 0f, -0.03125f, 0f, 0.03125f, -0.0625f, 0.03125f, 0.03125f, 0.03125f, 0f, -0.03125f, 0.0625f, 0f, -0.03125f, 0.03125f, 0.03125f, 0f, 0.03125f, 0f, 0.03125f, 0.03125f, -0.03125f, -0.03125f, -0.03125f, 0f, 0.03125f, -0.0625f, 0f, 0f))

  private def semCentArray(c: Int): String =
    SemCents(c).map(_.toDouble.toString).mkString("[", ", ", "]")

  /** Σcᵢ² — exact (dyadic terms), so inlining the Scala-computed sum
    * matches Spark's runtime fold bit-for-bit.
    */
  private def semCentSumSq(c: Int): Double =
    SemCents(c).map(v => v.toDouble * v.toDouble).sum

  /** Shared CTE fragment for the hashed-embedding oracles: token →
    * (bucket, ±1 sign) via the same md5 arithmetic the Spark side
    * evaluates, per-doc bucket sums, exact integer norms, pround(6)
    * normalized weights.
    */
  private val hashDenseCte =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |hb AS (
       |  SELECT doc_id,
       |         CAST(${hex8ToInt("substr(md5(w),1,8)")} % $HashDim AS INT) AS bucket,
       |         CASE WHEN (strpos('0123456789abcdef', substr(md5(w),9,1)) - 1) % 2 = 0
       |              THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM tok WHERE len(w) > 0),
       |sums AS (SELECT doc_id, bucket, sum(sgn) AS v FROM hb GROUP BY 1, 2),
       |norms AS (SELECT doc_id, sqrt(sum(v*v)) AS nrm FROM sums GROUP BY 1),
       |dense AS (
       |  SELECT d.doc_id, g.i AS dim_idx,
       |         CASE WHEN coalesce(n.nrm, 0) > 0
       |              THEN floor(coalesce(s.v, 0.0) / n.nrm * 1000000 + 0.5) / 1000000
       |              ELSE 0.0 END AS weight
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  CROSS JOIN generate_series(0, ${HashDim - 1}) g(i)
       |  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.bucket = g.i
       |  LEFT JOIN norms n ON n.doc_id = d.doc_id)""".stripMargin

  /** Shared CTE chain for the mutual-kNN clustering oracles: bounded
    * slice → quadratic cosine → reciprocal top-k edges → recursive
    * min-label components (`cc`: id, cluster_id). Callers must open
    * with WITH RECURSIVE.
    */
  /** Bounded slice → quadratic cosine → reciprocal top-k → canonical
    * mutual edges (`mut`: id_a < id_b). The shared front half of every
    * mutual-kNN-graph oracle.
    */
  private lazy val mutualKnnCte =
    s"""sub AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $KnnSlice),
       |sc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosSql("q.embedding", "c.embedding")} AS score
       |  FROM sub q JOIN sub c ON c.vec_id <> q.vec_id),
       |knn AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY score DESC, cid) AS r
       |    FROM sc)
       |  WHERE r <= $KnnK),
       |mut AS (
       |  SELECT a.qid AS id_a, a.cid AS id_b FROM knn a
       |  JOIN knn b ON b.qid = a.cid AND b.cid = a.qid
       |  WHERE a.qid < a.cid)""".stripMargin

  private lazy val knnClustersCte =
    s"""$mutualKnnCte,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM mut
       |  UNION SELECT id_b, id_a FROM mut),
       |reach AS (
       |  SELECT vec_id AS id, vec_id AS lbl FROM sub
       |  UNION
       |  SELECT e.dst AS id, r.lbl FROM reach r
       |  JOIN edges e ON e.src = r.id),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Cosine of two named DOUBLE[]/FLOAT[] columns, pround(6) — the
    * generic form of [[cosineExpr]] for arbitrary operand names, with
    * the same zero-norm → 0.0 CASE guard.
    */
  private def cosSql(a: String, b: String): String =
    s"""floor((CASE WHEN
       |  (sqrt((SELECT sum($a[i]::DOUBLE * $a[i]::DOUBLE) FROM generate_series(1, 64) t(i))) *
       |   sqrt((SELECT sum($b[i]::DOUBLE * $b[i]::DOUBLE) FROM generate_series(1, 64) t(i)))) > 0 THEN
       |  (SELECT sum($a[i]::DOUBLE * $b[i]::DOUBLE) FROM generate_series(1, 64) t(i)) /
       |  (sqrt((SELECT sum($a[i]::DOUBLE * $a[i]::DOUBLE) FROM generate_series(1, 64) t(i))) *
       |   sqrt((SELECT sum($b[i]::DOUBLE * $b[i]::DOUBLE) FROM generate_series(1, 64) t(i))))
       |  ELSE 0.0 END) * 1000000 + 0.5) / 1000000""".stripMargin

  /** Σ(a−b)² over the 64 dims, pround(6) — the exact-re-rank distance
    * (same ascending correlated-subquery fold as [[cosSql]], so it is
    * bit-equal to the fused L2DistanceSq expression's loop).
    */
  private def l2Sql(a: String, b: String): String =
    s"""floor(((SELECT sum(($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)) FROM generate_series(1, 64) t(i))) * 1000000 + 0.5) / 1000000"""

  /** The COMPLETE fixed-model stored-index IVF-PQ replica over
    * relation `rel` (id column `id`, 64-dim vector column `vec`,
    * query-side predicate on alias `v`): SemCents cell argmin for both
    * corpus and queries, PqBooks encode argmin, raw-double ADC
    * shortlist cut at k·overquery, exact-L2 re-rank to k — stage for
    * stage what writeVectorIndexWithModel + ivfPqTopKFromIndex
    * execute, so the stored-index query path is hash-matched
    * end-to-end. Emitted as the body of a WITH (callers prepend
    * `WITH ` and any upstream CTEs).
    */
  /** IVF-SQ8 replica with the SemCents fixed cells: cell argmin for
    * corpus and probes (the ivfPqFixedSql spelling), global per-dim
    * min/max → double deltas → half-up affine codes, decoded-ADC
    * shortlist on raw doubles, exact-L2 re-rank — stage for stage what
    * [[graft.operators.Similarity.ivfSq8TopK]] executes, training
    * included.
    */
  private def ivfSq8FixedSql(rel: String, id: String, vec: String,
                             queryPred: String): String = {
    val centsRows = SemCents.indices.map(c =>
      s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS ccv, ${semCentSumSq(c)} AS ss")
      .mkString("\n  UNION ALL\n  ")
    s"""cents AS (
       |  $centsRows),
       |assign AS (
       |  SELECT $id, $vec, cell FROM (
       |    SELECT e.$id, e.$vec, c.cell,
       |      row_number() OVER (PARTITION BY e.$id ORDER BY
       |        ((SELECT sum(e.$vec[i]::DOUBLE * c.ccv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
       |        c.cell) AS rn
       |    FROM $rel e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |stats AS (
       |  SELECT [${(1 to 64).map(d => s"min($vec[$d])::DOUBLE").mkString(", ")}] AS mnl,
       |         [${(1 to 64).map(d => s"max($vec[$d])::DOUBLE").mkString(", ")}] AS mxl
       |  FROM $rel),
       |st AS (
       |  SELECT mnl AS mn,
       |    list_transform(generate_series(1, 64), d -> (mxl[d] - mnl[d]) / 255.0) AS dl
       |  FROM stats),
       |enc AS (
       |  SELECT a.$id AS cand_id, a.cell, a.$vec AS cv,
       |    list_transform(generate_series(1, 64), d ->
       |      CASE WHEN s.dl[d] = 0 THEN 0
       |        ELSE CAST(least(255.0, greatest(0.0,
       |          floor((a.$vec[d]::DOUBLE - s.mn[d]) / s.dl[d] + 0.5))) AS INTEGER)
       |      END) AS codes
       |  FROM assign a CROSS JOIN st s),
       |qd AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT v.$id AS query_id, v.$vec AS qv, c.cell,
       |      row_number() OVER (PARTITION BY v.$id ORDER BY
       |        ((SELECT sum(v.$vec[i]::DOUBLE * c.ccv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
       |        c.cell) AS rn
       |    FROM $rel v CROSS JOIN cents c WHERE $queryPred)
       |  WHERE rn <= $FixedNprobe),
       |shortl AS (
       |  SELECT query_id, cand_id, qv, cv FROM (
       |    SELECT q.query_id, e.cand_id, q.qv, e.cv,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        (SELECT sum((q.qv[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i]))
       |                  * (q.qv[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i])))
       |         FROM generate_series(1, 64) t(i)), e.cand_id) AS r
       |    FROM enc e JOIN qd q ON e.cell = q.cell AND e.cand_id <> q.query_id
       |    CROSS JOIN st s)
       |  WHERE r <= ${AnnK * AnnOverquery}),
       |rer AS (SELECT query_id, cand_id, ${l2Sql("qv", "cv")} AS dist FROM shortl)
       |SELECT query_id, cand_id, dist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
       |  FROM rer)
       |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin
  }

  private def ivfPqFixedSql(rel: String, id: String, vec: String,
                            queryPred: String,
                            residual: Boolean = false): String = {
    // residual mode subtracts the row's OWN cell centroid in FLOAT
    // precision before the PQ math (Spark's zip_with(cv, centroid,
    // x − y) is float32; DuckDB FLOAT−FLOAT is too) — the query side
    // subtracts the PROBED cell's centroid the same way
    val corpusElem: Int => String =
      if (residual) i => s"a.$vec[$i] - ct.fcv[$i]" else i => s"a.$vec[$i]"
    val queryElem: Int => String =
      if (residual) i => s"q.qv[$i] - ct.fcv[$i]" else i => s"q.qv[$i]"
    val cdistCols = (for (j <- 0 until PqSub; c <- 0 until PqKsub)
      yield s"(${pqCentDistExpr(corpusElem, j, c)}) AS d${j}_$c")
      .mkString(",\n  ")
    val codeCols = (0 until PqSub)
      .map(j => s"${pqCodeCase(j)} AS code$j").mkString(",\n  ")
    val adc = (0 until PqSub).map(j => s"(${pqAdcCaseExpr(queryElem, j)})")
      .mkString(" + ")
    val shortlistCentJoin =
      if (residual) "\n    JOIN cents ct ON ct.cell = q.cell" else ""
    val centsRows = SemCents.indices.map(c =>
      s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS ccv, " +
        s"${semCentArray(c)}::FLOAT[] AS fcv, ${semCentSumSq(c)} AS ss")
      .mkString("\n  UNION ALL\n  ")
    s"""cents AS (
       |  $centsRows),
       |assign AS (
       |  SELECT $id, $vec, cell FROM (
       |    SELECT e.$id, e.$vec, c.cell,
       |      row_number() OVER (PARTITION BY e.$id ORDER BY
       |        ((SELECT sum(e.$vec[i]::DOUBLE * c.ccv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
       |        c.cell) AS rn
       |    FROM $rel e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |cdist AS (
       |  SELECT a.$id AS cand_id,
       |  $cdistCols
       |  FROM assign a JOIN cents ct ON ct.cell = a.cell),
       |enc AS (
       |  SELECT cand_id,
       |  $codeCols
       |  FROM cdist),
       |idx AS (
       |  SELECT a.$id AS cand_id, a.cell, a.$vec AS cv,
       |         x.code0, x.code1, x.code2, x.code3
       |  FROM assign a JOIN enc x ON x.cand_id = a.$id),
       |qd AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT v.$id AS query_id, v.$vec AS qv, c.cell,
       |      row_number() OVER (PARTITION BY v.$id ORDER BY
       |        ((SELECT sum(v.$vec[i]::DOUBLE * c.ccv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
       |        c.cell) AS rn
       |    FROM $rel v CROSS JOIN cents c WHERE $queryPred)
       |  WHERE rn <= $FixedNprobe),
       |shortl AS (
       |  SELECT query_id, cand_id, qv, cv FROM (
       |    SELECT q.query_id, e.cand_id, q.qv, e.cv,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ($adc), e.cand_id) AS r
       |    FROM idx e JOIN qd q ON e.cell = q.cell AND e.cand_id <> q.query_id$shortlistCentJoin)
       |  WHERE r <= ${AnnK * AnnOverquery}),
       |rer AS (SELECT query_id, cand_id, ${l2Sql("qv", "cv")} AS dist FROM shortl)
       |SELECT query_id, cand_id, dist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
       |  FROM rer)
       |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin
  }

  // --- pq_adc_fixed codebooks ---------------------------------------
  // Dyadic values (k/32) are exactly representable in float AND double,
  // and their shortest decimal form parses back to the same double in
  // DuckDB — so the cross-engine argmin and ADC folds are bit-identical
  // term by term (no trained KMeans centroids could guarantee that).
  private val PqSub = 4
  private val PqKsub = 4
  private val PqSubDim = 16
  private[queries] val PqBooks: Seq[Seq[Seq[Float]]] =
    Seq.tabulate(PqSub, PqKsub, PqSubDim)((j, c, d) =>
      (((j * 5 + c * 3 + d) % 17) - 8) / 32.0f)

  /** Left-assoc chain of squared diffs of a vector's j-th subvector
    * against codebook centroid (j,c) — the exact fold order
    * Similarity.pqEncode and pqTopK evaluate, so sums are bit-equal
    * across engines. `elem` builds the SQL for the 1-based vector
    * element BEFORE the ::DOUBLE cast — the residual replica passes a
    * FLOAT-precision subtraction (DuckDB FLOAT−FLOAT computes in
    * float32, matching Spark's zip_with float arithmetic exactly).
    */
  private def pqCentDistExpr(elem: Int => String, j: Int, c: Int): String =
    (0 until PqSubDim).map { d =>
      val cent = PqBooks(j)(c)(d).toDouble
      val x = s"(${elem(j * PqSubDim + d + 1)})::DOUBLE - ($cent)"
      s"($x) * ($x)"
    }.mkString(" + ")

  private def pqCentDist(vec: String, j: Int, c: Int): String =
    pqCentDistExpr(i => s"$vec[$i]", j, c)

  /** Argmin over the 4 centroid distances, ties to the smaller code —
    * same semantics as pqEncode's least(struct(dist, idx)).
    */
  private def pqCodeCase(j: Int): String = {
    val d = (0 until PqKsub).map(c => s"d${j}_$c")
    s"CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0 " +
      s"WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1 " +
      s"WHEN ${d(2)} <= ${d(3)} THEN 2 ELSE 3 END"
  }

  private def pqAdcCaseExpr(elem: Int => String, j: Int): String =
    s"CASE e.code$j " + (0 until PqKsub).map(c =>
      s"WHEN $c THEN (${pqCentDistExpr(elem, j, c)})").mkString(" ") + " END"

  private def pqAdcCase(j: Int): String =
    pqAdcCaseExpr(i => s"q.qv[$i]", j)

  private def bucketExpr(v: String): String =
    (1 to LshBits).map(i =>
      s"(CASE WHEN $v[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  private val minhashCols = (0 until Bands * RowsPerBand).map(j =>
    s"min(substr(md5('${j / 4}' || '|' || shingle), ${(j % 4) * 8 + 1}, 8)) AS h$j")
    .mkString(",\n    ")

  private val bandRows = (0 until Bands).map { b =>
    val sig = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}")
      .mkString(" || ")
    s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
  }.mkString("\n  UNION ALL ")

  // --- SimHash oracle: reconstruct the md5-derived 64-bit fingerprint
  // nibble by nibble (strpos on the hex alphabet = parse-one-nibble),
  // as two non-negative 32-bit halves so no engine ever shifts into the
  // sign bit. Kept in lockstep with Dedup.simHash.

  private val simNibbles = (1 to 16).map(p =>
    s"strpos('0123456789abcdef', substr(hx, $p, 1)) - 1 AS nib$p")
    .mkString(",\n    ")

  /** ones-count of fingerprint bit j: hex char 16 - j/4 (big-endian),
    * bit j%4 of that nibble.
    */
  private def simOnes(j: Int): String =
    s"sum((nib${16 - j / 4} >> ${j % 4}) & 1)"

  private val simVotes = (0 until 64).map(j => s"${simOnes(j)} AS o$j")
    .mkString(",\n    ")

  private def simHalf(base: Int): String = (base until base + 32).map(j =>
    s"(CASE WHEN 2 * o$j > n THEN (1::BIGINT << ${j - base}) ELSE 0 END)")
    .mkString(" + ")

  private def dqCol(c: String) =
    s"""SELECT '$c' AS column_name, count(*) AS n_rows,
       |  count(*) FILTER ($c IS NULL) AS n_nulls,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_value,
       |  CAST(max($c) AS VARCHAR) AS max_value FROM events""".stripMargin

  /** 8 hex chars of `hx` → the 32-bit integer value, nibble by nibble
    * (exact in double: every intermediate is an integer < 2^32).
    */
  /** First 13 md5 hex chars as an exact double integer (< 2^52) — the
    * KMV hash-space position. Nibble-by-nibble, mirroring hex8ToInt. */
  private def hex13ToDouble(hx: String): String =
    (1 to 13).map { i =>
      val f = 1L << (4 * (13 - i))
      s"(strpos('0123456789abcdef', substr($hx,$i,1))-1)*$f.0"
    }.mkString("(", " + ", ")")

  private def hex8ToInt(hx: String): String =
    (1 to 8).map { i =>
      val f = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substr($hx,$i,1))-1)*$f.0"
    }.mkString("(", " + ", ")")

  /** uniqCombined-style HLL QA replica over events grouped by
    * event_type: exact count at or below the m=256 sparse threshold,
    * register estimator above it, with the mode named — shared by the
    * sparse (`user_id`) and dense (`event_id`) rows so the two
    * branches of the switch stay oracle-covered by construction. */
  private def hllEstimateOracle(valueExpr: String): String = {
    val hex2ToInt = "(strpos('0123456789abcdef', substr(md5(v),1,1))-1)*16" +
      " + (strpos('0123456789abcdef', substr(md5(v),2,1))-1)"
    s"""WITH dv AS (SELECT DISTINCT event_type AS g,
       |                   $valueExpr AS v FROM events),
       |ex AS (SELECT g, count(*) AS n_exact FROM dv GROUP BY g),
       |r AS (SELECT g, CAST($hex2ToInt AS INT) AS bucket,
       |             CAST(${hex13ToDouble("substr(md5(v),3,13)")} AS BIGINT) AS w
       |      FROM dv),
       |regs AS (SELECT g, bucket,
       |                max(CASE WHEN w = 0 THEN 53
       |                         ELSE 53 - length(bin(w)) END) AS m_j
       |         FROM r GROUP BY 1, 2),
       |gr AS (SELECT g, sum(CAST(power(2, 53 - m_j) AS BIGINT)) AS s_occ,
       |              count(*) AS occ
       |       FROM regs GROUP BY 1),
       |fin AS (SELECT g, s_occ + (256 - occ) * 9007199254740992 AS s_int,
       |               256 - occ AS v_empty FROM gr),
       |est AS (SELECT g,
       |  CASE WHEN ($HllC2 / CAST(s_int AS DOUBLE)) <= 640.0 AND v_empty > 0
       |       THEN ${Rounding.sqlPround("256.0 * ln(256.0 / CAST(v_empty AS DOUBLE))", 6)}
       |       ELSE ${Rounding.sqlPround(s"$HllC2 / CAST(s_int AS DOUBLE)", 6)}
       |  END AS hll_reg_est FROM fin)
       |SELECT e.g AS event_type, x.n_exact,
       |       CASE WHEN x.n_exact <= 256 THEN CAST(x.n_exact AS DOUBLE)
       |            ELSE e.hll_reg_est END AS hll_est,
       |       ${Rounding.sqlPround(
      "abs(CASE WHEN x.n_exact <= 256 THEN CAST(x.n_exact AS DOUBLE) " +
        "ELSE e.hll_reg_est END - x.n_exact) / CAST(x.n_exact AS DOUBLE)", 6)} AS rel_err,
       |       CASE WHEN x.n_exact <= 256 THEN 'sparse'
       |            ELSE 'dense' END AS hll_mode
       |FROM est e JOIN ex x USING (g) ORDER BY event_type""".stripMargin
  }

  /** DSIR oracle CTE chain through `w` = (doc_id, n_grams, logw): the
    * hashed gram stream (unigrams + adjacent bigrams, no filtering),
    * dense α-smoothed bucket models for target (lang='en') and raw,
    * and the per-doc decimal log-ratio sum — the DuckDB replica of
    * [[graft.operators.Dsir.importanceWeights]] at dim=[[DsirDim]],
    * α=0.5. Callers prepend `WITH `.
    */
  private def dsirCte: String = {
    val dim = DsirDim
    s"""toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, lang, unnest(ws) AS gram FROM toks
       |  UNION ALL
       |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS gram FROM toks),
       |gb AS (SELECT doc_id, lang,
       |         CAST(${hex8ToInt("md5(gram)")} AS BIGINT) % $dim AS bucket FROM g),
       |buckets AS (SELECT range AS bucket FROM range($dim)),
       |tcnt AS (SELECT bucket, count(*) AS cnt FROM gb WHERE lang = 'en' GROUP BY bucket),
       |tden AS (SELECT b.bucket, COALESCE(cnt, 0) AS cnt FROM buckets b LEFT JOIN tcnt USING (bucket)),
       |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM tden),
       |tmod AS (SELECT bucket, CAST(floor(ln((cnt + 0.5) / (t + 0.5 * $dim)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp_t
       |         FROM tden CROSS JOIN tt),
       |rcnt AS (SELECT bucket, count(*) AS cnt FROM gb GROUP BY bucket),
       |rden AS (SELECT b.bucket, COALESCE(cnt, 0) AS cnt FROM buckets b LEFT JOIN rcnt USING (bucket)),
       |rt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM rden),
       |rmod AS (SELECT bucket, CAST(floor(ln((cnt + 0.5) / (t + 0.5 * $dim)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp_r
       |         FROM rden CROSS JOIN rt),
       |w AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |         floor(CAST(sum(logp_t) - sum(logp_r) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS logw
       |  FROM gb JOIN tmod USING (bucket) JOIN rmod USING (bucket)
       |  GROUP BY doc_id)""".stripMargin
  }

  private val contaminationOracle =
    s"""WITH $shingleCte,
       |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 20 = 0),
       |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 20 != 0),
       |sizes AS (SELECT eval_id, count(*) AS n_eval_shingles FROM ev GROUP BY 1),
       |inter AS (
       |  SELECT eval_id, train_id, count(*) AS n_common
       |  FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1, 2)
       |SELECT i.eval_id, i.train_id, i.n_common,
       |  floor((i.n_common::DOUBLE / s.n_eval_shingles) * 10000 + 0.5) / 10000 AS containment
       |FROM inter i JOIN sizes s ON i.eval_id = s.eval_id
       |WHERE floor((i.n_common::DOUBLE / s.n_eval_shingles) * 10000 + 0.5) / 10000 >= 0.2
       |ORDER BY i.eval_id, i.train_id""".stripMargin

  /** BM25 ranked-list CTE chain (terminal CTE `out`: query_id,
    * cand_id, score, rank ≤ `k`) — shared by the direct/indexed oracle
    * rows and the RRF hybrid, which fuses it at a different k.
    */
  private def bm25RankedSql(k: Int, out: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |                 avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |q AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < 25),
       |contrib AS (
       |  SELECT q.query_id, c.doc_id AS cand_id,
       |    CAST(((s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
       |         ((CAST(c.tf AS DOUBLE) * 2.2) /
       |          (CAST(c.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))))
       |      AS DECIMAL(38,12)) AS part
       |  FROM q
       |  JOIN tf c ON c.term = q.term AND c.doc_id != q.query_id
       |  JOIN dfreq f ON f.term = q.term
       |  JOIN dl d ON d.doc_id = c.doc_id
       |  CROSS JOIN stats s),
       |bscored AS (
       |  SELECT query_id, cand_id,
       |         ${Rounding.sqlPround("CAST(sum(part) AS DOUBLE)", 4)} AS score
       |  FROM contrib GROUP BY 1, 2),
       |$out AS (
       |  SELECT query_id, cand_id, score, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, cand_id) AS rank FROM bscored)
       |  WHERE rank <= $k)""".stripMargin

  /** Shared by the direct and stored-index BM25 rows — the indexed
    * path must produce byte-identical results.
    */
  private val bm25Oracle =
    s"""WITH ${bm25RankedSql(3, "bmr")}
       |SELECT query_id, cand_id, score, rank FROM bmr ORDER BY query_id, rank""".stripMargin

  /** Hashed-embedding cosine ranked list (terminal CTE `out`: rank ≤
    * `k`, queries doc_id < `maxQueryId`) — the dense half of the RRF
    * hybrid; `text_hash_ann` is this fragment selected directly.
    */
  private def hashAnnRankedSql(maxQueryId: Int, k: Int, out: String): String =
    s"""$hashDenseCte,
       |vecs AS (SELECT doc_id, list(weight ORDER BY dim_idx) AS vec
       |         FROM dense GROUP BY doc_id),
       |hscored AS (
       |  SELECT qv.doc_id AS query_id, c.doc_id AS cand_id,
       |         ${cosSql("qv.vec", "c.vec")} AS score
       |  FROM vecs qv JOIN vecs c ON c.doc_id <> qv.doc_id
       |  WHERE qv.doc_id < $maxQueryId),
       |$out AS (
       |  SELECT query_id, cand_id, score, rank FROM (
       |    SELECT query_id, cand_id, score,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY score DESC, cand_id) AS rank
       |    FROM hscored)
       |  WHERE rank <= $k)""".stripMargin

  /** Stored-index builders, exposed separately so the bench times build
    * and query independently — "build once, query many" is these
    * operators' whole point, and folding the build into the query time
    * inverts it (the indexed query would bench SLOWER than the direct
    * form it exists to beat). The query entries above build-if-absent:
    * the catalog is in-memory per JVM, so a fresh Verify/Bench run
    * always builds at least once from its own sfDir before querying.
    */
  /** Bench/sweep-ONLY registry — query shapes that are deliberately NOT
    * in [[queries]] and therefore never reach the driver's correctness
    * dump: a trained-KMeans quantizer has no SQL replica, so an entry
    * here would land as a permanently-unverifiable `err="no_oracle"`
    * row in the gate (round 12's one such row). The ann_index_build
    * convention, extended from builds to full query shapes: Bench times
    * them and ScaleSweep sweeps them; correctness lives in their
    * oracle-checked siblings (sem_dedup_fixed pins the identical arc on
    * fixed centroids) plus the policy/recall specs (SemDedupSpec).
    */
  val sweepQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SemDeDup in its SCALE posture: nlist grows with the corpus so
    // cell occupancy (and with it the within-cell pair count, the
    // Σ cell² term) stays ~constant — the design rule the operator's
    // scaladoc states and the sf10 sweep proved empirically: the
    // 8-fixed-centroid oracle form (sem_dedup_fixed) went quadratic
    // (×59.6 at 10× data, 200k vectors / 25k-row cells) exactly as
    // predicted. THIS form is what the second scale decade sweeps.
    "sem_dedup_scaled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val n = e.count()
      val nlist = math.max(8L, n / 1500L).toInt
      Similarity.semDedup(e, "vec_id", "embedding", nlist, 0.4)
        .select("vec_id").orderBy("vec_id")
    }),

    // ZCA whitening: trained covariance state (no SQL replica — the
    // ann_index_build convention); correctness is the whitened-
    // covariance ≡ I property pinned in PcaSpec. Benched here so the
    // train-collect + broadcast-apply cost is tracked.
    "emb_zca_whiten" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val w = graft.operators.Pca.zcaLoadings(e, "vec_id", "embedding")
      graft.operators.Pca.project(e, "vec_id", "embedding", w)
        .select(col("vec_id"), posexplode(col("vec")))
        .toDF("vec_id", "dim", "value")
        .orderBy("vec_id", "dim")
    }))

  val benchBuilds: Map[String, (SparkSession, String) => Unit] = Map(
    "text_bm25_index_build" -> ((s, dir) => buildBm25Index(s, dir)),
    "dedup_minhash_index_build" -> ((s, dir) => buildSigIndex(s, dir)),
    "ann_index_build" -> ((s, dir) => buildVecIndex(s, dir)),
    "ann_fixed_index_build" -> ((s, dir) => buildFixedVecIndex(s, dir)),
    "ann_fixed_res_index_build" -> ((s, dir) => buildFixedResVecIndex(s, dir)),
    "text_ann_index_build" -> ((s, dir) => buildTextVecIndex(s, dir)),
    "sem_dedup_base_build" -> ((s, dir) => buildSemBase(s, dir)))

  /** One corpus pass trains + encodes + persists the IVF-PQ index the
    * ann_ivfpq_indexed query reads back. Residual encoding (FAISS
    * style): codes quantize v − centroid[cell] — tighter quantization
    * at identical byte cost; the query path auto-detects the mode from
    * the stored codebooks.
    */
  private def buildVecIndex(s: SparkSession, dir: String): Unit =
    Similarity.writeVectorIndex(t(s, dir, "embeddings"), "vec_id",
      "embedding", "graft_vec_index", AnnNlist, AnnNsub, AnnKsub,
      residual = true)

  /** Incremental-maintenance fixture: base index over the older ~80% of
    * vectors, newest batch appended with the stored model. The split
    * point scales with the fixture (max/5) so every sfDir exercises a
    * non-trivial append batch. FIXED model (SemCents + PqBooks,
    * residual-encoded): append-time encode is model-pure, so the final
    * index is byte-identical to a full fixed build regardless of the
    * split — which is what lets ann_ivfpq_append hash-match the DuckDB
    * full-build replica.
    */
  private def buildIncVecIndex(s: SparkSession, dir: String): Unit = {
    val emb = t(s, dir, "embeddings")
    val cut = emb.agg(org.apache.spark.sql.functions.max(col("vec_id"))
      .cast("long")).head().getLong(0) / 5
    Similarity.writeVectorIndexWithModel(emb.filter(col("vec_id") >= cut),
      "vec_id", "embedding", "graft_vec_index_inc", SemCents, PqBooks,
      residual = true)
    Similarity.appendVectors(s, "graft_vec_index_inc",
      emb.filter(col("vec_id") < cut), "vec_id", "embedding")
  }

  /** Fixed-model stored index (no KMeans): SemCents coarse cells +
    * PqBooks codebooks over the raw embeddings — the fully-
    * deterministic build whose query path ann_ivfpq_indexed_fixed
    * hash-matches against DuckDB.
    */
  private def buildFixedVecIndex(s: SparkSession, dir: String): Unit =
    Similarity.writeVectorIndexWithModel(t(s, dir, "embeddings"), "vec_id",
      "embedding", "graft_vec_index_fixed", SemCents, PqBooks)

  /** Same fixed model, residual-encoded — the FAISS refinement the
    * trained build defaults to, oracle-checked via DuckDB's
    * float32-exact FLOAT arithmetic.
    */
  private def buildFixedResVecIndex(s: SparkSession, dir: String): Unit =
    Similarity.writeVectorIndexWithModel(t(s, dir, "embeddings"), "vec_id",
      "embedding", "graft_vec_index_fixed_res", SemCents, PqBooks,
      residual = true)

  /** The text-modality stored index: feature-hashed document
    * embeddings encoded under the same fixed model — the build half of
    * text_hash_ann_indexed.
    */
  private def buildTextVecIndex(s: SparkSession, dir: String): Unit =
    Similarity.writeVectorIndexWithModel(
      TextEmbedding.hashedEmbeddings(t(s, dir, "documents"), "doc_id",
        "text", HashDim),
      "doc_id", "vec", "graft_text_vec_index", SemCents, PqBooks)

  private def buildBm25Index(s: SparkSession, dir: String): Unit =
    graft.operators.Retrieval.writeIndex(t(s, dir, "documents"),
      "doc_id", "text", "graft_bm25_postings")

  /** The incremental-dedup fixture's "existing corpus" signatures
    * (doc_id % 4 != 0), persisted as the bucketed physical index the
    * incremental band join reads back.
    */
  /** The incremental-SemDeDup base: the vec_id<400 corpus deduped once
    * with the fixed centroids and persisted (id + embedding) — the
    * "already-deduplicated corpus" a daily increment runs against, so
    * the sem_dedup_incremental query prices the increment, not a
    * re-dedup of history.
    */
  private def buildSemBase(s: SparkSession, dir: String): Unit =
    graft.sources.IO.writeBucketedTable(
      Similarity.semDedupWithCentroids(
        t(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", SemCents, 0.4)
        .select("vec_id", "embedding"),
      "graft_sem_base", "vec_id", buckets = 4)

  private def buildSigIndex(s: SparkSession, dir: String): Unit =
    graft.sources.IO.writeBucketedTable(
      Dedup.minHashSignatures(
        t(s, dir, "documents").filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", ShingleN, Bands * RowsPerBand),
      "graft_sig_index", "doc_id", buckets = 8)

  val oracle: Map[String, String] = Map(
    "text_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |vocab AS (
         |  SELECT term FROM (
         |    SELECT term, count(*) AS n FROM toks GROUP BY 1
         |    ORDER BY n DESC, term LIMIT $OovVocabN)),
         |per AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |         CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM toks t LEFT JOIN vocab v USING (term) GROUP BY 1)
         |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
         |       coalesce(p.n_oov, 0) AS n_oov,
         |       CASE WHEN coalesce(p.n_tokens, 0) > 0
         |         THEN ${Rounding.sqlPround("CAST(p.n_oov AS DOUBLE) / p.n_tokens", 6)}
         |         ELSE 0.0 END AS oov_rate
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "sketch_kmv_estimate" ->
      s"""WITH dv AS (
         |  SELECT DISTINCT source AS g, term AS v FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)),
         |ex AS (SELECT g, count(*) AS n_exact FROM dv GROUP BY g),
         |kth AS (
         |  SELECT g, count(*) AS n_seen, max(h) AS kth FROM (
         |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
         |    FROM (SELECT g, md5(v) AS h FROM dv))
         |  WHERE r <= $KmvK GROUP BY g),
         |est AS (
         |  SELECT g, n_seen,
         |    ${hex13ToDouble("kth")} / 4503599627370496.0 AS frac
         |  FROM kth),
         |fin AS (
         |  SELECT e.g, x.n_exact,
         |    CASE WHEN e.n_seen < $KmvK OR e.frac <= 0.0 THEN e.n_seen
         |         ELSE CAST(floor(${KmvK - 1}.0 / e.frac + 0.5) AS BIGINT)
         |    END AS kmv_est
         |  FROM est e JOIN ex x USING (g))
         |SELECT g AS source, n_exact, kmv_est,
         |  ${Rounding.sqlPround("CAST(abs(kmv_est - n_exact) AS DOUBLE) / n_exact", 6)} AS rel_err
         |FROM fin ORDER BY source""".stripMargin,
    "sketch_kmv_intersect" ->
      s"""WITH dv AS (
         |  SELECT DISTINCT source AS g, term AS v FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)),
         |bk AS (SELECT g, h FROM (
         |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
         |    FROM (SELECT g, md5(v) AS h FROM dv)) WHERE r <= $KmvK),
         |th AS (SELECT g,
         |         CASE WHEN count(*) < $KmvK THEN CAST(1.0 AS DOUBLE)
         |              ELSE ${hex13ToDouble("max(h)")} / 4503599627370496.0
         |         END AS theta
         |       FROM bk GROUP BY g),
         |sh AS (SELECT a.g AS g1, b.g AS g2, a.h
         |       FROM bk a JOIN bk b ON a.h = b.h AND a.g < b.g),
         |je AS (SELECT sh.g1, sh.g2, sh.h,
         |         least(t1.theta, t2.theta) AS theta
         |       FROM sh JOIN th t1 ON t1.g = sh.g1
         |               JOIN th t2 ON t2.g = sh.g2),
         |fl AS (SELECT g1, g2, theta FROM je
         |       WHERE ${hex13ToDouble("h")} / 4503599627370496.0 < theta),
         |ag AS (SELECT g1, g2, CAST(count(*) AS BIGINT) AS n_below,
         |         max(theta) AS theta
         |       FROM fl GROUP BY 1, 2),
         |ex AS (SELECT a.g AS g1, b.g AS g2,
         |         CAST(count(*) AS BIGINT) AS n_exact
         |       FROM dv a JOIN dv b ON a.v = b.v AND a.g < b.g
         |       GROUP BY 1, 2),
         |fin AS (
         |  SELECT ag.g1, ag.g2, ex.n_exact,
         |    CASE WHEN ag.theta >= 1.0 THEN ag.n_below
         |         ELSE CAST(floor(CAST(ag.n_below AS DOUBLE) / ag.theta
         |                         + 0.5) AS BIGINT)
         |    END AS inter_est
         |  FROM ag JOIN ex ON ex.g1 = ag.g1 AND ex.g2 = ag.g2)
         |SELECT g1, g2, n_exact, inter_est,
         |  ${Rounding.sqlPround(
            "CAST(abs(inter_est - n_exact) AS DOUBLE) / n_exact", 6)}
         |    AS rel_err
         |FROM fin ORDER BY g1, g2""".stripMargin,
    "dq_value_outliers" ->
      s"""WITH med AS (
         |  SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM events GROUP BY event_type),
         |wm AS (
         |  SELECT e.event_id, e.event_type, e.value, m.med
         |  FROM events e JOIN med m USING (event_type)),
         |mad AS (
         |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
         |  FROM wm GROUP BY event_type),
         |rz AS (
         |  SELECT w.event_id, w.event_type, w.value,
         |    CASE WHEN d.mad = 0.0 THEN 0.0
         |         ELSE ${Rounding.sqlPround("(0.6745 * (w.value - w.med)) / d.mad", 9)}
         |    END AS rz
         |  FROM wm w JOIN mad d USING (event_type))
         |SELECT event_id, event_type, value, rz, abs(rz) > 3.5 AS is_outlier
         |FROM rz ORDER BY event_id""".stripMargin,
    "dq_k_anonymity" ->
      """WITH g AS (
        |  SELECT lang, source,
        |         CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
        |         count(*) AS anonymity_k
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source, len_bucket, anonymity_k,
        |       anonymity_k < 5 AS at_risk
        |FROM g ORDER BY lang, source, len_bucket""".stripMargin,
    "dq_l_diversity" ->
      """WITH v AS (
        |  SELECT event_type, user_id % 25 AS cohort,
        |         CAST(floor(value / 100) AS BIGINT) AS sensitive
        |  FROM events),
        |g AS (
        |  SELECT event_type, cohort, count(*) AS anonymity_k,
        |         count(DISTINCT sensitive) AS diversity_l
        |  FROM v GROUP BY 1, 2)
        |SELECT event_type, cohort, anonymity_k, diversity_l,
        |       diversity_l < 3 AS at_risk
        |FROM g ORDER BY event_type, cohort""".stripMargin,
    "dq_event_rate_anomaly" -> {
      val sd = "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nh) / (nh - 1))"
      s"""WITH h AS (
         |  SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events
         |  FROM events GROUP BY 1),
         |st AS (
         |  SELECT count(*) AS nh, sum(n_events) AS s1,
         |         sum(n_events * n_events) AS s2 FROM h),
         |z AS (
         |  SELECT h.hour, h.n_events,
         |    CASE WHEN $sd = 0.0 THEN 0.0
         |         ELSE ${Rounding.sqlPround(
        s"(h.n_events - CAST(s1 AS DOUBLE) / nh) / $sd", 9)}
         |    END AS z
         |  FROM h, st)
         |SELECT hour, n_events, z, abs(z) > 3.0 AS is_anomaly
         |FROM z ORDER BY hour""".stripMargin
    },
    // Greedy earliest-next funnel replica: t2 = earliest step-2 after
    // each step-1 instant, t3 = earliest step-3 after t2 (greedy is
    // depth-optimal — each greedy timestamp lower-bounds any rival
    // chain's), level from the window check on integer µs.
    "funnel_window" -> {
      val wUs = FunnelWindowSec * 1000000L
      s"""WITH s1 AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t1
         |            FROM events WHERE event_type = '${FunnelSteps(0)}'),
         |c2 AS (SELECT s1.k, s1.t1, min(epoch_us(e.ts)) AS t2
         |       FROM s1 LEFT JOIN events e
         |         ON e.user_id = s1.k AND e.event_type = '${FunnelSteps(1)}'
         |        AND epoch_us(e.ts) > s1.t1
         |       GROUP BY 1, 2),
         |c3 AS (SELECT c2.k, c2.t1, c2.t2, min(epoch_us(e.ts)) AS t3
         |       FROM c2 LEFT JOIN events e
         |         ON e.user_id = c2.k AND e.event_type = '${FunnelSteps(2)}'
         |        AND c2.t2 IS NOT NULL AND epoch_us(e.ts) > c2.t2
         |       GROUP BY 1, 2, 3),
         |lv AS (SELECT k, CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $wUs THEN 3
         |                      WHEN t2 IS NOT NULL AND t2 - t1 <= $wUs THEN 2
         |                      ELSE 1 END AS level
         |       FROM c3)
         |SELECT k AS user_id, CAST(max(level) AS INT) AS funnel_level
         |FROM lv GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    // strict_order replica: beside each greedy step min, the min over
    // ALL events after the position — the step is valid only when the
    // two coincide (nothing intervenes; ta ≤ t always since step
    // events are a subset, so equality is the no-intervening test).
    "funnel_window_strict_order" -> {
      val wUs = FunnelWindowSec * 1000000L
      s"""WITH s1 AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t1
         |            FROM events WHERE event_type = '${FunnelSteps(0)}'),
         |n2 AS (SELECT s1.k, s1.t1,
         |         min(CASE WHEN e.event_type = '${FunnelSteps(1)}'
         |                  THEN epoch_us(e.ts) END) AS t2,
         |         min(epoch_us(e.ts)) AS ta2
         |       FROM s1 LEFT JOIN events e
         |         ON e.user_id = s1.k AND epoch_us(e.ts) > s1.t1
         |       GROUP BY 1, 2),
         |c2 AS (SELECT k, t1,
         |              CASE WHEN t2 IS NOT NULL AND t2 = ta2 THEN t2 END AS t2
         |       FROM n2),
         |n3 AS (SELECT c2.k, c2.t1, c2.t2,
         |         min(CASE WHEN e.event_type = '${FunnelSteps(2)}'
         |                  THEN epoch_us(e.ts) END) AS t3,
         |         min(epoch_us(e.ts)) AS ta3
         |       FROM c2 LEFT JOIN events e
         |         ON e.user_id = c2.k AND c2.t2 IS NOT NULL
         |        AND epoch_us(e.ts) > c2.t2
         |       GROUP BY 1, 2, 3),
         |c3 AS (SELECT k, t1, t2,
         |              CASE WHEN t3 IS NOT NULL AND t3 = ta3 THEN t3 END AS t3
         |       FROM n3),
         |lv AS (SELECT k, CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $wUs THEN 3
         |                      WHEN t2 IS NOT NULL AND t2 - t1 <= $wUs THEN 2
         |                      ELSE 1 END AS level
         |       FROM c3)
         |SELECT k AS user_id, CAST(max(level) AS INT) AS funnel_level
         |FROM lv GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    // strict_dedup replica: beside each greedy step min, the min over
    // events repeating an ALREADY-matched condition — the step is
    // valid only when no such repeat lands strictly before it (a
    // repeat AT the step instant is allowed, so repeated-condition
    // patterns stay satisfiable).
    "funnel_window_strict_dedup" -> {
      val wUs = FunnelWindowSec * 1000000L
      s"""WITH s1 AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t1
         |            FROM events WHERE event_type = '${FunnelSteps(0)}'),
         |n2 AS (SELECT s1.k, s1.t1,
         |         min(CASE WHEN e.event_type = '${FunnelSteps(1)}'
         |                  THEN epoch_us(e.ts) END) AS t2,
         |         min(CASE WHEN e.event_type = '${FunnelSteps(0)}'
         |                  THEN epoch_us(e.ts) END) AS d2
         |       FROM s1 LEFT JOIN events e
         |         ON e.user_id = s1.k AND epoch_us(e.ts) > s1.t1
         |       GROUP BY 1, 2),
         |c2 AS (SELECT k, t1,
         |              CASE WHEN t2 IS NOT NULL AND (d2 IS NULL OR t2 <= d2)
         |                   THEN t2 END AS t2
         |       FROM n2),
         |n3 AS (SELECT c2.k, c2.t1, c2.t2,
         |         min(CASE WHEN e.event_type = '${FunnelSteps(2)}'
         |                  THEN epoch_us(e.ts) END) AS t3,
         |         min(CASE WHEN e.event_type IN ('${FunnelSteps(0)}',
         |                  '${FunnelSteps(1)}') THEN epoch_us(e.ts) END) AS d3
         |       FROM c2 LEFT JOIN events e
         |         ON e.user_id = c2.k AND c2.t2 IS NOT NULL
         |        AND epoch_us(e.ts) > c2.t2
         |       GROUP BY 1, 2, 3),
         |c3 AS (SELECT k, t1, t2,
         |              CASE WHEN t3 IS NOT NULL AND (d3 IS NULL OR t3 <= d3)
         |                   THEN t3 END AS t3
         |       FROM n3),
         |lv AS (SELECT k, CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $wUs THEN 3
         |                      WHEN t2 IS NOT NULL AND t2 - t1 <= $wUs THEN 2
         |                      ELSE 1 END AS level
         |       FROM c3)
         |SELECT k AS user_id, CAST(max(level) AS INT) AS funnel_level
         |FROM lv GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    // KM replica: subject grain, per-duration death/censor counts,
    // inclusive DESC running sum for the risk set, exp(Σ prounded ln)
    // with the dead-flag tail pin.
    "retention_kaplan_meier" -> {
      val lnTerm = Rounding.sqlPround(
        "ln(1.0 - CAST(d AS DOUBLE)/CAST(n_risk AS DOUBLE))", 9)
      s"""WITH subj AS (
         |  SELECT user_id % 4 AS cohort,
         |    CAST(date_diff('day', CAST(min(ts) AS DATE),
         |                   CAST(max(ts) AS DATE)) AS INT) AS duration,
         |    max(ts) < TIMESTAMP '2024-01-25 00:00:00' AS churned
         |  FROM events GROUP BY user_id),
         |pt AS (SELECT cohort, duration,
         |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END)
         |           AS BIGINT) AS d,
         |         CAST(sum(CASE WHEN NOT churned THEN 1 ELSE 0 END)
         |           AS BIGINT) AS censored
         |       FROM subj GROUP BY 1, 2),
         |r AS (SELECT *, CAST(sum(d + censored) OVER (PARTITION BY cohort
         |        ORDER BY duration DESC ROWS UNBOUNDED PRECEDING)
         |        AS BIGINT) AS n_risk
         |      FROM pt),
         |st AS (SELECT *,
         |        sum(CAST(CASE WHEN d > 0 AND d < n_risk THEN $lnTerm
         |                      ELSE 0.0 END AS DECIMAL(38,12)))
         |          OVER (PARTITION BY cohort ORDER BY duration
         |                ROWS UNBOUNDED PRECEDING) AS lnsum,
         |        max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY cohort ORDER BY duration
         |                ROWS UNBOUNDED PRECEDING) AS dead
         |      FROM r)
         |SELECT cohort, duration, n_risk, d, censored,
         |  CASE WHEN dead = 1 THEN CAST(0.0 AS DOUBLE)
         |       ELSE ${Rounding.sqlPround("exp(CAST(lnsum AS DOUBLE))", 9)}
         |  END AS survival
         |FROM st ORDER BY cohort, duration""".stripMargin
    },
    "retention_cohort" -> {
      val size = "max(CASE WHEN day_offset = 0 THEN active_users END) " +
        "OVER (PARTITION BY cohort_day)"
      s"""WITH days AS (SELECT user_id AS k, CAST(ts AS DATE) AS d, event_type
         |              FROM events),
         |cohort AS (SELECT k, min(d) AS cohort_day FROM days
         |           WHERE event_type = 'signup' GROUP BY 1),
         |active AS (SELECT DISTINCT k, d FROM days),
         |counts AS (SELECT cohort_day,
         |                  CAST(date_diff('day', cohort_day, d) AS INT) AS day_offset,
         |                  count(DISTINCT a.k) AS active_users
         |           FROM cohort c JOIN active a ON a.k = c.k
         |           WHERE date_diff('day', cohort_day, d)
         |                 BETWEEN 0 AND $RetentionDays
         |           GROUP BY 1, 2)
         |SELECT cohort_day, day_offset, active_users, $size AS cohort_size,
         |       ${Rounding.sqlPround(s"CAST(active_users AS DOUBLE) / ($size)", 6)} AS retained_rate
         |FROM counts ORDER BY cohort_day, day_offset""".stripMargin
    },
    // Unbounded spanning chain: greedy from the EARLIEST step-1 event
    // is exact (no window bound, so the earliest start dominates every
    // rival chain by the funnel induction) — three min-aggregates.
    "seq_match_spanning" ->
      s"""WITH s1 AS (SELECT user_id AS k, min(epoch_us(ts)) AS t1
         |            FROM events WHERE event_type = '${SeqSpanConds(0)}'
         |            GROUP BY 1),
         |c2 AS (SELECT s1.k, min(epoch_us(e.ts)) AS t2
         |       FROM s1 JOIN events e
         |         ON e.user_id = s1.k AND e.event_type = '${SeqSpanConds(1)}'
         |        AND epoch_us(e.ts) > s1.t1
         |       GROUP BY 1),
         |c3 AS (SELECT c2.k, min(epoch_us(e.ts)) AS t3
         |       FROM c2 JOIN events e
         |         ON e.user_id = c2.k AND e.event_type = '${SeqSpanConds(2)}'
         |        AND epoch_us(e.ts) > c2.t2
         |       GROUP BY 1)
         |SELECT s1.k AS user_id, (c3.k IS NOT NULL) AS matched
         |FROM s1 LEFT JOIN c3 ON c3.k = s1.k
         |ORDER BY user_id""".stripMargin,
    // Timed-match replica: valid level-(i+1) positions are candidate
    // events with SOME valid level-i position strictly earlier and
    // within the gap — the reachability semantics, spelled as EXISTS
    // over the previous level's position set.
    "seq_match_timed" -> {
      val gUs = SeqTimedGapSec * 1000000L
      s"""WITH sg AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |            FROM events WHERE event_type = '${SeqSpanConds(0)}'),
         |vw AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |       FROM events WHERE event_type = '${SeqSpanConds(1)}'),
         |pu AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |       FROM events WHERE event_type = '${SeqSpanConds(2)}'),
         |v2 AS (SELECT vw.k, vw.t FROM vw WHERE EXISTS
         |        (SELECT 1 FROM sg WHERE sg.k = vw.k AND sg.t < vw.t
         |         AND vw.t - sg.t <= $gUs)),
         |v3 AS (SELECT DISTINCT pu.k FROM pu WHERE EXISTS
         |        (SELECT 1 FROM v2 WHERE v2.k = pu.k AND v2.t < pu.t
         |         AND pu.t - v2.t <= $gUs)),
         |keys AS (SELECT DISTINCT k FROM sg)
         |SELECT keys.k AS user_id, (v3.k IS NOT NULL) AS matched
         |FROM keys LEFT JOIN v3 ON v3.k = keys.k
         |ORDER BY user_id""".stripMargin
    },
    "seq_match_min_gap" ->
      s"""WITH sg AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |            FROM events WHERE event_type = '${SeqSpanConds(0)}'),
         |vw AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |       FROM events WHERE event_type = '${SeqSpanConds(1)}'),
         |pu AS (SELECT DISTINCT user_id AS k, epoch_us(ts) AS t
         |       FROM events WHERE event_type = '${SeqSpanConds(2)}'),
         |v2 AS (SELECT vw.k, vw.t FROM vw WHERE EXISTS
         |        (SELECT 1 FROM sg WHERE sg.k = vw.k AND sg.t < vw.t
         |         AND vw.t - sg.t <= ${7200L * 1000000L})),
         |v3 AS (SELECT DISTINCT pu.k FROM pu WHERE EXISTS
         |        (SELECT 1 FROM v2 WHERE v2.k = pu.k AND v2.t < pu.t
         |         AND pu.t - v2.t >= ${86400L * 1000000L})),
         |keys AS (SELECT DISTINCT k FROM sg)
         |SELECT keys.k AS user_id, (v3.k IS NOT NULL) AS matched
         |FROM keys LEFT JOIN v3 ON v3.k = keys.k
         |ORDER BY user_id""".stripMargin,
    "seq_count_pairs" ->
      s"""WITH f AS (
         |  SELECT user_id AS k, ts, event_id,
         |         CASE WHEN event_type = 'view' THEN 1
         |              WHEN event_type = 'click' THEN 2 END AS lab
         |  FROM events WHERE event_type IN ('view', 'click')),
         |l AS (SELECT k, lab,
         |             lag(lab) OVER (PARTITION BY k ORDER BY ts, event_id)
         |               AS prev
         |      FROM f)
         |SELECT k AS user_id,
         |       CAST(sum(CASE WHEN prev = 1 AND lab = 2 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS pair_count,
         |       CAST(sum(CASE WHEN prev = 1 AND lab = 2 THEN 1 ELSE 0 END)
         |            AS BIGINT) > 0 AS matched
         |FROM l GROUP BY 1 ORDER BY user_id""".stripMargin,
    "seq_count_triples" ->
      s"""WITH f AS (
         |  SELECT user_id AS k, ts, event_id,
         |         CASE WHEN event_type = 'view' THEN 1
         |              WHEN event_type = 'click' THEN 2
         |              WHEN event_type = 'purchase' THEN 3 END AS lab
         |  FROM events
         |  WHERE event_type IN ('view', 'click', 'purchase')),
         |l AS (SELECT k, lab, lag(lab, 1) OVER w AS p1,
         |             lag(lab, 2) OVER w AS p2
         |      FROM f WINDOW w AS (PARTITION BY k ORDER BY ts, event_id))
         |SELECT k AS user_id,
         |       CAST(sum(CASE WHEN lab = 3 AND p1 = 2 AND p2 = 1
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS run_count,
         |       CAST(sum(CASE WHEN lab = 3 AND p1 = 2 AND p2 = 1
         |                     THEN 1 ELSE 0 END) AS BIGINT) > 0 AS matched
         |FROM l GROUP BY 1 ORDER BY user_id""".stripMargin,
    "sketch_hll_estimate" -> hllEstimateOracle("CAST(user_id AS VARCHAR)"),
    "sketch_hll_dense" -> hllEstimateOracle("CAST(event_id AS VARCHAR)"),
    "agg_group_array_sorted" ->
      s"""SELECT event_type,
         |       string_agg(user_id, ',' ORDER BY user_id) AS first_users
         |FROM (
         |  SELECT event_type, user_id, row_number() OVER (
         |    PARTITION BY event_type ORDER BY user_id) AS rn
         |  FROM events)
         |WHERE rn <= $GroupArrayN
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_retention" ->
      s"""SELECT user_id,
         |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1 AS r1,
         |  (max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1 AND
         |   max(CASE WHEN event_type = 'purchase' AND value > 150
         |       THEN 1 ELSE 0 END) = 1) AS r2,
         |  (max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 1 AND
         |   max(CASE WHEN event_type = 'error' AND value > 95
         |       THEN 1 ELSE 0 END) = 1) AS r3
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_delta_sum" ->
      s"""WITH v AS (SELECT user_id AS k, ts, event_id,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |           FROM events),
         |d AS (SELECT k, v - lag(v) OVER (PARTITION BY k ORDER BY ts, event_id)
         |             AS d
         |      FROM v)
         |SELECT k AS user_id,
         |       CAST(coalesce(sum(CASE WHEN d > 0 THEN d END), 0) AS BIGINT)
         |         AS delta_sum
         |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_sum_map" ->
      s"""WITH p AS (SELECT user_id AS k, event_type AS mk,
         |             sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS s
         |           FROM events GROUP BY 1, 2)
         |SELECT k AS user_id,
         |       string_agg(mk, ',' ORDER BY mk) AS map_keys,
         |       string_agg(s, ',' ORDER BY mk) AS map_sums
         |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_group_uniq_array" ->
      s"""WITH dv AS (SELECT DISTINCT event_type, user_id FROM events),
         |r AS (SELECT event_type, user_id, row_number() OVER (
         |        PARTITION BY event_type ORDER BY user_id) AS rn
         |      FROM dv)
         |SELECT event_type,
         |       string_agg(user_id, ',' ORDER BY user_id) AS uniq_users
         |FROM r WHERE rn <= $UniqUpToN
         |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "agg_uniq_upto" ->
      s"""SELECT user_id,
         |       least(count(DISTINCT CAST(floor(value/10) AS INT)),
         |             ${UniqUpToN + 1}) AS uniq_upto
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_arg_minmax" ->
      s"""WITH v AS (SELECT event_type, user_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value DESC, event_id DESC) AS rx,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value ASC, event_id ASC) AS rn
         |  FROM events WHERE value IS NOT NULL)
         |SELECT event_type,
         |       max(CASE WHEN rx = 1 THEN user_id END) AS arg_max,
         |       max(CASE WHEN rn = 1 THEN user_id END) AS arg_min
         |FROM v GROUP BY 1 ORDER BY event_type""".stripMargin,
    "agg_interval_length_sum" ->
      s"""WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s,
         |              epoch_us(ts) + CAST(floor(value) AS BIGINT)*3600000000
         |                AS e
         |            FROM events),
         |c AS (SELECT k, s, e,
         |        max(e) OVER (PARTITION BY k ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cov
         |      FROM iv)
         |SELECT k AS user_id,
         |       CAST(sum(greatest(e - greatest(s, coalesce(cov, s)), 0))
         |            AS BIGINT) AS covered_length
         |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_max_intersections" ->
      s"""WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s,
         |              epoch_us(ts) + CAST(floor(value) AS BIGINT)*3600000000
         |                AS e
         |            FROM events),
         |p AS (SELECT k, s AS p, 1 AS d FROM iv WHERE e > s
         |      UNION ALL
         |      SELECT k, e, -1 FROM iv WHERE e > s),
         |r AS (SELECT k, sum(d) OVER (PARTITION BY k ORDER BY p, d
         |        ROWS UNBOUNDED PRECEDING) AS o
         |      FROM p)
         |SELECT k AS user_id, CAST(max(o) AS BIGINT) AS max_intersections
         |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_running_difference" ->
      s"""WITH v AS (SELECT event_id, user_id,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS v, ts
         |           FROM events)
         |SELECT event_id, user_id,
         |       CAST(coalesce(v - lag(v) OVER (PARTITION BY user_id
         |         ORDER BY ts, event_id), 0) AS BIGINT) AS running_diff
         |FROM v ORDER BY event_id""".stripMargin,
    "agg_moving_avg" ->
      s"""WITH v AS (SELECT user_id AS k, ts, event_id,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |           FROM events),
         |m AS (SELECT k, ts, event_id,
         |        sum(v) OVER (PARTITION BY k ORDER BY ts, event_id
         |          ROWS BETWEEN ${MovingSumW - 1} PRECEDING AND CURRENT ROW)
         |          AS ms
         |      FROM v)
         |SELECT k AS user_id,
         |       CAST(row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
         |            AS INT) - 1 AS pos,
         |       ${Rounding.sqlPround(
          s"CAST(ms AS DOUBLE) / ${MovingSumW.toDouble}", 9)} AS mov_avg
         |FROM m ORDER BY user_id, pos""".stripMargin,
    "agg_moving_sum" ->
      s"""WITH v AS (SELECT user_id AS k, ts, event_id,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS v
         |           FROM events),
         |m AS (SELECT k, ts, event_id,
         |        sum(v) OVER (PARTITION BY k ORDER BY ts, event_id
         |          ROWS BETWEEN ${MovingSumW - 1} PRECEDING AND CURRENT ROW)
         |          AS ms
         |      FROM v)
         |SELECT k AS user_id,
         |       string_agg(ms, ',' ORDER BY ts, event_id) AS moving_sums
         |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_min_max_map" ->
      s"""WITH p AS (SELECT user_id AS k, event_type AS mk,
         |             min(CAST(floor(value*100 + 0.5) AS BIGINT)) AS mn,
         |             max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS mx
         |           FROM events GROUP BY 1, 2)
         |SELECT k AS user_id,
         |       string_agg(mk, ',' ORDER BY mk) AS map_keys,
         |       string_agg(mn, ',' ORDER BY mk) AS map_mins,
         |       string_agg(mx, ',' ORDER BY mk) AS map_maxs
         |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin,
    "agg_avg_weighted" ->
      s"""WITH v AS (SELECT event_type,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
         |             CAST(date_part('hour', ts) AS BIGINT) + 1 AS w
         |           FROM events),
         |s AS (SELECT event_type, sum(v*w) AS wv, sum(w) AS sw
         |      FROM v GROUP BY 1)
         |SELECT event_type,
         |       CASE WHEN sw <> 0 THEN
         |         ${Rounding.sqlPround(
            "CAST(wv AS DOUBLE) / CAST(sw AS DOUBLE)", 9)}
         |       END AS avg_weighted
         |FROM s ORDER BY event_type""".stripMargin,
    "agg_linear_fit" -> {
      val dx = "(n*sxx - sx*sx)"
      val dy = "(n*syy - sy*sy)"
      val num = "(n*sxy - sx*sy)"
      s"""WITH v AS (SELECT event_type,
         |             CAST(date_part('hour', ts) AS BIGINT) AS x,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS y
         |           FROM events),
         |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
         |             sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx,
         |             sum(y*y) AS syy
         |      FROM v GROUP BY 1)
         |SELECT event_type,
         |  CASE WHEN $dx <> 0 THEN ${Rounding.sqlPround(
            s"CAST($num AS DOUBLE) / CAST($dx AS DOUBLE)", 9)}
         |  END AS slope,
         |  CASE WHEN $dx <> 0 THEN ${Rounding.sqlPround(
            s"CAST(sy*sxx - sx*sxy AS DOUBLE) / CAST($dx AS DOUBLE)", 9)}
         |  END AS intercept,
         |  CASE WHEN $dx <> 0 AND $dy <> 0 THEN ${Rounding.sqlPround(
            s"CAST($num AS DOUBLE) / sqrt(CAST($dx AS DOUBLE) * CAST($dy AS DOUBLE))", 9)}
         |  END AS corr
         |FROM s ORDER BY event_type""".stripMargin
    },
    "agg_entropy" -> {
      val p = "(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))"
      s"""WITH c AS (SELECT user_id AS k, event_type AS v, count(*) AS c
         |           FROM events GROUP BY 1, 2),
         |n AS (SELECT k, sum(c) AS n FROM c GROUP BY 1),
         |t AS (SELECT c.k,
         |        CAST(${Rounding.sqlPround(s"(-$p) * log2($p)", 9)}
         |             AS DECIMAL(38,12)) AS t
         |      FROM c JOIN n ON n.k = c.k)
         |SELECT k AS user_id, CAST(sum(t) AS DOUBLE) AS entropy
         |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    "agg_moments" ->
      s"""WITH s AS (SELECT event_type, count(*) AS n, sum(x) AS s1,
         |             sum(x*x) AS s2, sum(x*x*x) AS s3,
         |             sum(x*x*x*x) AS s4
         |           FROM (SELECT event_type,
         |                   CAST(floor(value/10) AS BIGINT) AS x
         |                 FROM events)
         |           GROUP BY 1),
         |d AS (SELECT event_type, CAST(n AS DOUBLE) AS nd,
         |             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |             CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
         |             CAST(s4 AS DOUBLE) AS s4d
         |      FROM s),
         |m AS (SELECT event_type,
         |        s2d/nd - mu*mu AS m2,
         |        s3d/nd - 3.0*mu*(s2d/nd) + 2.0*mu*mu*mu AS m3,
         |        s4d/nd - 4.0*mu*(s3d/nd) + 6.0*mu*mu*(s2d/nd)
         |          - 3.0*mu*mu*mu*mu AS m4
         |      FROM d)
         |SELECT event_type,
         |  ${Rounding.sqlPround("sqrt(greatest(m2, 0.0))", 9)} AS stddev_pop,
         |  CASE WHEN m2 > 0 THEN
         |    ${Rounding.sqlPround("m3 / (m2 * sqrt(m2))", 9)}
         |  END AS skew_pop,
         |  CASE WHEN m2 > 0 THEN ${Rounding.sqlPround("m4 / (m2 * m2)", 9)}
         |  END AS kurt_pop
         |FROM m ORDER BY event_type""".stripMargin,
    "agg_if_combinators" -> {
      val cents = "CAST(floor(value*100 + 0.5) AS BIGINT)"
      val sumP = s"CAST(coalesce(sum(CASE WHEN event_type = 'purchase' " +
        s"THEN $cents END), 0) AS BIGINT)"
      val nP = "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
      s"""SELECT user_id,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |       AS BIGINT) AS count_if_view,
         |  $sumP AS sum_if_purchase,
         |  min(CASE WHEN event_type = 'click' THEN $cents END)
         |    AS min_if_click,
         |  max(CASE WHEN event_type = 'click' THEN $cents END)
         |    AS max_if_click,
         |  CASE WHEN $nP > 0 THEN
         |    ${Rounding.sqlPround(
          s"CAST($sumP AS DOUBLE) / CAST($nP AS DOUBLE)", 9)}
         |  END AS avg_if_purchase
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    "agg_bounding_ratio" ->
      s"""WITH v AS (SELECT user_id AS k,
         |             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |               AS x,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS y, event_id
         |           FROM events),
         |w AS (SELECT k, x, y,
         |        row_number() OVER (PARTITION BY k
         |          ORDER BY x DESC, event_id DESC) AS rx,
         |        row_number() OVER (PARTITION BY k
         |          ORDER BY x ASC, event_id ASC) AS rn
         |      FROM v),
         |g AS (SELECT k,
         |        max(CASE WHEN rx = 1 THEN x END) AS hx,
         |        max(CASE WHEN rx = 1 THEN y END) AS hy,
         |        max(CASE WHEN rn = 1 THEN x END) AS lx,
         |        max(CASE WHEN rn = 1 THEN y END) AS ly
         |      FROM w GROUP BY 1)
         |SELECT k AS user_id,
         |  CASE WHEN hx <> lx THEN ${Rounding.sqlPround(
          "CAST(hy - ly AS DOUBLE) / CAST(hx - lx AS DOUBLE)", 9)}
         |  END AS bounding_ratio
         |FROM g ORDER BY user_id""".stripMargin,
    "agg_cramers_v" ->
      s"""WITH v AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS k,
         |             event_type AS a,
         |             CAST(floor(date_part('hour', ts) / 6) AS BIGINT) AS b
         |           FROM events),
         |cells AS (SELECT k, a, b, count(*) AS nij FROM v GROUP BY 1, 2, 3),
         |rr AS (SELECT k, a, sum(nij) AS ni FROM cells GROUP BY 1, 2),
         |cc AS (SELECT k, b, sum(nij) AS nj FROM cells GROUP BY 1, 2),
         |d AS (SELECT k, sum(nij) AS n, count(DISTINCT a) AS nr,
         |             count(DISTINCT b) AS nc
         |      FROM cells GROUP BY 1),
         |t AS (SELECT cells.k,
         |        CAST(${Rounding.sqlPround(
          "CAST(nij*nij AS DOUBLE) / CAST(ni*nj AS DOUBLE)", 12)}
         |             AS DECIMAL(38,15)) AS t
         |      FROM cells
         |      JOIN rr ON rr.k = cells.k AND rr.a = cells.a
         |      JOIN cc ON cc.k = cells.k AND cc.b = cells.b),
         |s AS (SELECT k, sum(t) AS s FROM t GROUP BY 1),
         |f AS (SELECT s.k,
         |        greatest(CAST(d.n AS DOUBLE) * CAST(s.s AS DOUBLE)
         |          - CAST(d.n AS DOUBLE), 0.0) AS chi2,
         |        CAST(d.n AS DOUBLE) AS nd,
         |        least(d.nr - 1, d.nc - 1) AS md
         |      FROM s JOIN d ON d.k = s.k)
         |SELECT k AS week, ${Rounding.sqlPround("chi2", 6)} AS chi2,
         |  CASE WHEN md > 0 THEN
         |    ${Rounding.sqlPround("sqrt(chi2 / (nd * CAST(md AS DOUBLE)))", 9)}
         |  END AS cramers_v,
         |  ${Rounding.sqlPround("sqrt(chi2 / (chi2 + nd))", 9)}
         |    AS contingency_coef
         |FROM f ORDER BY week""".stripMargin,
    "seq_next_node_backward" ->
      s"""WITH v AS (SELECT user_id AS k, event_type,
         |             row_number() OVER w AS rn,
         |             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS c0,
         |             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1
         |           FROM events
         |           WINDOW w AS (PARTITION BY user_id
         |                        ORDER BY ts DESC, event_id DESC)),
         |l AS (SELECT k, rn, c0, lead(c1, 1) OVER w2 AS n1,
         |             lead(event_type, 2) OVER w2 AS nxt
         |      FROM v WINDOW w2 AS (PARTITION BY k ORDER BY rn)),
         |cand AS (SELECT k, nxt, row_number() OVER (
         |           PARTITION BY k ORDER BY rn) AS r2
         |         FROM l WHERE c0 = 1 AND n1 = 1),
         |keys AS (SELECT DISTINCT user_id AS k FROM events)
         |SELECT keys.k AS user_id, cand.nxt AS next_node
         |FROM keys LEFT JOIN cand ON cand.k = keys.k AND cand.r2 = 1
         |ORDER BY user_id""".stripMargin,
    "agg_welch_t" -> {
      def vr(ss: String, sv: String, n: String) =
        s"(CAST($ss AS DOUBLE) - CAST($sv AS DOUBLE)*CAST($sv AS DOUBLE)" +
          s"/CAST($n AS DOUBLE)) / (CAST($n AS DOUBLE) - 1.0)"
      s"""WITH v AS (SELECT user_id AS k, event_type = 'purchase' AS a,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS x
         |           FROM events
         |           WHERE event_type IN ('purchase', 'view')),
         |s AS (SELECT k,
         |        sum(CASE WHEN a AND x IS NOT NULL THEN 1 ELSE 0 END) AS n1,
         |        sum(CASE WHEN a THEN x END) AS s1,
         |        sum(CASE WHEN a THEN x*x END) AS ss1,
         |        sum(CASE WHEN NOT a AND x IS NOT NULL THEN 1 ELSE 0 END)
         |          AS n2,
         |        sum(CASE WHEN NOT a THEN x END) AS s2,
         |        sum(CASE WHEN NOT a THEN x*x END) AS ss2
         |      FROM v GROUP BY 1),
         |d AS (SELECT k, n1, n2,
         |        CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) AS m1,
         |        CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE) AS m2,
         |        ${vr("ss1", "s1", "n1")} AS v1,
         |        ${vr("ss2", "s2", "n2")} AS v2
         |      FROM s),
         |e AS (SELECT k, n1, n2, m1, m2, v1, v2,
         |        v1/CAST(n1 AS DOUBLE) AS se1,
         |        v2/CAST(n2 AS DOUBLE) AS se2
         |      FROM d)
         |SELECT k AS user_id,
         |  CASE WHEN n1 >= 2 AND n2 >= 2 AND (v1 > 0 OR v2 > 0) THEN
         |    ${Rounding.sqlPround("(m1 - m2) / sqrt(se1 + se2)", 9)}
         |  END AS t_stat,
         |  CASE WHEN n1 >= 2 AND n2 >= 2 AND (v1 > 0 OR v2 > 0) THEN
         |    ${Rounding.sqlPround(
          "(se1 + se2)*(se1 + se2) / (se1*se1/(CAST(n1 AS DOUBLE) - 1.0)" +
            " + se2*se2/(CAST(n2 AS DOUBLE) - 1.0))", 9)}
         |  END AS df
         |FROM e ORDER BY user_id""".stripMargin
    },
    "agg_mann_whitney_u" ->
      s"""WITH v AS (SELECT user_id AS k, event_type = 'purchase' AS a,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS x
         |           FROM events
         |           WHERE event_type IN ('purchase', 'view')),
         |r AS (SELECT k, a, x,
         |        rank() OVER (PARTITION BY k ORDER BY x) AS rk,
         |        count(*) OVER (PARTITION BY k, x) AS c
         |      FROM v),
         |g AS (SELECT k,
         |        sum(CASE WHEN a THEN 2*rk + (c - 1) END) AS r1x2,
         |        sum(CASE WHEN a THEN 1 ELSE 0 END) AS n1,
         |        sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS n2
         |      FROM r GROUP BY 1)
         |SELECT k AS user_id,
         |  CASE WHEN n1 > 0 AND n2 > 0 THEN
         |    CAST(least(r1x2 - n1*(n1+1),
         |               2*n1*n2 - (r1x2 - n1*(n1+1))) AS DOUBLE) / 2.0
         |  END AS u_stat,
         |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
         |FROM g ORDER BY user_id""".stripMargin,
    // Spearman replica: identical doubled-average-rank spelling; the
    // HUGEINT sums are exact like the Spark DECIMAL(38,0)s, and the
    // final expression casts/sqrts in the same fixed order.
    "agg_rank_corr" -> {
      val corr = "CAST(n*sab - sa*sb AS DOUBLE) / " +
        "(sqrt(CAST(n*saa - sa*sa AS DOUBLE)) * " +
        "sqrt(CAST(n*sbb - sb*sb AS DOUBLE)))"
      s"""WITH v AS (SELECT user_id AS k, event_id AS x,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS y
         |           FROM events WHERE value IS NOT NULL),
         |r AS (SELECT k,
         |        2*rank() OVER (PARTITION BY k ORDER BY x)
         |          + count(*) OVER (PARTITION BY k, x) - 1 AS a,
         |        2*rank() OVER (PARTITION BY k ORDER BY y)
         |          + count(*) OVER (PARTITION BY k, y) - 1 AS b
         |      FROM v),
         |s AS (SELECT k, count(*) AS n, sum(a) AS sa, sum(b) AS sb,
         |        sum(a*a) AS saa, sum(b*b) AS sbb, sum(a*b) AS sab
         |      FROM r GROUP BY 1)
         |SELECT k AS user_id,
         |  CASE WHEN n*saa - sa*sa > 0 AND n*sbb - sb*sb > 0 THEN
         |    ${Rounding.sqlPround(corr, 9)}
         |  END AS rank_corr,
         |  CAST(n AS BIGINT) AS n
         |FROM s ORDER BY user_id""".stripMargin
    },
    // KS replica: per-value tie-group counts, growing-frame ECDF
    // numerators, sup of |c1*n2 - c2*n1| in HUGEINT, one double
    // division.
    "agg_ks_test" ->
      s"""WITH v AS (SELECT user_id AS k, event_type = 'purchase' AS a,
         |             CAST(floor(value*100 + 0.5) AS BIGINT) AS x
         |           FROM events
         |           WHERE event_type IN ('purchase', 'view')
         |             AND value IS NOT NULL),
         |pv AS (SELECT k, x,
         |         sum(CASE WHEN a THEN 1 ELSE 0 END) AS d1,
         |         sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS d2
         |       FROM v GROUP BY 1, 2),
         |c AS (SELECT k,
         |        sum(d1) OVER (PARTITION BY k ORDER BY x
         |          ROWS UNBOUNDED PRECEDING) AS c1,
         |        sum(d2) OVER (PARTITION BY k ORDER BY x
         |          ROWS UNBOUNDED PRECEDING) AS c2,
         |        sum(d1) OVER (PARTITION BY k) AS n1,
         |        sum(d2) OVER (PARTITION BY k) AS n2
         |      FROM pv),
         |g AS (SELECT k, max(abs(c1*n2 - c2*n1)) AS md,
         |        max(n1) AS n1, max(n2) AS n2
         |      FROM c GROUP BY 1)
         |SELECT k AS user_id,
         |  CASE WHEN n1 > 0 AND n2 > 0 THEN
         |    CAST(md AS DOUBLE) / CAST(n1*n2 AS DOUBLE)
         |  END AS d_stat,
         |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
         |FROM g ORDER BY user_id""".stripMargin,
    "agg_proportions_ztest" -> {
      val p1 = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
      val p2 = "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
      val pp = "(CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
      val z = s"($p1 - $p2) / sqrt($pp * (1.0 - $pp) * " +
        "(1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE)))"
      s"""WITH v AS (SELECT event_type AS k, user_id % 2 = 0 AS a,
         |             value > 500 AS y
         |           FROM events WHERE value IS NOT NULL),
         |g AS (SELECT k,
         |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |        CAST(sum(CASE WHEN a AND y THEN 1 ELSE 0 END) AS BIGINT)
         |          AS c1,
         |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n2,
         |        CAST(sum(CASE WHEN NOT a AND y THEN 1 ELSE 0 END)
         |          AS BIGINT) AS c2
         |      FROM v GROUP BY 1)
         |SELECT k AS event_type,
         |  CASE WHEN n1 > 0 AND n2 > 0 AND c1 + c2 > 0
         |            AND c1 + c2 < n1 + n2
         |       THEN ${Rounding.sqlPround(z, 9)}
         |  END AS z_stat,
         |  n1, c1, n2, c2
         |FROM g ORDER BY event_type""".stripMargin
    },
    "corpus_gini" ->
      s"""WITH v AS (SELECT source AS k, n_chars AS x FROM documents
         |           WHERE n_chars IS NOT NULL),
         |r AS (SELECT k, x,
         |        row_number() OVER (PARTITION BY k ORDER BY x) AS i
         |      FROM v),
         |s AS (SELECT k, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
         |      FROM r GROUP BY 1)
         |SELECT k AS source,
         |  CASE WHEN n > 1 AND sx > 0 THEN
         |    ${Rounding.sqlPround(
            "CAST(2*six - (n+1)*sx AS DOUBLE) / CAST(n*sx AS DOUBLE)", 9)}
         |  END AS gini,
         |  CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total
         |FROM s ORDER BY source""".stripMargin,
    // IV/WoE replica: same conditional counts and broadcast totals;
    // the ln prounded, the IV term prounded after the exact-op
    // multiply, zero-sided categories NULL.
    "agg_iv_woe" -> {
      val gr = "(CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE))"
      val br = "(CAST(n_bad AS DOUBLE) / CAST(b AS DOUBLE))"
      s"""WITH v AS (SELECT user_id % 5 AS k,
         |             CAST(floor(value/100) AS BIGINT) AS cat,
         |             event_type = 'purchase' AS o
         |           FROM events WHERE value IS NOT NULL),
         |cells AS (SELECT k, cat,
         |            CAST(sum(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT)
         |              AS n_good,
         |            CAST(sum(CASE WHEN NOT o THEN 1 ELSE 0 END) AS BIGINT)
         |              AS n_bad
         |          FROM v GROUP BY 1, 2),
         |tot AS (SELECT k, sum(n_good) AS g, sum(n_bad) AS b
         |        FROM cells GROUP BY 1),
         |j AS (SELECT cells.*, tot.g, tot.b
         |      FROM cells JOIN tot ON tot.k = cells.k),
         |w AS (SELECT *,
         |        CASE WHEN n_good > 0 AND n_bad > 0 AND g > 0 AND b > 0
         |             THEN ${Rounding.sqlPround(s"ln($gr / $br)", 9)}
         |        END AS woe
         |      FROM j)
         |SELECT k AS cohort, cat AS category, n_good, n_bad, woe,
         |  ${Rounding.sqlPround(s"($gr - $br) * woe", 9)} AS iv_term
         |FROM w ORDER BY cohort, category""".stripMargin
    },
    // Theil's U replica: same three contingency counts; every log2
    // term prounded before the DECIMAL(38,12) sum, final division in
    // the same fixed order.
    "agg_theils_u" -> {
      def pa(c: String, n: String) = s"(CAST($c AS DOUBLE) / CAST($n AS DOUBLE))"
      val tHa = Rounding.sqlPround(s"(-${pa("ca", "n")}) * log2(${pa("ca", "n")})", 9)
      val tHab = Rounding.sqlPround(s"(-${pa("c", "n")}) * log2(${pa("c", "cb")})", 9)
      s"""WITH cells AS (SELECT (user_id % 10) AS k, event_type AS a,
         |                 CAST(floor(value/10) AS BIGINT) AS b,
         |                 count(*) AS c
         |               FROM events WHERE value IS NOT NULL
         |               GROUP BY 1, 2, 3),
         |ma AS (SELECT k, a, sum(c) AS ca FROM cells GROUP BY 1, 2),
         |mb AS (SELECT k, b, sum(c) AS cb FROM cells GROUP BY 1, 2),
         |n AS (SELECT k, sum(c) AS n FROM cells GROUP BY 1),
         |ha AS (SELECT ma.k,
         |         sum(CAST($tHa AS DECIMAL(38,12))) AS ha
         |       FROM ma JOIN n ON n.k = ma.k GROUP BY 1),
         |hab AS (SELECT cells.k,
         |          sum(CAST($tHab AS DECIMAL(38,12))) AS hab
         |        FROM cells
         |        JOIN mb ON mb.k = cells.k AND mb.b = cells.b
         |        JOIN n ON n.k = cells.k GROUP BY 1)
         |SELECT ha.k AS cohort,
         |  CASE WHEN ha > 0 THEN
         |    ${Rounding.sqlPround("CAST(ha - hab AS DOUBLE) / CAST(ha AS DOUBLE)", 9)}
         |  END AS theils_u,
         |  CAST(ha AS DOUBLE) AS h_a, CAST(hab AS DOUBLE) AS h_a_given_b
         |FROM ha JOIN hab ON hab.k = ha.k ORDER BY cohort""".stripMargin
    },
    "agg_topk_weighted" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term,
         |             n_chars
         |           FROM documents),
         |s AS (SELECT term, CAST(sum(n_chars) AS BIGINT) AS weight
         |      FROM t WHERE length(term) > 0 GROUP BY 1)
         |SELECT term, weight FROM s
         |ORDER BY weight DESC, term LIMIT 10""".stripMargin,
    "agg_histogram" ->
      s"""WITH v AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
         |           FROM events WHERE value IS NOT NULL),
         |b AS (SELECT k, min(v) AS lo, max(v) AS hi FROM v GROUP BY 1),
         |i AS (SELECT v.k, b.lo, b.hi,
         |        CASE WHEN b.hi = b.lo THEN 0
         |             ELSE CAST(least(floor((v.v - b.lo) * 8.0
         |                    / (b.hi - b.lo)), 7) AS BIGINT)
         |        END AS bin
         |      FROM v JOIN b ON b.k = v.k)
         |SELECT k AS event_type, bin,
         |  ${Rounding.sqlPround(
          "lo + CAST(bin AS DOUBLE) * ((hi - lo) / 8.0)", 9)} AS bin_lo,
         |  ${Rounding.sqlPround(
          "lo + (CAST(bin AS DOUBLE) + 1.0) * ((hi - lo) / 8.0)", 9)}
         |    AS bin_hi,
         |  count(*) AS bin_count
         |FROM i GROUP BY 1, 2, lo, hi
         |ORDER BY event_type, bin""".stripMargin,
    "agg_bit_ops" ->
      s"""SELECT user_id,
         |  bit_and(CAST(floor(value) AS BIGINT)) AS bits_and,
         |  bit_or(CAST(floor(value) AS BIGINT)) AS bits_or,
         |  bit_xor(CAST(floor(value) AS BIGINT)) AS bits_xor
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "seq_next_node" ->
      s"""WITH v AS (SELECT user_id AS k, event_type,
         |             row_number() OVER w AS rn,
         |             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS c0,
         |             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1
         |           FROM events
         |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |l AS (SELECT k, rn, c0, lead(c1, 1) OVER w2 AS n1,
         |             lead(event_type, 2) OVER w2 AS nxt
         |      FROM v WINDOW w2 AS (PARTITION BY k ORDER BY rn)),
         |cand AS (SELECT k, nxt, row_number() OVER (
         |           PARTITION BY k ORDER BY rn) AS r2
         |         FROM l WHERE c0 = 1 AND n1 = 1),
         |keys AS (SELECT DISTINCT user_id AS k FROM events)
         |SELECT keys.k AS user_id, cand.nxt AS next_node
         |FROM keys LEFT JOIN cand ON cand.k = keys.k AND cand.r2 = 1
         |ORDER BY user_id""".stripMargin,
    "sketch_hll_overlap" -> {
      def est(sOcc: String, occ: String): String = {
        val sInt = s"CAST($sOcc + (256 - $occ) * 9007199254740992 AS DOUBLE)"
        s"""CASE WHEN ($HllC2 / $sInt) <= 640.0 AND (256 - $occ) > 0
           |  THEN ${Rounding.sqlPround(s"256.0 * ln(256.0 / CAST(256 - $occ AS DOUBLE))", 6)}
           |  ELSE ${Rounding.sqlPround(s"$HllC2 / $sInt", 6)} END""".stripMargin
      }
      val hex2 = "(strpos('0123456789abcdef', substr(h,1,1))-1)*16" +
        " + (strpos('0123456789abcdef', substr(h,2,1))-1)"
      s"""WITH toks AS (
         |  SELECT source AS g, unnest(string_split(text, ' ')) AS v
         |  FROM documents),
         |dv AS (SELECT DISTINCT g, v FROM toks),
         |hh AS (SELECT g, md5(v) AS h FROM dv),
         |r AS (SELECT g, CAST($hex2 AS INT) AS bucket,
         |             CAST(${hex13ToDouble("substr(h,3,13)")} AS BIGINT) AS w
         |      FROM hh),
         |regs AS (SELECT g, bucket,
         |                max(CASE WHEN w = 0 THEN 53
         |                         ELSE 53 - length(bin(w)) END) AS m_j
         |         FROM r GROUP BY 1, 2),
         |gsum AS (SELECT g, sum(CAST(power(2, 53 - m_j) AS BIGINT)) AS s_occ,
         |                count(*) AS occ
         |         FROM regs GROUP BY 1),
         |gest AS (SELECT g, ${est("s_occ", "occ")} AS e FROM gsum),
         |pairs AS (SELECT a.g AS g1, b.g AS g2
         |          FROM gsum a JOIN gsum b ON a.g < b.g),
         |ur AS (SELECT p.g1, p.g2, r.bucket, max(r.m_j) AS m_j
         |       FROM pairs p JOIN regs r ON (r.g = p.g1 OR r.g = p.g2)
         |       GROUP BY 1, 2, 3),
         |usum AS (SELECT g1, g2,
         |                sum(CAST(power(2, 53 - m_j) AS BIGINT)) AS s_occ,
         |                count(*) AS occ
         |         FROM ur GROUP BY 1, 2),
         |uest AS (SELECT g1, g2, ${est("s_occ", "occ")} AS est_union
         |         FROM usum),
         |ex AS (SELECT x.g AS g1, y.g AS g2, count(*) AS n_exact
         |       FROM dv x JOIN dv y ON x.v = y.v AND x.g < y.g
         |       GROUP BY 1, 2),
         |j AS (SELECT u.g1, u.g2, a.e AS est_a, b.e AS est_b, u.est_union,
         |             greatest(0.0, ${Rounding.sqlPround("a.e + b.e - u.est_union", 6)}) AS overlap_est,
         |             COALESCE(e2.n_exact, 0) AS n_exact
         |      FROM uest u JOIN gest a ON a.g = u.g1
         |                  JOIN gest b ON b.g = u.g2
         |                  LEFT JOIN ex e2 ON e2.g1 = u.g1 AND e2.g2 = u.g2)
         |SELECT g1, g2, est_a, est_b, est_union, overlap_est, n_exact,
         |       CASE WHEN n_exact > 0
         |            THEN ${Rounding.sqlPround("abs(overlap_est - n_exact) / CAST(n_exact AS DOUBLE)", 6)}
         |            ELSE 0.0 END AS rel_err
         |FROM j ORDER BY g1, g2""".stripMargin
    },
    "dq_psi_daily" -> {
      val caseChain = PsiEdges.zipWithIndex
        .map { case (e, i) => s"WHEN value < $e THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${PsiEdges.size} END")
      s"""WITH b AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS p,
         |         $caseChain AS bin
         |  FROM events),
         |pb AS (SELECT p, bin, count(*) AS c FROM b GROUP BY p, bin),
         |pp AS (SELECT p, CAST(sum(c) AS BIGINT) AS np FROM pb GROUP BY p),
         |bs AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM pb GROUP BY bin),
         |tt AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM bs),
         |cells AS (
         |  SELECT pp.p, pp.np, gs.i AS bin
         |  FROM pp CROSS JOIN generate_series(0, ${PsiEdges.size}) gs(i)),
         |terms AS (
         |  SELECT c.p, c.np,
         |    greatest(CAST(COALESCE(pb.c, 0) AS DOUBLE) / c.np, 1e-6) AS pr,
         |    greatest(CAST(COALESCE(bs.cb, 0) AS DOUBLE) / n, 1e-6) AS qr
         |  FROM cells c
         |  LEFT JOIN pb ON pb.p = c.p AND pb.bin = c.bin
         |  LEFT JOIN bs ON bs.bin = c.bin
         |  CROSS JOIN tt),
         |t2 AS (
         |  SELECT p, np,
         |    CAST(${Rounding.sqlPround("(pr - qr) * ln(pr / qr)", 12)}
         |         AS DECIMAL(38,12)) AS t12
         |  FROM terms)
         |SELECT p AS period, max(np) AS n_rows,
         |  ${Rounding.sqlPround("CAST(sum(t12) AS DOUBLE)", 6)} AS psi
         |FROM t2 GROUP BY p ORDER BY period""".stripMargin
    },
    "emb_centroid_drift" ->
      s"""WITH q AS (
         |  SELECT label, i AS p,
         |    CAST(floor(embedding[i]::DOUBLE * 1024.0 + 0.5) AS BIGINT) AS qv
         |  FROM embeddings, generate_series(1, 64) t(i)),
         |g AS (SELECT label, p, sum(qv) AS sg FROM q GROUP BY label, p),
         |c AS (SELECT p, sum(sg) AS sp FROM g GROUP BY p),
         |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
         |d AS (
         |  SELECT g.label,
         |    sum(CAST(g.sg AS DECIMAL(18,0)) * CAST(c.sp AS DECIMAL(18,0))) AS dot,
         |    sum(CAST(g.sg AS DECIMAL(18,0)) * CAST(g.sg AS DECIMAL(18,0))) AS na,
         |    sum(CAST(c.sp AS DECIMAL(18,0)) * CAST(c.sp AS DECIMAL(18,0))) AS nb
         |  FROM g JOIN c USING (p) GROUP BY g.label)
         |SELECT n.label, n.n,
         |  CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |       ELSE ${Rounding.sqlPround(
        "CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))", 9)}
         |  END AS cos_to_corpus
         |FROM n JOIN d USING (label) ORDER BY label""".stripMargin,
    "mix_epoch_plan" ->
      s"""WITH mix AS (
         |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM mix),
         |pr AS (
         |  SELECT source, n_tokens,
         |    CAST(${Rounding.sqlPround(
        s"pow(CAST(n_tokens AS DOUBLE) / total, $EpochTau)", 12)} AS DECIMAL(38,12)) AS p_raw
         |  FROM mix, tot WHERE n_tokens > 0),
         |zz AS (SELECT sum(p_raw) AS z FROM pr),
         |base AS (
         |  SELECT source, n_tokens,
         |    CAST(p_raw AS DOUBLE) / CAST(z AS DOUBLE) AS p FROM pr, zz),
         |calc AS (
         |  SELECT source, n_tokens, p,
         |    CAST(floor(p * $EpochBudget + 0.5) AS BIGINT) AS desired_tokens,
         |    CAST(floor(CAST(n_tokens AS DOUBLE) * $EpochCap + 0.5) AS BIGINT) AS cap_tokens
         |  FROM base)
         |SELECT source, n_tokens, ${Rounding.sqlPround("p", 6)} AS p,
         |  desired_tokens,
         |  least(desired_tokens, cap_tokens) AS alloc_tokens,
         |  ${Rounding.sqlPround(
        "CAST(least(desired_tokens, cap_tokens) AS DOUBLE) / n_tokens", 6)} AS epochs,
         |  desired_tokens - least(desired_tokens, cap_tokens) AS shortfall_tokens
         |FROM calc ORDER BY source""".stripMargin,
    "dq_json_quarantine" ->
      """WITH src AS (
        |  SELECT event_id, props FROM events
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), '{broken'),
        |                        (CAST(-2 AS BIGINT), 'not json at all'),
        |                        (CAST(-3 AS BIGINT), '{"other": 1}')) v(event_id, props)),
        |p AS (
        |  SELECT event_id,
        |    CASE WHEN json_valid(props)
        |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END AS k
        |  FROM src)
        |SELECT event_id, k,
        |  CASE WHEN k IS NOT NULL THEN 'ok' ELSE 'quarantine' END AS status
        |FROM p ORDER BY event_id""".stripMargin,
    "join_salted" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "text_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
         |t AS (SELECT term, count(*) AS n FROM toks GROUP BY 1)
         |SELECT term, n,
         |  ${Rounding.sqlPround("CAST(n AS DOUBLE) / total", 6)} AS share
         |FROM t, tot
         |WHERE ${Rounding.sqlPround("CAST(n AS DOUBLE) / total", 6)} >= 0.005
         |ORDER BY n DESC, term""".stripMargin,
    "sample_weighted" ->
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |         substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8) AS hx
         |  FROM documents WHERE n_chars > 0),
         |p AS (
         |  SELECT doc_id, n_chars,
         |    ${Rounding.sqlPround(
             s"pow((${hex8ToInt("hx")} + 1.0) / 4294967296.0, " +
               "1.0 / CAST(n_chars AS DOUBLE))", 9)} AS priority
         |  FROM h)
         |SELECT doc_id, n_chars, priority FROM p
         |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin,
    "text_bm25_topk" -> bm25Oracle,
    "text_bm25_indexed" -> bm25Oracle,
    "dq_profile_events" ->
      (Seq("event_id", "user_id", "event_type", "value").map(dqCol)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")),
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE lang = 'de'
        |   OR (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
        |ORDER BY doc_id""".stripMargin,
    "sample_deterministic" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |ORDER BY doc_id""".stripMargin,
    "agg_argmax_doc" ->
      """SELECT d.lang, m.max_chars, min(d.doc_id) AS doc_id
        |FROM documents d
        |JOIN (SELECT lang AS mlang, max(n_chars) AS max_chars
        |      FROM documents GROUP BY lang) m
        |  ON d.lang = m.mlang AND d.n_chars = m.max_chars
        |GROUP BY d.lang, m.max_chars ORDER BY d.lang""".stripMargin,
    "text_vocab" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
    "text_perplexity" ->
      """WITH lm AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
        |              CAST(count(*) AS DOUBLE) AS v FROM lm),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(floor(log2((COALESCE(cnt, 0) + 0.5) / (t_total + 0.5 * (v + 1))) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM tok LEFT JOIN lm USING (token) CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent,
        |       floor(pow(2, floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bigram_perplexity" -> {
      val lambda = 0.7
      val oneMinus = 1.0 - lambda // the exact double λ-complement both engines mix with
      s"""WITH lm AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
        |              CAST(count(*) AS DOUBLE) AS v FROM lm),
        |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT doc_id, ws[i] AS token,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev
        |        FROM pos),
        |big AS (SELECT prev, token, count(*) AS cnt2 FROM seq
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cnt2) AS ctx FROM big GROUP BY 1),
        |sc AS (
        |  SELECT s.doc_id,
        |         CAST(floor(log2($lambda * (CASE WHEN b.cnt2 IS NOT NULL AND c.ctx IS NOT NULL
        |                                         THEN CAST(b.cnt2 AS DOUBLE) / CAST(c.ctx AS DOUBLE)
        |                                         ELSE 0.0 END)
        |                         + $oneMinus * ((COALESCE(u.cnt, 0) + 0.5) / (t_total + 0.5 * (v + 1)))) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM seq s
        |  LEFT JOIN big b ON b.prev = s.prev AND b.token = s.token
        |  LEFT JOIN ctx c ON c.prev = s.prev
        |  LEFT JOIN lm u ON u.token = s.token
        |  CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent,
        |       floor(pow(2, floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text_trigram_perplexity" -> {
      val l3 = 0.5
      val l2 = 0.3
      val uniW = 1.0 - l3 - l2 // the exact double complement both engines mix with
      s"""WITH lm AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
        |              CAST(count(*) AS DOUBLE) AS v FROM lm),
        |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT doc_id, ws[i] AS token,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev,
        |               CASE WHEN i <= 2 THEN NULL ELSE ws[i-2] END AS prev2
        |        FROM pos),
        |big AS (SELECT prev, token, count(*) AS cnt2 FROM seq
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cnt2) AS ctx FROM big GROUP BY 1),
        |tri AS (SELECT prev2, prev, token, count(*) AS cnt3 FROM seq
        |        WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT prev2, prev, sum(cnt3) AS ctx3 FROM tri GROUP BY 1, 2),
        |sc AS (
        |  SELECT s.doc_id,
        |         CAST(floor(log2($l3 * (CASE WHEN t3.cnt3 IS NOT NULL AND c3.ctx3 IS NOT NULL
        |                                     THEN CAST(t3.cnt3 AS DOUBLE) / CAST(c3.ctx3 AS DOUBLE)
        |                                     ELSE 0.0 END)
        |                         + $l2 * (CASE WHEN b.cnt2 IS NOT NULL AND c.ctx IS NOT NULL
        |                                       THEN CAST(b.cnt2 AS DOUBLE) / CAST(c.ctx AS DOUBLE)
        |                                       ELSE 0.0 END)
        |                         + $uniW * ((COALESCE(u.cnt, 0) + 0.5) / (t_total + 0.5 * (v + 1)))) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM seq s
        |  LEFT JOIN tri t3 ON t3.prev2 = s.prev2 AND t3.prev = s.prev AND t3.token = s.token
        |  LEFT JOIN ctx3 c3 ON c3.prev2 = s.prev2 AND c3.prev = s.prev
        |  LEFT JOIN big b ON b.prev = s.prev AND b.token = s.token
        |  LEFT JOIN ctx c ON c.prev = s.prev
        |  LEFT JOIN lm u ON u.token = s.token
        |  CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent,
        |       floor(pow(2, floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text_stupid_backoff" -> {
      val b1 = 0.4
      val b2 = b1 * b1 // 0.4·0.4 ≠ the literal 0.16 in IEEE — inject
      val b3 = b2 * b1 // the Scala-printed doubles into both engines
      s"""WITH lm AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
        |              CAST(count(*) AS DOUBLE) AS v FROM lm),
        |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT doc_id, ws[i] AS token,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev,
        |               CASE WHEN i <= 2 THEN NULL ELSE ws[i-2] END AS prev2,
        |               CASE WHEN i <= 3 THEN NULL ELSE ws[i-3] END AS prev3
        |        FROM pos),
        |big AS (SELECT prev, token, count(*) AS cnt2 FROM seq
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx2 AS (SELECT prev, sum(cnt2) AS ctx2 FROM big GROUP BY 1),
        |tri AS (SELECT prev2, prev, token, count(*) AS cnt3 FROM seq
        |        WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT prev2, prev, sum(cnt3) AS ctx3 FROM tri GROUP BY 1, 2),
        |four AS (SELECT prev3, prev2, prev, token, count(*) AS cnt4 FROM seq
        |         WHERE prev3 IS NOT NULL GROUP BY 1, 2, 3, 4),
        |ctx4 AS (SELECT prev3, prev2, prev, sum(cnt4) AS ctx4 FROM four GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT s.doc_id,
        |    CAST(floor(log2(CASE
        |      WHEN f4.cnt4 IS NOT NULL AND c4.ctx4 IS NOT NULL
        |        THEN CAST(f4.cnt4 AS DOUBLE) / CAST(c4.ctx4 AS DOUBLE)
        |      WHEN t3.cnt3 IS NOT NULL AND c3.ctx3 IS NOT NULL
        |        THEN (CASE (s.avail - 3) WHEN 0 THEN 1.0 ELSE $b1 END)
        |             * CAST(t3.cnt3 AS DOUBLE) / CAST(c3.ctx3 AS DOUBLE)
        |      WHEN b.cnt2 IS NOT NULL AND c2.ctx2 IS NOT NULL
        |        THEN (CASE (s.avail - 2) WHEN 0 THEN 1.0 WHEN 1 THEN $b1 ELSE $b2 END)
        |             * CAST(b.cnt2 AS DOUBLE) / CAST(c2.ctx2 AS DOUBLE)
        |      ELSE (CASE (s.avail - 1) WHEN 0 THEN 1.0 WHEN 1 THEN $b1 WHEN 2 THEN $b2 ELSE $b3 END)
        |           * ((COALESCE(u.cnt, 0) + 0.5) / (t_total + 0.5 * (v + 1)))
        |      END) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logs
        |  FROM (SELECT *, CASE WHEN prev3 IS NOT NULL THEN 4
        |                       WHEN prev2 IS NOT NULL THEN 3
        |                       WHEN prev IS NOT NULL THEN 2 ELSE 1 END AS avail
        |        FROM seq) s
        |  LEFT JOIN four f4 ON f4.prev3 = s.prev3 AND f4.prev2 = s.prev2
        |                   AND f4.prev = s.prev AND f4.token = s.token
        |  LEFT JOIN ctx4 c4 ON c4.prev3 = s.prev3 AND c4.prev2 = s.prev2
        |                   AND c4.prev = s.prev
        |  LEFT JOIN tri t3 ON t3.prev2 = s.prev2 AND t3.prev = s.prev
        |                  AND t3.token = s.token
        |  LEFT JOIN ctx3 c3 ON c3.prev2 = s.prev2 AND c3.prev = s.prev
        |  LEFT JOIN big b ON b.prev = s.prev AND b.token = s.token
        |  LEFT JOIN ctx2 c2 ON c2.prev = s.prev
        |  LEFT JOIN lm u ON u.token = s.token
        |  CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logs) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS sb_bits
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text_kneser_ney3" -> {
      val d = 0.75
      val a = 0.5
      // the base and the two interpolation levels, spelled once each and
      // substituted — expression order mirrors the Spark columns exactly
      val pcont = s"((COALESCE(n.n1b, 0) + $a) / (bt_total + $a * (cv + 1)))"
      val pmid = s"greatest(CAST(COALESCE(m.n2, 0) AS DOUBLE) - $d, 0.0) / CAST(mc.ctxc2 AS DOUBLE)" +
        s" + (($d * CAST(mc.n1ac AS DOUBLE)) / CAST(mc.ctxc2 AS DOUBLE)) * $pcont"
      val pc = s"CASE WHEN mc.ctxc2 IS NOT NULL THEN $pmid ELSE $pcont END"
      val ptop = s"greatest(CAST(COALESCE(t3.cnt3, 0) AS DOUBLE) - $d, 0.0) / CAST(c3.ctx3 AS DOUBLE)" +
        s" + (($d * CAST(c3.n1a3 AS DOUBLE)) / CAST(c3.ctx3 AS DOUBLE)) * ($pc)"
      s"""WITH pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT doc_id, ws[i] AS token,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev,
        |               CASE WHEN i <= 2 THEN NULL ELSE ws[i-2] END AS prev2
        |        FROM pos),
        |big AS (SELECT prev, token, count(*) AS cnt2 FROM seq
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tri AS (SELECT prev2, prev, token, count(*) AS cnt3 FROM seq
        |        WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT prev2, prev, sum(cnt3) AS ctx3, count(*) AS n1a3
        |         FROM tri GROUP BY 1, 2),
        |n2 AS (SELECT prev, token, count(*) AS n2 FROM tri GROUP BY 1, 2),
        |ctxc AS (SELECT prev, sum(n2) AS ctxc2, count(*) AS n1ac FROM n2 GROUP BY 1),
        |cont AS (SELECT token, count(*) AS n1b FROM big GROUP BY 1),
        |st AS (SELECT CAST(sum(n1b) AS DOUBLE) AS bt_total,
        |              CAST(count(*) AS DOUBLE) AS cv FROM cont),
        |sc AS (
        |  SELECT s.doc_id,
        |    CAST(floor(log2(CASE WHEN c3.ctx3 IS NOT NULL THEN $ptop
        |                         ELSE $pc END) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM seq s
        |  LEFT JOIN tri t3 ON t3.prev2 = s.prev2 AND t3.prev = s.prev AND t3.token = s.token
        |  LEFT JOIN ctx3 c3 ON c3.prev2 = s.prev2 AND c3.prev = s.prev
        |  LEFT JOIN n2 m ON m.prev = s.prev AND m.token = s.token
        |  LEFT JOIN ctxc mc ON mc.prev = s.prev
        |  LEFT JOIN cont n ON n.token = s.token
        |  CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent,
        |       floor(pow(2, floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "text_kneser_ney" -> {
      val d = 0.75 // exactly representable — the SQL literal IS the Scala value
      val a = 0.5
      s"""WITH pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT doc_id, ws[i] AS token,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev
        |        FROM pos),
        |big AS (SELECT prev, token, count(*) AS cnt2 FROM seq
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cnt2) AS ctx2, count(*) AS n1a FROM big GROUP BY 1),
        |cont AS (SELECT token, count(*) AS n1b FROM big GROUP BY 1),
        |st AS (SELECT CAST(sum(n1b) AS DOUBLE) AS bt_total,
        |              CAST(count(*) AS DOUBLE) AS cv FROM cont),
        |sc AS (
        |  SELECT s.doc_id,
        |    CAST(floor(log2(CASE WHEN c.ctx2 IS NOT NULL
        |      THEN greatest(CAST(COALESCE(b.cnt2, 0) AS DOUBLE) - $d, 0.0) / CAST(c.ctx2 AS DOUBLE)
        |           + (($d * CAST(c.n1a AS DOUBLE)) / CAST(c.ctx2 AS DOUBLE))
        |             * ((COALESCE(n.n1b, 0) + $a) / (bt_total + $a * (cv + 1)))
        |      ELSE ((COALESCE(n.n1b, 0) + $a) / (bt_total + $a * (cv + 1)))
        |      END) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM seq s
        |  LEFT JOIN big b ON b.prev = s.prev AND b.token = s.token
        |  LEFT JOIN ctx c ON c.prev = s.prev
        |  LEFT JOIN cont n ON n.token = s.token
        |  CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent,
        |       floor(pow(2, floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000) * 10000 + 0.5) / 10000 AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "corpus_distinct_ngrams" ->
      s"""WITH toks AS (
         |  SELECT source,
         |         list_filter(string_split(text, ' '),
         |                     t -> length(t) > 0) AS ws
         |  FROM documents),
         |g1 AS (SELECT source, unnest(ws) AS gram FROM toks),
         |g2 AS (SELECT source,
         |         unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS gram
         |       FROM toks WHERE len(ws) >= 2),
         |g3 AS (SELECT source,
         |         unnest(list_transform(generate_series(1, len(ws) - 2),
         |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
         |       FROM toks WHERE len(ws) >= 3),
         |u AS (
         |  SELECT source, 1 AS n, count(*) AS total_ngrams,
         |         count(DISTINCT gram) AS distinct_ngrams
         |  FROM g1 GROUP BY 1
         |  UNION ALL
         |  SELECT source, 2, count(*), count(DISTINCT gram) FROM g2 GROUP BY 1
         |  UNION ALL
         |  SELECT source, 3, count(*), count(DISTINCT gram) FROM g3 GROUP BY 1)
         |SELECT source, n, total_ngrams, distinct_ngrams,
         |  ${Rounding.sqlPround(
            "CAST(distinct_ngrams AS DOUBLE) / CAST(total_ngrams AS DOUBLE)", 9)}
         |    AS distinct_ratio
         |FROM u ORDER BY source, n""".stripMargin,
    "corpus_keyness" -> {
      def term(o: String, rt: String, ct: String) =
        s"CASE WHEN $o > 0 THEN CAST($o AS DOUBLE) * " +
          Rounding.sqlPround(
            s"ln(CAST($o AS DOUBLE) / " +
              s"(CAST($rt AS DOUBLE) * CAST($ct AS DOUBLE) / CAST(n AS DOUBLE)))",
            9) +
          " ELSE 0.0 END"
      val g2 = s"2.0 * (${term("a", "ng", "cw")} + " +
        s"${term("cw - a", "n - ng", "cw")} + " +
        s"${term("ng - a", "ng", "n - cw")} + " +
        s"${term("n - cw - ng + a", "n - ng", "n - cw")})"
      s"""WITH tok AS (SELECT source AS g,
         |               unnest(string_split(text, ' ')) AS w
         |             FROM documents),
         |cgw AS (SELECT g, w, count(*) AS a FROM tok GROUP BY 1, 2),
         |cwt AS (SELECT w, sum(a) AS cw FROM cgw GROUP BY 1),
         |ngt AS (SELECT g, sum(a) AS ng FROM cgw GROUP BY 1),
         |nt AS (SELECT sum(cw) AS n FROM cwt),
         |sc AS (SELECT cgw.g, cgw.w, cgw.a, cwt.cw, ngt.ng, nt.n
         |       FROM cgw JOIN cwt USING (w) JOIN ngt USING (g)
         |       CROSS JOIN nt),
         |g2t AS (SELECT g, w, a, cw,
         |          ${Rounding.sqlPround(g2, 6)} AS g2
         |        FROM sc WHERE a * n > cw * ng),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY g
         |         ORDER BY g2 DESC, w) AS rn FROM g2t)
         |SELECT g AS source, w AS term, CAST(a AS BIGINT) AS n_in_group,
         |  CAST(cw AS BIGINT) AS n_corpus, g2, CAST(rn AS INT) AS rank
         |FROM rk WHERE rn <= 10 ORDER BY source, rank""".stripMargin
    },
    "corpus_zipf_fit" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
         |              FROM documents),
         |t AS (SELECT source, term, count(*) AS f FROM toks GROUP BY 1, 2),
         |r AS (SELECT source, term, f,
         |        row_number() OVER (PARTITION BY source
         |                           ORDER BY f DESC, term) AS rnk
         |      FROM t),
         |xy AS (SELECT source,
         |         CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000000 + 0.5) AS HUGEINT) AS x,
         |         CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000000 + 0.5) AS HUGEINT) AS y
         |       FROM r),
         |s AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM xy GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n_terms,
         |  CASE WHEN n * sxx - sx * sx != 0 THEN
         |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
         |          / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) / 1000000
         |  END AS zipf_slope,
         |  CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0 THEN
         |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
         |          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |                 * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000 + 0.5) / 1000000
         |  END AS fit_corr
         |FROM s ORDER BY source""".stripMargin,
    "corpus_class_tfidf" ->
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
         |              FROM documents),
         |tc AS (SELECT source, term, count(*) AS ntc FROM toks GROUP BY 1, 2),
         |ct AS (SELECT source, sum(ntc) AS nc FROM tc GROUP BY 1),
         |tt AS (SELECT term, sum(ntc) AS nt FROM tc GROUP BY 1),
         |st AS (SELECT CAST(sum(nc) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS a FROM ct),
         |sc AS (SELECT tc.source, tc.term, tc.ntc,
         |         floor((CAST(tc.ntc AS DOUBLE) / CAST(ct.nc AS DOUBLE))
         |               * ln(1.0 + a / CAST(tt.nt AS DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS s9
         |       FROM tc JOIN ct ON ct.source = tc.source
         |               JOIN tt ON tt.term = tc.term
         |       CROSS JOIN st)
         |SELECT source, term, ntc AS n_term,
         |       floor(s9 * 1000000 + 0.5) / 1000000 AS score, rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |                                   ORDER BY s9 DESC, term) AS rank
         |      FROM sc)
         |WHERE rank <= 10 ORDER BY source, rank""".stripMargin,

    // PMI replica: same bigram/unigram tables as the KN oracle, the
    // ratio assembled division-first in doubles (matching the Spark
    // expression shape), log2 at 9 digits then published at 6.
    "text_pmi_collocations" ->
      """WITH pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT ws[i] AS w2,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS w1
        |        FROM pos),
        |big AS (SELECT w1, w2, count(*) AS n_pair FROM seq
        |        WHERE w1 IS NOT NULL GROUP BY 1, 2),
        |uni AS (SELECT token, count(*) AS cnt1 FROM (
        |          SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |        GROUP BY 1),
        |st AS (SELECT (SELECT sum(n_pair) FROM big) AS t2,
        |              (SELECT sum(cnt1) FROM uni) AS t1)
        |SELECT w1, w2, n_pair,
        |       floor(floor(log2((CAST(b.n_pair AS DOUBLE) / t2) /
        |         ((CAST(a.cnt1 AS DOUBLE) / t1) * (CAST(c.cnt1 AS DOUBLE) / t1)))
        |         * 1000000000 + 0.5) / 1000000000 * 1000000 + 0.5) / 1000000 AS pmi
        |FROM big b JOIN uni a ON a.token = b.w1
        |           JOIN uni c ON c.token = b.w2 CROSS JOIN st
        |WHERE b.n_pair >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    // Good–Turing replica: bigram counts → counts-of-counts → the r+1
    // self-join; NULL r* where the estimator is undefined.
    "text_good_turing" ->
      """WITH pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT ws[i] AS w2,
        |               CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS w1
        |        FROM pos),
        |counts AS (SELECT w1, w2, count(*) AS r FROM seq
        |           WHERE w1 IS NOT NULL GROUP BY 1, 2),
        |coc AS (SELECT r, count(*) AS n_r FROM counts GROUP BY 1),
        |st AS (SELECT sum(r * n_r) AS n_tokens,
        |              COALESCE(sum(CASE WHEN r = 1 THEN n_r END), 0) AS n1
        |       FROM coc)
        |SELECT c.r, c.n_r, COALESCE(nx.n_r, 0) AS n_next,
        |       CASE WHEN nx.n_r IS NOT NULL THEN
        |         floor(CAST((c.r + 1) * nx.n_r AS DOUBLE) / c.n_r
        |               * 1000000 + 0.5) / 1000000 END AS r_star,
        |       floor(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |             * 1000000000 + 0.5) / 1000000000 AS p0
        |FROM coc c LEFT JOIN coc nx ON nx.r = c.r + 1 CROSS JOIN st
        |WHERE c.r <= 10 ORDER BY c.r""".stripMargin,

    // Gap-islands replica: the same planted drops, then one lag over
    // the distinct keys (DuckDB can afford the global window the Spark
    // side deliberately avoids).
    "dq_id_gaps" ->
      """WITH ids AS (SELECT DISTINCT event_id AS id FROM events
        |             WHERE event_id NOT BETWEEN 450 AND 549
        |               AND event_id NOT BETWEEN 777 AND 779),
        |g AS (SELECT lag(id) OVER (ORDER BY id) AS prev, id FROM ids)
        |SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
        |       id - prev - 1 AS gap_len
        |FROM g WHERE prev IS NOT NULL AND id - prev > 1
        |ORDER BY gap_len DESC, gap_start LIMIT 20""".stripMargin,

    // DP replica: per-cell deviations rounded at 9 then summed as
    // DECIMAL(38,12) (sum-order-proof), published at 6.
    "corpus_burstiness" ->
      """WITH occ AS (SELECT source AS part, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |cells AS (SELECT part, term, count(*) AS f_tp FROM occ GROUP BY 1, 2),
        |pt AS (SELECT part, sum(f_tp) AS f_p FROM cells GROUP BY 1),
        |gr AS (SELECT CAST(sum(f_p) AS DOUBLE) AS t FROM pt),
        |sp AS (SELECT part, CAST(f_p AS DOUBLE) / t AS s_p FROM pt CROSS JOIN gr),
        |tt AS (SELECT term, sum(f_tp) AS f_t FROM cells GROUP BY 1)
        |SELECT c.term, CAST(tt.f_t AS BIGINT) AS n,
        |  floor(CAST(sum(CAST(floor(abs(CAST(c.f_tp AS DOUBLE) / tt.f_t - sp.s_p)
        |          * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)))
        |        + (CAST(1 AS DECIMAL(38,12))
        |           - sum(CAST(floor(sp.s_p * 1000000000 + 0.5) / 1000000000
        |                 AS DECIMAL(38,12)))) AS DOUBLE) / 2
        |        * 1000000 + 0.5) / 1000000 AS dp
        |FROM cells c JOIN sp USING (part) JOIN tt USING (term)
        |WHERE tt.f_t >= 5
        |GROUP BY c.term, tt.f_t
        |ORDER BY dp DESC, term LIMIT 20""".stripMargin,
    // Gopher panel replica: identical count arithmetic (sum of word
    // lengths = chars − separators), prounded ratios, same flag bands;
    // the line-shaped rules replicate wordChunks exactly as the
    // line_dedup oracle does (10-word slices, ceil chunk count).
    "text_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
        |           FROM documents),
        |base AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(length(text) - (len(ws) - 1) AS DOUBLE) AS sum_len,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ell,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END AS BIGINT) AS stop_hits
        |  FROM w),
        |ln AS (SELECT doc_id,
        |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS line
        |  FROM w, unnest(generate_series(1,
        |    CAST(ceil(len(ws) / 10.0) AS INT))) t(i)),
        |lf AS (SELECT doc_id, count(*) AS n_lines,
        |    sum(CASE WHEN regexp_matches(line, '^[•*-]') THEN 1 ELSE 0 END) AS n_bullet,
        |    sum(CASE WHEN line LIKE '%...' OR line LIKE '%…' THEN 1 ELSE 0 END) AS n_ell_end
        |  FROM ln GROUP BY doc_id),
        |m AS (SELECT b.doc_id, n_words,
        |    CASE WHEN n_words > 0
        |      THEN floor(sum_len / n_words * 10000 + 0.5) / 10000
        |      ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN n_words > 0
        |      THEN floor(CAST(n_hash + n_ell AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000
        |      ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN n_words > 0
        |      THEN floor(CAST(alpha_words AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000
        |      ELSE 0.0 END AS alpha_word_frac,
        |    stop_hits,
        |    CASE WHEN coalesce(n_lines, 0) > 0
        |      THEN floor(CAST(n_bullet AS DOUBLE) / n_lines * 1000000 + 0.5) / 1000000
        |      ELSE 0.0 END AS bullet_line_frac,
        |    CASE WHEN coalesce(n_lines, 0) > 0
        |      THEN floor(CAST(n_ell_end AS DOUBLE) / n_lines * 1000000 + 0.5) / 1000000
        |      ELSE 0.0 END AS ellipsis_line_frac
        |  FROM base b LEFT JOIN lf ON b.doc_id = lf.doc_id)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |       alpha_word_frac, stop_hits, bullet_line_frac,
        |       ellipsis_line_frac,
        |       n_words BETWEEN 50 AND 100000 AS pass_words,
        |       mean_word_len BETWEEN 3.0 AND 10.0 AS pass_word_len,
        |       symbol_ratio <= 0.1 AS pass_symbols,
        |       alpha_word_frac >= 0.8 AS pass_alpha,
        |       stop_hits >= 2 AS pass_stops,
        |       bullet_line_frac <= 0.9 AS pass_bullet_lines,
        |       ellipsis_line_frac <= 0.3 AS pass_ellipsis_lines,
        |       (n_words BETWEEN 50 AND 100000)
        |         AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |         AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        |         AND stop_hits >= 2 AND bullet_line_frac <= 0.9
        |         AND ellipsis_line_frac <= 0.3 AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // C4 panel replica: same end-anchored terminal-punct regex,
    // '.'-count sentence heuristic, case-folded substring gates.
    "text_c4_filters" ->
      """SELECT doc_id,
        |  regexp_matches(text, '[.!?"'']$') AS pass_terminal_punct,
        |  (len(string_split(text, '.')) - 1) >= 3 AS pass_min_sentences,
        |  NOT contains(text, '{') AS pass_no_brace,
        |  NOT contains(lower(text), 'lorem ipsum') AS pass_no_lorem,
        |  NOT contains(lower(text), 'javascript') AS pass_no_javascript,
        |  regexp_matches(text, '[.!?"'']$')
        |    AND (len(string_split(text, '.')) - 1) >= 3
        |    AND NOT contains(text, '{')
        |    AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(lower(text), 'javascript') AS c4_pass
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Confusion replica: the text_lang_id CASE over marker scores,
    // cross-tabbed against the label.
    "corpus_langid_confusion" ->
      s"""WITH sc AS (SELECT doc_id, lang, $markerScores FROM documents),
         |pred AS (SELECT lang,
         |  CASE WHEN s_en + s_de + s_es + s_fr > 0 THEN
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS predicted
         |  FROM sc),
         |cells AS (SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang, sum(n) AS total FROM cells GROUP BY 1)
         |SELECT c.lang, c.predicted, c.n,
         |       floor(CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS share
         |FROM cells c JOIN tot t USING (lang)
         |ORDER BY lang, predicted""".stripMargin,

    "mix_dedup_rate_by_source" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique,
        |       floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |              / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |         AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "text_ngram_coverage" ->
      """WITH pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |seq AS (SELECT ws[i] AS w3,
        |               CASE WHEN i <= 2 THEN NULL ELSE ws[i-1] END AS w2,
        |               CASE WHEN i <= 2 THEN NULL ELSE ws[i-2] END AS w1
        |        FROM pos),
        |tri AS (SELECT w1, w2, w3, count(*) AS cnt3 FROM seq
        |        WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
        |top AS (SELECT sum(cnt3) AS top_sum FROM (
        |          SELECT cnt3 FROM tri
        |          ORDER BY cnt3 DESC, w1, w2, w3 LIMIT 100))
        |SELECT count(*) AS n_types, CAST(sum(cnt3) AS BIGINT) AS n_trigrams,
        |       floor(CAST((SELECT top_sum FROM top) AS DOUBLE)
        |             / CAST(sum(cnt3) AS DOUBLE) * 1000000 + 0.5) / 1000000
        |         AS top100_share
        |FROM tri""".stripMargin,

    // Prefix-boilerplate replica: the argmax as a row_number with the
    // same (n DESC, prefix) tie order as the Spark struct-min.
    "corpus_prefix_boilerplate" ->
      """WITH p AS (SELECT source,
        |             array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
        |           FROM documents),
        |c AS (SELECT source, prefix, count(*) AS n_docs FROM p GROUP BY 1, 2),
        |t AS (SELECT source, sum(n_docs) AS total FROM c GROUP BY 1),
        |top AS (SELECT source, prefix, n_docs,
        |          row_number() OVER (PARTITION BY source
        |                             ORDER BY n_docs DESC, prefix) AS rn
        |        FROM c)
        |SELECT source, prefix, CAST(n_docs AS BIGINT) AS n_docs,
        |       floor(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)
        |             * 1000000 + 0.5) / 1000000 AS share
        |FROM top JOIN t USING (source) WHERE rn = 1
        |ORDER BY source""".stripMargin,
    "text_blocklist" ->
      s"""SELECT doc_id, unnest(list_filter(
         |  ${Blocklist.map(w => s"'$w'").mkString("[", ", ", "]")},
         |  w -> contains(text, w))) AS term
         |FROM documents ORDER BY doc_id, term""".stripMargin,
    "sketch_cm_accuracy" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |t AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
         |rj AS (SELECT term, n, unnest(generate_series(0, ${CmDepth - 1})) AS j FROM t),
         |cm AS (SELECT term, n, j,
         |         CAST(${hex8ToInt("substr(md5(term || ':cm' || CAST(j AS VARCHAR)), 1, 8)")} % $CmWidth AS BIGINT) AS cell
         |       FROM rj),
         |cells AS (SELECT j, cell, CAST(sum(n) AS BIGINT) AS cnt FROM cm GROUP BY 1, 2),
         |top AS (SELECT term, n FROM t ORDER BY n DESC, term LIMIT $CmTopN),
         |probe AS (
         |  SELECT tp.term, tp.n, c.cnt
         |  FROM top tp JOIN cm m ON m.term = tp.term
         |  JOIN cells c ON c.j = m.j AND c.cell = m.cell)
         |SELECT term, n, min(cnt) AS cm_est,
         |       CAST(min(cnt) - n AS BIGINT) AS over_err
         |FROM probe GROUP BY term, n ORDER BY n DESC, term""".stripMargin,
    "source_quota_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "source_quota_top" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "source_token_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR) || ':b42') AS shuf
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY shuf, doc_id ROWS UNBOUNDED PRECEDING)
         |           AS BIGINT) AS cum_tokens
         |  FROM d)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin,

    // DSIR importance weights: hashed unigram+bigram buckets, two
    // add-α bucket models (target = lang='en', raw = all), per-doc
    // decimal-exact Σ(ln p_t − ln p_r) — stage for stage what
    // operators.Dsir executes.
    "dsir_weights" ->
      s"""WITH $dsirCte
         |SELECT doc_id, n_grams, logw FROM w ORDER BY doc_id""".stripMargin,

    // Gumbel top-n over the weights: the same md5-uniform the sampling
    // tier uses, g = −ln(−ln u) rounded at 9, key = logw + g.
    "dsir_resample" ->
      s"""WITH $dsirCte,
         |r AS (
         |  SELECT doc_id, logw,
         |    logw + floor((-ln(-ln((${hex8ToInt(s"md5(CAST(doc_id AS VARCHAR) || ':$DsirSeed')")} + 0.5) / 4294967296.0))) * 1000000000 + 0.5) / 1000000000 AS key
         |  FROM w)
         |SELECT doc_id, logw, key FROM r
         |ORDER BY key DESC, doc_id LIMIT $DsirN""".stripMargin,
    "corpus_perplexity_filter" ->
      """WITH lm AS (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
        |              CAST(count(*) AS DOUBLE) AS v FROM lm),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(floor(log2((COALESCE(cnt, 0) + 0.5) / (t_total + 0.5 * (v + 1))) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS logp
        |  FROM tok LEFT JOIN lm USING (token) CROSS JOIN st),
        |x AS (
        |  SELECT doc_id,
        |         floor(CAST(-sum(logp) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS xent
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN x ON d.doc_id = x.doc_id
        |WHERE x.xent <= 4.95 ORDER BY d.doc_id""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_hash_embedding" ->
      s"""WITH $hashDenseCte
         |SELECT doc_id, dim_idx, weight FROM dense
         |WHERE doc_id < 50 ORDER BY doc_id, dim_idx""".stripMargin,
    "text_hash_ann" ->
      s"""WITH ${hashAnnRankedSql(5, 5, "hr")}
         |SELECT query_id, cand_id, score, rank FROM hr ORDER BY query_id, rank""".stripMargin,

    // PageRank replayed as an UNROLLED chain of per-iteration CTEs —
    // recursive CTEs disallow the aggregation each step needs, so the
    // fixed iteration count is spelled out. Same integer-quantized
    // contributions (floor(x·1e14 + 0.5): all-IEEE, exact long sums),
    // same teleport spelling, same graph derivation.
    "graph_pagerank" -> {
      val d = PageRankDamping
      val u = "100000000000000.0"
      val its = (1 to PageRankIters).map { k =>
        s"""c$k AS (
           |  SELECT e.dst,
           |    CAST(floor($d * r.rank / deg.deg * $u + 0.5) AS BIGINT) AS c
           |  FROM e JOIN r${k - 1} r ON r.id = e.src
           |  JOIN deg ON deg.src = e.src),
           |i$k AS (SELECT dst, sum(c) AS inc FROM c$k GROUP BY dst),
           |r$k AS (
           |  SELECT nodes.id,
           |    CAST(${1.0 - d} AS DOUBLE) / nn.n
           |      + coalesce(CAST(i$k.inc AS DOUBLE) / $u, 0.0) AS rank
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN i$k ON i$k.dst = nodes.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank
         |       FROM nodes CROSS JOIN nn),
         |$its
         |SELECT id, rank FROM r$PageRankIters ORDER BY id""".stripMargin
    },

    // personalized replica: identical unrolled loop, but r0 and the
    // per-iteration teleport come from the seed-membership CASE — the
    // Scala-computed (1−d) literal divides |S| in one IEEE op on both
    // engines, so ranks hash-match with no final rounding
    "graph_pagerank_personalized" -> {
      val d = PageRankDamping
      val u = "100000000000000.0"
      val its = (1 to PageRankIters).map { k =>
        s"""c$k AS (
           |  SELECT e.dst,
           |    CAST(floor($d * r.rank / deg.deg * $u + 0.5) AS BIGINT) AS c
           |  FROM e JOIN r${k - 1} r ON r.id = e.src
           |  JOIN deg ON deg.src = e.src),
           |i$k AS (SELECT dst, sum(c) AS inc FROM c$k GROUP BY dst),
           |r$k AS (
           |  SELECT tele.id,
           |    tele.tele + coalesce(CAST(i$k.inc AS DOUBLE) / $u, 0.0) AS rank
           |  FROM tele
           |  LEFT JOIN i$k ON i$k.dst = tele.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |seeds AS (SELECT DISTINCT c_custkey * 2 AS id FROM customer
         |          WHERE c_acctbal > 9000.0),
         |sn AS (SELECT count(*) AS ns FROM seeds),
         |tele AS (
         |  SELECT nodes.id,
         |    CASE WHEN s.id IS NOT NULL
         |         THEN CAST(${1.0 - d} AS DOUBLE) / sn.ns
         |         ELSE 0.0 END AS tele
         |  FROM nodes CROSS JOIN sn LEFT JOIN seeds s ON s.id = nodes.id),
         |r0 AS (
         |  SELECT tele.id,
         |    CASE WHEN tele.tele > 0 THEN CAST(1.0 AS DOUBLE) / sn.ns
         |         ELSE 0.0 END AS rank
         |  FROM tele CROSS JOIN sn),
         |$its
         |SELECT id, rank FROM r$PageRankIters ORDER BY id""".stripMargin
    },

    // HITS replica: exact integer sums of quantized scores over the
    // directed edge list, one IEEE divide per L1 normalization, floor
    // back to 1e-12 units — every intermediate is bit-identical to the
    // Spark loop, so hub/auth hash-match without any final rounding.
    "graph_hits" -> {
      val u = "1000000000000.0"
      val its = (1 to HitsIters).map { k =>
        s"""ar$k AS MATERIALIZED (
           |  SELECT e.dst AS rid, sum(h.hq) AS q
           |  FROM e JOIN h${k - 1} h ON h.id = e.src GROUP BY 1),
           |at$k AS MATERIALIZED (SELECT sum(q) AS t FROM ar$k),
           |a$k AS MATERIALIZED (
           |  SELECT n.id,
           |    CAST(floor(CAST(coalesce(r.q, 0) AS DOUBLE)
           |      / CAST(t.t AS DOUBLE) * $u + 0.5) AS BIGINT) AS aq
           |  FROM nodes n CROSS JOIN at$k t
           |  LEFT JOIN ar$k r ON r.rid = n.id),
           |hr$k AS MATERIALIZED (
           |  SELECT e.src AS rid, sum(a.aq) AS q
           |  FROM e JOIN a$k a ON a.id = e.dst GROUP BY 1),
           |ht$k AS MATERIALIZED (SELECT sum(q) AS t FROM hr$k),
           |h$k AS MATERIALIZED (
           |  SELECT n.id,
           |    CAST(floor(CAST(coalesce(r.q, 0) AS DOUBLE)
           |      / CAST(t.t AS DOUBLE) * $u + 0.5) AS BIGINT) AS hq
           |  FROM nodes n CROSS JOIN ht$k t
           |  LEFT JOIN hr$k r ON r.rid = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS MATERIALIZED (SELECT id, CAST(1000000000000 AS BIGINT) AS hq FROM nodes),
         |$its
         |SELECT h.id, CAST(h.hq AS DOUBLE) / $u AS hub,
         |       CAST(a.aq AS DOUBLE) / $u AS auth
         |FROM h$HitsIters h JOIN a$HitsIters a ON a.id = h.id
         |ORDER BY h.id""".stripMargin
    },

    // Leakage-safe split: the dedup-cluster reachability chain, then
    // the same one-md5-byte split CASE keyed on the cluster id.
    "corpus_split_leakage_safe" ->
      s"""WITH RECURSIVE $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM documents
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, cc.cluster_id,
         |  CASE WHEN substr(md5(CAST(cc.cluster_id AS VARCHAR)), 1, 2) < '10' THEN 'val'
         |       WHEN substr(md5(CAST(cc.cluster_id AS VARCHAR)), 1, 2) < '30' THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents d JOIN cc ON cc.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Mutual-kNN clustering: quadratic cosine scoring on the bounded
    // Lloyd k-means replica: per round, argmin over the -2·dot(v,c) +
    // dot(c,c) fold (ascending generate_series sums = the fused dot's
    // sequential accumulation), then integer-1e-8-unit per-(cell, dim)
    // means rebuilt into ordered centroid lists; empty cells coalesce
    // to their previous centroid. Assignment after the last round is
    // the output — hash-equal to the Spark trajectory.
    "emb_kmeans_fixed" -> {
      val u = "100000000.0"
      def dotSql(a: String, b: String) =
        s"(SELECT sum($a[i]::DOUBLE * $b[i]::DOUBLE) FROM generate_series(1, 64) t(i))"
      val c0 = SemCents.indices.map(c =>
        s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS c").mkString(" UNION ALL ")
      val its = (1 to KmeansIters).map { k =>
        val assign =
          s"""d$k AS (
             |  SELECT v.vec_id, c.cell,
             |    ${dotSql("v.embedding", "c.c")} * -2
             |      + ${dotSql("c.c", "c.c")} AS cd
             |  FROM embeddings v CROSS JOIN c${k - 1} c),
             |a$k AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell,
             |           row_number() OVER (PARTITION BY vec_id
             |                              ORDER BY cd, cell) AS r
             |    FROM d$k)
             |  WHERE r = 1)""".stripMargin
        val update =
          s""",
             |q$k AS (
             |  SELECT a.cell, g.i AS dim,
             |    CAST(floor(v.embedding[g.i]::DOUBLE * $u + 0.5) AS BIGINT) AS q
             |  FROM a$k a JOIN embeddings v ON v.vec_id = a.vec_id
             |  CROSS JOIN generate_series(1, 64) g(i)),
             |m$k AS (
             |  SELECT cell, dim,
             |    CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) / $u AS m
             |  FROM q$k GROUP BY 1, 2),
             |n$k AS (SELECT cell, list(m ORDER BY dim) AS c FROM m$k GROUP BY 1),
             |c$k AS (
             |  SELECT p.cell, coalesce(n.c, p.c) AS c
             |  FROM c${k - 1} p LEFT JOIN n$k n ON n.cell = p.cell)""".stripMargin
        if (k < KmeansIters) assign + update else assign
      }.mkString(",\n")
      s"""WITH c0 AS ($c0),
         |$its
         |SELECT vec_id, cell FROM a$KmeansIters ORDER BY vec_id""".stripMargin
    },

    // slice, reciprocal top-k join, then the same recursive min-label
    // reachability the dedup-cluster oracle uses.
    "emb_knn_clusters" ->
      s"""WITH RECURSIVE $knnClustersCte
         |SELECT id AS vec_id, cluster_id FROM cc ORDER BY vec_id""".stripMargin,

    // Triangles replica: ordered wedge join closed by the (x, z) edge
    // counts each triangle once; integer counts, one final divide.
    "graph_triangles" ->
      s"""WITH $mutualKnnCte,
         |e AS (SELECT id_a AS a, id_b AS b FROM mut),
         |wed AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b),
         |tri AS (
         |  SELECT w.x, w.y, w.z FROM wed w
         |  JOIN e e3 ON e3.a = w.x AND e3.b = w.z),
         |tn AS (
         |  SELECT id, count(*) AS t FROM (
         |    SELECT x AS id FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY 1),
         |deg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT id_a AS id FROM mut
         |    UNION ALL SELECT id_b FROM mut)
         |  GROUP BY 1)
         |SELECT deg.id, deg.d AS degree,
         |  CAST(coalesce(tn.t, 0) AS BIGINT) AS triangles,
         |  CASE WHEN deg.d >= 2
         |       THEN floor(2.0 * coalesce(tn.t, 0) / (deg.d * (deg.d - 1)) * 10000 + 0.5) / 10000
         |       ELSE 0.0 END AS lcc
         |FROM deg LEFT JOIN tn ON tn.id = deg.id
         |ORDER BY deg.id""".stripMargin,

    // Silhouette over those clusters: integer-1e-6-unit pair
    // distances (unit cancels in the ratio), per-(vector, cluster)
    // means, min over foreign clusters, pround(6) only at the end.
    "emb_cluster_silhouette" ->
      s"""WITH RECURSIVE $knnClustersCte,
         |va AS (
         |  SELECT s.vec_id AS id, cc.cluster_id, s.embedding AS v
         |  FROM sub s JOIN cc ON cc.id = s.vec_id),
         |pd AS (
         |  SELECT x.id AS ida, x.cluster_id AS ca, y.cluster_id AS cb,
         |    CAST(floor((1.0 - ${cosSql("x.v", "y.v")}) * 1000000.0 + 0.5)
         |         AS BIGINT) AS d6
         |  FROM va x JOIN va y ON y.id <> x.id),
         |mm AS (
         |  SELECT ida, ca, cb, CAST(sum(d6) AS DOUBLE) / count(*) AS m
         |  FROM pd GROUP BY 1, 2, 3),
         |aa AS (SELECT ida AS id, m AS a6 FROM mm WHERE ca = cb),
         |bb AS (SELECT ida AS id, min(m) AS b6 FROM mm WHERE ca <> cb
         |       GROUP BY 1)
         |SELECT va.id AS vec_id, va.cluster_id,
         |  ${Rounding.sqlPround(
             "CASE WHEN aa.a6 IS NULL OR bb.b6 IS NULL " +
               "OR greatest(aa.a6, bb.b6) <= 0 THEN 0.0 " +
               "ELSE (bb.b6 - aa.a6) / greatest(aa.a6, bb.b6) END", 6)} AS sil
         |FROM va LEFT JOIN aa ON aa.id = va.id
         |LEFT JOIN bb ON bb.id = va.id
         |ORDER BY vec_id""".stripMargin,

    // Full-coverage sampled silhouette ≡ exact silhouette: same CTE.
    "emb_silhouette_sampled" ->
      s"""WITH RECURSIVE $knnClustersCte,
         |va AS (
         |  SELECT s.vec_id AS id, cc.cluster_id, s.embedding AS v
         |  FROM sub s JOIN cc ON cc.id = s.vec_id),
         |pd AS (
         |  SELECT x.id AS ida, x.cluster_id AS ca, y.cluster_id AS cb,
         |    CAST(floor((1.0 - ${cosSql("x.v", "y.v")}) * 1000000.0 + 0.5)
         |         AS BIGINT) AS d6
         |  FROM va x JOIN va y ON y.id <> x.id),
         |mm AS (
         |  SELECT ida, ca, cb, CAST(sum(d6) AS DOUBLE) / count(*) AS m
         |  FROM pd GROUP BY 1, 2, 3),
         |aa AS (SELECT ida AS id, m AS a6 FROM mm WHERE ca = cb),
         |bb AS (SELECT ida AS id, min(m) AS b6 FROM mm WHERE ca <> cb
         |       GROUP BY 1)
         |SELECT va.id AS vec_id, va.cluster_id,
         |  ${Rounding.sqlPround(
             "CASE WHEN aa.a6 IS NULL OR bb.b6 IS NULL " +
               "OR greatest(aa.a6, bb.b6) <= 0 THEN 0.0 " +
               "ELSE (bb.b6 - aa.a6) / greatest(aa.a6, bb.b6) END", 6)} AS sil
         |FROM va LEFT JOIN aa ON aa.id = va.id
         |LEFT JOIN bb ON bb.id = va.id
         |ORDER BY vec_id""".stripMargin,

    // Classifier inference with the fixed dyadic model: same hashed
    // features, same ascending-fold dot, same pround(6), verdict on
    // the ROUNDED logit in both engines.
    "text_lr_score" -> {
      val wArr = LrFixedModel.weights.mkString("[", ", ", "]")
      s"""WITH $hashDenseCte,
         |vecs AS (SELECT doc_id, list(weight ORDER BY dim_idx) AS vec
         |         FROM dense GROUP BY doc_id),
         |lg AS (
         |  SELECT v.doc_id,
         |    ${Rounding.sqlPround(
             s"${LrFixedModel.bias} + (SELECT sum(v.vec[i] * w.arr[i]) " +
               s"FROM generate_series(1, $HashDim) t(i))", 6)} AS logit
         |  FROM vecs v CROSS JOIN (SELECT $wArr::DOUBLE[] AS arr) w)
         |SELECT doc_id, logit, logit > 0 AS pred FROM lg
         |ORDER BY doc_id""".stripMargin
    },

    // Hybrid sparse+dense retrieval: BM25 and hashed-cosine ranked
    // lists (k=10 each) fused by reciprocal rank, 1/(60 + rank) per
    // system — two coalesced closed-form doubles, one commutative
    // addition, so the fused scores hash-match exactly.
    "hybrid_rrf_topk" ->
      s"""WITH ${bm25RankedSql(10, "bmr")},
         |${hashAnnRankedSql(25, 10, "hr")},
         |fused AS (
         |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |         coalesce(a.cand_id, b.cand_id) AS cand_id,
         |         ${Rounding.sqlPround(
               "coalesce(1.0 / (60.0 + a.rank), 0.0) + coalesce(1.0 / (60.0 + b.rank), 0.0)", 9)} AS score
         |  FROM bmr a FULL OUTER JOIN hr b
         |    ON b.query_id = a.query_id AND b.cand_id = a.cand_id)
         |SELECT query_id, cand_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cand_id) AS rank FROM fused)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "text_chunking" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |n_ck AS (
         |  SELECT doc_id, ws,
         |         greatest(1, (len(ws) - ${ChunkN - ChunkStride} + ${ChunkStride - 1}) // $ChunkStride) AS n
         |  FROM toks)
         |SELECT doc_id, i AS chunk_idx,
         |       array_to_string(ws[(i-1)*$ChunkStride+1 : (i-1)*$ChunkStride+$ChunkN], ' ') AS chunk
         |FROM n_ck, unnest(generate_series(1, n)) t(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "doc_len_percentiles" ->
      """SELECT lang, quantile_cont(n_chars, 0.5) AS p50, quantile_cont(n_chars, 0.9) AS p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_len_weighted_percentiles" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) > 0),
        |c AS (
        |  SELECT lang, n_chars,
        |         CAST(sum(w) OVER (PARTITION BY lang ORDER BY n_chars
        |                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumw,
        |         CAST(sum(w) OVER (PARTITION BY lang) AS DOUBLE) AS totw
        |  FROM d)
        |SELECT lang,
        |       min(CASE WHEN cumw >= 0.25 * totw THEN n_chars END) AS p25,
        |       min(CASE WHEN cumw >= 0.5 * totw THEN n_chars END) AS p50,
        |       min(CASE WHEN cumw >= 0.9 * totw THEN n_chars END) AS p90
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "emb_stats" ->
      s"""SELECT label, count(*) AS n,
         |  floor((avg(sqrt((SELECT sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) FROM generate_series(1, 64) t(i))))) * 1000000 + 0.5) / 1000000 AS avg_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "text_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id, i AS pos, md5(substr(text, i, 16)) AS h
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 15)) AS i
        |        FROM documents WHERE doc_id < 50 AND length(text) >= 16)),
        |m AS (
        |  SELECT doc_id,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM m ORDER BY doc_id, fp""".stripMargin,
    "text_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.BpePattern}')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_fertility" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(len(regexp_extract_all(text, '${TextFunctions.BpePattern}')) AS BIGINT) AS n_bpe_tokens
         |  FROM documents)
         |SELECT doc_id, lang, n_chars, n_bpe_tokens,
         |  CASE WHEN n_bpe_tokens > 0
         |       THEN ${Rounding.sqlPround("CAST(n_chars AS DOUBLE) / n_bpe_tokens", 6)}
         |       ELSE 0.0 END AS fertility
         |FROM b ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""WITH sc AS (SELECT doc_id,
         |    $markerScores
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN s_en + s_de + s_es + s_fr > 0 THEN
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS lang_id
         |FROM sc ORDER BY doc_id""".stripMargin,
    "text_quality_score" ->
      s"""SELECT doc_id, $qualitySqlExpr AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "cross_modal_features" ->
      s"""SELECT d.doc_id, $qualitySqlExpr AS quality,
         |  floor((sqrt((SELECT sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) FROM generate_series(1, 64) t(i)))) * 1000000 + 0.5) / 1000000 AS norm,
         |  e.label
         |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "contamination_overlap" -> contaminationOracle,
    // The bloom prefilter has no false negatives, so the prefiltered
    // pipeline must produce EXACTLY the unfiltered result — same oracle.
    "contamination_prefiltered" -> contaminationOracle,
    "decontaminated_corpus" ->
      s"""WITH $shingleCte,
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 20 = 0),
         |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 20 != 0),
         |sizes AS (SELECT eval_id, count(*) AS n_eval_shingles FROM ev GROUP BY 1),
         |inter AS (
         |  SELECT eval_id, train_id, count(*) AS n_common
         |  FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1, 2),
         |flagged AS (
         |  SELECT DISTINCT i.train_id
         |  FROM inter i JOIN sizes s ON i.eval_id = s.eval_id
         |  WHERE floor((i.n_common::DOUBLE / s.n_eval_shingles) * 10000 + 0.5) / 10000 >= 0.2)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id % 20 != 0
         |  AND doc_id NOT IN (SELECT train_id FROM flagged)
         |ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        text || ' contact user' || CAST(doc_id AS VARCHAR)
         |          || '@mail.example.com from 10.0.'
         |          || CAST(doc_id % 200 AS VARCHAR)
         |          || '.7 or call +1 555 010 '
         |          || CAST(doc_id % 90 + 10 AS VARCHAR),
         |        '${TextFunctions.EmailRe}', '[EMAIL]', 'g'),
         |      '${TextFunctions.Ipv4Re}', '[IP]', 'g'),
         |    '${TextFunctions.PhoneRe}', '[PHONE]', 'g') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (
        |  SELECT doc_id, ws, unnest(generate_series(1,
        |    CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 1 END)) AS i
        |  FROM toks),
        |big AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 2 THEN array_to_string(ws[i:i+1], ' ')
        |         ELSE array_to_string(ws, ' ') END AS g
        |  FROM idx),
        |bs AS (SELECT doc_id, count(*) AS n_b, count(DISTINCT g) AS n_bd FROM big GROUP BY 1),
        |wsx AS (SELECT doc_id, len(ws) AS n_w, len(list_distinct(ws)) AS n_wd FROM toks)
        |SELECT w.doc_id, CAST(n_w AS BIGINT) AS n_words,
        |  floor((1.0 - n_wd::DOUBLE / n_w) * 10000 + 0.5) / 10000 AS dup_word_ratio,
        |  floor((1.0 - n_bd::DOUBLE / n_b) * 10000 + 0.5) / 10000 AS dup_bigram_ratio
        |FROM wsx w JOIN bs b ON w.doc_id = b.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "seq_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start_offset
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, start_offset,
        |  start_offset // 2048 AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "corpus_mix_summary" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |        count(*) AS n_groups FROM per)
        |SELECT lang, n_docs, n_tokens,
        |  floor((n_tokens::DOUBLE / total_tokens) * 1000000 + 0.5) / 1000000 AS token_share,
        |  floor((total_tokens::DOUBLE / n_groups / n_tokens) * 1000000 + 0.5) / 1000000 AS uniform_weight
        |FROM per, tot ORDER BY lang""".stripMargin,
    "mix_quantile_norm" ->
      """SELECT doc_id, source, n_chars,
        |  CASE WHEN n > 1 THEN
        |    CAST(2*r + c - 3 AS DOUBLE) / CAST(2*(n - 1) AS DOUBLE)
        |  ELSE 0.5 END AS q
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    rank() OVER (PARTITION BY source ORDER BY n_chars) AS r,
        |    count(*) OVER (PARTITION BY source, n_chars) AS c,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |ORDER BY doc_id""".stripMargin,
    "dq_benford" -> {
      val expectedRows = (1 to 9).map(d =>
        s"SELECT $d AS digit, CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE)" +
          " AS expected")
        .mkString("\n  UNION ALL\n  ")
      val obs = "(CAST(n_digit AS DOUBLE) / CAST(n AS DOUBLE))"
      s"""WITH v AS (SELECT event_type AS k,
         |             CAST(floor(value) AS BIGINT) AS x
         |           FROM events
         |           WHERE value IS NOT NULL AND floor(value) > 0),
         |c AS (SELECT k, CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT)
         |        AS digit, count(*) AS n_digit
         |      FROM v GROUP BY 1, 2),
         |t AS (SELECT k, CAST(sum(n_digit) AS BIGINT) AS n
         |      FROM c GROUP BY 1),
         |e AS (
         |  $expectedRows),
         |f AS (SELECT t.k, e.digit, e.expected,
         |        CAST(coalesce(c.n_digit, 0) AS BIGINT) AS n_digit, t.n
         |      FROM t CROSS JOIN e
         |      LEFT JOIN c ON c.k = t.k AND c.digit = e.digit)
         |SELECT k AS event_type, digit, n_digit,
         |  ${Rounding.sqlPround(obs, 9)} AS obs_share,
         |  ${Rounding.sqlPround("expected", 9)} AS benford_share,
         |  ${Rounding.sqlPround(
            s"CAST(n AS DOUBLE) * ($obs - expected) * ($obs - expected) " +
              "/ expected", 9)} AS chi2_term
         |FROM f ORDER BY event_type, digit""".stripMargin
    },
    "mix_js_matrix" -> {
      val p = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
      val q = "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
      val term = s"$p * log2(2.0 * $p / ($p + $q)) + " +
        s"$q * log2(2.0 * $q / ($p + $q))"
      val ps = "(CAST(c1s AS DOUBLE) / CAST(n1 AS DOUBLE))"
      val qs = "(CAST(c2s AS DOUBLE) / CAST(n2 AS DOUBLE))"
      s"""WITH tok AS (SELECT source AS g,
         |               unnest(string_split(text, ' ')) AS w
         |             FROM documents),
         |cgw AS (SELECT g, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |ng AS (SELECT g, sum(c) AS n FROM cgw GROUP BY 1),
         |j AS (SELECT a.g AS g1, b.g AS g2, a.c AS c1, b.c AS c2,
         |        na.n AS n1, nb.n AS n2
         |      FROM cgw a JOIN cgw b ON a.w = b.w AND a.g < b.g
         |      JOIN ng na ON na.g = a.g
         |      JOIN ng nb ON nb.g = b.g),
         |tt AS (SELECT g1, g2, c1, c2, n1, n2,
         |         CAST(${Rounding.sqlPround(term, 9)} AS DECIMAL(38,12))
         |           AS term
         |       FROM j),
         |gg AS (SELECT g1, g2,
         |         CAST(count(*) AS BIGINT) AS n_shared_terms,
         |         sum(c1) AS c1s, sum(c2) AS c2s, sum(term) AS s,
         |         max(n1) AS n1, max(n2) AS n2
         |       FROM tt GROUP BY 1, 2)
         |SELECT g1, g2, n_shared_terms,
         |  ${Rounding.sqlPround(
            s"0.5 * ((1.0 - $ps) + (1.0 - $qs)) + 0.5 * CAST(s AS DOUBLE)",
            9)} AS jsd
         |FROM gg ORDER BY g1, g2""".stripMargin
    },
    "dq_cusum_drift" ->
      """WITH v AS (SELECT event_type AS k, ts, event_id,
        |             CAST(floor(value*100 + 0.5) AS BIGINT) - 60000 AS y
        |           FROM events WHERE value IS NOT NULL),
        |c AS (SELECT k, ts, event_id,
        |        sum(y) OVER (PARTITION BY k ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM v),
        |m AS (SELECT k, ts, event_id, cum,
        |        least(CAST(0 AS BIGINT), min(cum) OVER (PARTITION BY k
        |          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) AS rmin
        |      FROM c)
        |SELECT k AS event_type, ts, event_id,
        |  CAST(cum - rmin AS BIGINT) AS s_stat,
        |  cum - rmin > 5000000 AS alarm
        |FROM m ORDER BY event_type, ts, event_id""".stripMargin,
    "dq_dp_release" -> {
      val key = "coalesce(CAST(lang AS VARCHAR), chr(2) || 'NULL') || " +
        "chr(1) || coalesce(CAST(source AS VARCHAR), chr(2) || 'NULL')"
      s"""WITH g AS (SELECT lang, source, count(*) AS n_true
         |           FROM documents GROUP BY 1, 2),
         |h AS (SELECT *,
         |        ${hex8ToInt(s"substr(md5($key || ':dp42'), 1, 8)")} AS hv
         |      FROM g),
         |u AS (SELECT *, (hv + 0.5) / 4294967296.0 - 0.5 AS u FROM h),
         |z AS (SELECT *,
         |        ((-1.0) * sign(u)) *
         |          ${Rounding.sqlPround("ln(1.0 - 2.0*abs(u))", 9)} AS noise
         |      FROM u)
         |SELECT lang, source, n_true,
         |  CAST(n_true AS DOUBLE) + noise AS noisy_count,
         |  CAST(1.0 AS DOUBLE) AS epsilon
         |FROM z ORDER BY lang, source""".stripMargin
    },
    "mix_temperature_rates" ->
      """WITH per AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_tokens)::DOUBLE AS total FROM per),
        |s AS (SELECT lang, n_tokens, n_tokens / total AS share,
        |        pow(n_tokens / total, 0.5) AS p_raw
        |      FROM per, tot),
        |z AS (SELECT sum(p_raw) AS z, max(p_raw / share) AS max_boost FROM s)
        |SELECT lang, n_tokens,
        |  floor(share * 1000000 + 0.5) / 1000000 AS share,
        |  floor((p_raw / z) * 1000000 + 0.5) / 1000000 AS p_tau,
        |  floor(((p_raw / share) / max_boost) * 1000000 + 0.5) / 1000000 AS keep_rate
        |FROM s, z ORDER BY lang""".stripMargin,
    "corpus_quality_mix" ->
      s"""WITH scored AS (
         |  SELECT CASE WHEN q < 0.45 THEN 0 WHEN q < 0.6 THEN 1
         |              WHEN q < 0.75 THEN 2 ELSE 3 END AS bin, ntok
         |  FROM (SELECT $qualitySqlExpr AS q,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
         |        FROM documents)),
         |mix AS (SELECT bin, count(*) AS n_docs,
         |          CAST(sum(ntok) AS BIGINT) AS n_tokens
         |        FROM scored GROUP BY bin),
         |tot AS (SELECT sum(n_tokens)::DOUBLE AS total FROM mix
         |        WHERE n_tokens > 0),
         |s AS (SELECT bin, n_docs, n_tokens, n_tokens / total AS share,
         |        pow(n_tokens / total, 0.5) AS p_raw
         |      FROM mix, tot WHERE n_tokens > 0),
         |z AS (SELECT sum(p_raw) AS z, max(p_raw / share) AS max_boost FROM s)
         |SELECT bin, n_docs, n_tokens,
         |  floor(share * 1000000 + 0.5) / 1000000 AS share,
         |  floor((p_raw / z) * 1000000 + 0.5) / 1000000 AS p_tau,
         |  floor(((p_raw / share) / max_boost) * 1000000 + 0.5) / 1000000 AS keep_rate
         |FROM s, z ORDER BY bin""".stripMargin,
    "corpus_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10' THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '30' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_quality_verdict" ->
      s"""WITH sig AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $markerScores,
         |    $qualitySqlExpr AS quality,
         |    floor((1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS dup_word_ratio
         |  FROM documents),
         |l AS (SELECT *,
         |  CASE WHEN s_en + s_de + s_es + s_fr > 0 THEN
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS lang_id FROM sig)
         |SELECT doc_id, n_tokens, lang_id, quality, dup_word_ratio,
         |  CASE WHEN n_tokens < 15 THEN 'too_short'
         |       WHEN n_tokens > 90 THEN 'too_long'
         |       WHEN lang_id NOT IN ('en', 'de', 'es', 'fr') THEN 'bad_lang'
         |       WHEN quality < 0.55 THEN 'low_quality'
         |       WHEN dup_word_ratio > 0.68 THEN 'repetitive'
         |       ELSE 'keep' END AS verdict
         |FROM l ORDER BY doc_id""".stripMargin,
    // the armed-gate twin: one extra signal (n_blocked — distinct
    // blocklist phrases contained) and the 'blocked' arm after bad_lang
    "corpus_blocklist_verdict" ->
      s"""WITH sig AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $markerScores,
         |    $qualitySqlExpr AS quality,
         |    floor((1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS dup_word_ratio,
         |    CAST(len(list_filter(
         |      ${Blocklist.map(w => s"'$w'").mkString("[", ", ", "]")},
         |      w -> contains(text, w))) AS INT) AS n_blocked
         |  FROM documents),
         |l AS (SELECT *,
         |  CASE WHEN s_en + s_de + s_es + s_fr > 0 THEN
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END
         |  ELSE 'unknown' END AS lang_id FROM sig)
         |SELECT doc_id, n_tokens, lang_id, quality, dup_word_ratio, n_blocked,
         |  CASE WHEN n_tokens < 15 THEN 'too_short'
         |       WHEN n_tokens > 90 THEN 'too_long'
         |       WHEN lang_id NOT IN ('en', 'de', 'es', 'fr') THEN 'bad_lang'
         |       WHEN n_blocked > 0 THEN 'blocked'
         |       WHEN quality < 0.55 THEN 'low_quality'
         |       WHEN dup_word_ratio > 0.68 THEN 'repetitive'
         |       ELSE 'keep' END AS verdict
         |FROM l ORDER BY doc_id""".stripMargin,
    "line_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ch AS (
        |  SELECT doc_id, i,
        |    array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS line
        |  FROM toks, unnest(generate_series(1,
        |    CAST(ceil(len(ws) / 10.0) AS INT))) t(i)),
        |common AS (
        |  SELECT line FROM ch GROUP BY line
        |  HAVING count(DISTINCT doc_id) > 2),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY i) AS clean_text
        |  FROM ch WHERE line NOT IN (SELECT line FROM common)
        |  GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.n_lines - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "span_dedup_spans" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 8 + 2)) AS i) t
        |  WHERE len(w) >= 8),
        |marked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
        |         count(*) OVER (PARTITION BY gram) AS df
        |  FROM occ),
        |dup AS (SELECT doc_id, pos FROM marked WHERE df >= 2 AND rn > 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |                OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |              THEN 1 ELSE 0 END AS ns
        |  FROM dup),
        |isl2 AS (SELECT doc_id, pos,
        |                sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |          FROM isl2 GROUP BY doc_id, island)
        |SELECT doc_id, span_start, span_end,
        |       span_end - span_start + 1 AS n_words
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,
    "span_dedup_clean" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 8 + 2)) AS i) t
        |  WHERE len(w) >= 8),
        |marked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
        |         count(*) OVER (PARTITION BY gram) AS df
        |  FROM occ),
        |dup AS (SELECT doc_id, pos FROM marked WHERE df >= 2 AND rn > 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |                OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |              THEN 1 ELSE 0 END AS ns
        |  FROM dup),
        |isl2 AS (SELECT doc_id, pos,
        |                sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |          FROM isl2 GROUP BY doc_id, island),
        |wp AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS word
        |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(word, ' ' ORDER BY pos) AS kept_text
        |  FROM wp
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |                    WHERE s.doc_id = wp.doc_id
        |                      AND wp.pos BETWEEN s.span_start AND s.span_end)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(k.kept_text, '') AS clean_text,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT)
        |         - coalesce(k.n_kept, 0) AS n_removed
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "seq_pack_shuffled" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS start_offset
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, start_offset,
        |  start_offset // 2048 AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common,
         |       floor((n_common::DOUBLE / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE floor((n_common::DOUBLE / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    // containment replica: same inverted index, directional ratios
    "dedup_containment" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT id_a, id_b, n_common,
         |    floor((n_common::DOUBLE / sa.n) * 10000 + 0.5) / 10000 AS c_a,
         |    floor((n_common::DOUBLE / sb.n) * 10000 + 0.5) / 10000 AS c_b
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, n_common, c_a, c_b FROM sc
         |WHERE greatest(c_a, c_b) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,
    // est-error replica: signature agreement fraction vs the exact
    // verify-stage jaccard, both rounded at 1e-4 before the |err|.
    "dedup_minhash_est_error" -> {
      val n = Bands * RowsPerBand
      val estExpr = s"floor((e.m::DOUBLE / CAST($n AS DOUBLE)) * 10000 + 0.5) / 10000"
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_common
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT c.id_a, c.id_b,
         |    floor((coalesce(i.n_common, 0)::DOUBLE / (sa.n + sb.n - coalesce(i.n_common, 0))) * 10000 + 0.5) / 10000 AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |  JOIN sizes sa ON sa.doc_id = c.id_a
         |  JOIN sizes sb ON sb.doc_id = c.id_b),
         |est AS (
         |  SELECT c.id_a, c.id_b,
         |    (${(0 until n).map(j => s"CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END").mkString(" + ")}) AS m
         |  FROM cand c JOIN mh ma ON ma.doc_id = c.id_a
         |  JOIN mh mb ON mb.doc_id = c.id_b)
         |SELECT e.id_a, e.id_b, $estExpr AS est, x.jaccard,
         |  floor(abs($estExpr - x.jaccard) * 10000 + 0.5) / 10000 AS err
         |FROM est e JOIN ex x ON x.id_a = e.id_a AND x.id_b = e.id_b
         |ORDER BY e.id_a, e.id_b""".stripMargin
    },

    "text_ngram_novelty" ->
      s"""WITH $shingleCte,
         |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |per AS (
         |  SELECT s.doc_id, count(*) AS n_shingles,
         |         sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
         |  FROM sh s JOIN df d ON d.shingle = s.shingle GROUP BY 1)
         |SELECT doc.doc_id,
         |  CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(p.n_unique, 0) AS BIGINT) AS n_unique,
         |  CASE WHEN coalesce(p.n_shingles, 0) > 0
         |       THEN floor(p.n_unique::DOUBLE / p.n_shingles * 10000 + 0.5) / 10000
         |       ELSE 0.0 END AS novelty
         |FROM documents doc LEFT JOIN per p ON p.doc_id = doc.doc_id
         |ORDER BY doc.doc_id""".stripMargin,
    // Char-entropy replica: exploded codepoint counts, integer
    // nano-bit contributions c·floor(log2(c/L)·1e9+0.5) summed
    // exactly, one final IEEE divide chain — mirrors CharEntropy
    // .compute term for term.
    "text_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, substr(text, i, 1) AS c FROM (
        |    SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
        |    FROM documents)),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(text) AS l FROM documents),
        |acc AS (
        |  SELECT cc.doc_id,
        |    sum(cc.n * CAST(floor(log2(cc.n::DOUBLE / l.l::DOUBLE) * 1000000000 + 0.5) AS BIGINT)) AS a
        |  FROM cc JOIN dl l ON l.doc_id = cc.doc_id GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS len,
        |  CASE WHEN len(d.text) > 0
        |       THEN floor((-(CAST(a.a AS DOUBLE) / 1000000000.0) / len(d.text)) * 1000000 + 0.5) / 1000000
        |       ELSE 0.0 END AS entropy
        |FROM documents d LEFT JOIN acc a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // KL drift replica: per-occurrence ln of exact count cross-ratios,
    // rounded at 1e-9, decimal-summed, per-group mean rounded at 1e-6.
    "mix_kl_drift" ->
      """WITH tok AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS w FROM documents),
        |cgw AS (SELECT g, w, count(*) AS cgw FROM tok GROUP BY 1, 2),
        |cw AS (SELECT w, sum(cgw) AS cw FROM cgw GROUP BY 1),
        |ng AS (SELECT g, sum(cgw) AS ng FROM cgw GROUP BY 1),
        |nn AS (SELECT sum(cw) AS n FROM cw),
        |sc AS (
        |  SELECT t.g,
        |    CAST(floor(ln((c.cgw::DOUBLE * nn.n::DOUBLE) / (g2.ng::DOUBLE * w2.cw::DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12)) AS l9
        |  FROM tok t
        |  JOIN cgw c ON c.g = t.g AND c.w = t.w
        |  JOIN cw w2 ON w2.w = t.w
        |  JOIN ng g2 ON g2.g = t.g
        |  CROSS JOIN nn)
        |SELECT g AS lang, count(*) AS n_tokens,
        |       floor(CAST(sum(l9) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS kl
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows)
         |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_edit_distance" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
         |SELECT c.id_a, c.id_b,
         |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.id_a
         |JOIN documents db ON db.doc_id = c.id_b
         |ORDER BY c.id_a, c.id_b""".stripMargin,
    "text_topk_similar" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |q AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id < 25),
         |inter AS (
         |  SELECT q.query_id, c.doc_id AS cand_id, count(*) AS n_common
         |  FROM q JOIN sh c ON q.shingle = c.shingle AND c.doc_id != q.query_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, cand_id,
         |         floor((n_common::DOUBLE / (sq.n + sc.n - n_common)) * 10000 + 0.5) / 10000 AS jaccard
         |  FROM inter
         |  JOIN sizes sq ON sq.doc_id = query_id
         |  JOIN sizes sc ON sc.doc_id = cand_id)
         |SELECT query_id, cand_id, jaccard, rank FROM (
         |  SELECT query_id, cand_id, jaccard,
         |         row_number() OVER (PARTITION BY query_id ORDER BY jaccard DESC, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |nib AS (SELECT doc_id,
         |    $simNibbles
         |  FROM (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM toks)),
         |votes AS (SELECT doc_id, count(*) AS n,
         |    $simVotes
         |  FROM nib GROUP BY doc_id),
         |fp AS (SELECT doc_id,
         |    ${simHalf(0)} AS lo,
         |    ${simHalf(32)} AS hi
         |  FROM votes),
         |banded AS (
         |  SELECT doc_id, 0 AS band, lo & 65535 AS key, lo, hi FROM fp
         |  UNION ALL SELECT doc_id, 1 AS band, (lo >> 16) & 65535 AS key, lo, hi FROM fp
         |  UNION ALL SELECT doc_id, 2 AS band, hi & 65535 AS key, lo, hi FROM fp
         |  UNION ALL SELECT doc_id, 3 AS band, (hi >> 16) & 65535 AS key, lo, hi FROM fp),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_incremental" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows)
         |SELECT DISTINCT least(x.doc_id, y.doc_id) AS id_a,
         |       greatest(x.doc_id, y.doc_id) AS id_b
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.sig = y.sig
         | AND x.doc_id != y.doc_id AND y.doc_id % 4 = 0
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_cluster_canonical" ->
      s"""WITH RECURSIVE $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM documents
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id AS doc_id, count(*) AS n_members
         |FROM cc GROUP BY cluster_id ORDER BY doc_id""".stripMargin,
    // Alternating star contraction produces the same component-min
    // labels as propagation — the oracle is shared verbatim.
    "dedup_cluster_alternating" ->
      s"""WITH RECURSIVE $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lbl FROM documents
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id AS doc_id, count(*) AS n_members
         |FROM cc GROUP BY cluster_id ORDER BY doc_id""".stripMargin,
    "dedup_source_overlap" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
         |SELECT least(a.source, b.source) AS source_a,
         |       greatest(a.source, b.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM cand c
         |JOIN documents a ON a.doc_id = c.id_a
         |JOIN documents b ON b.doc_id = c.id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_minhash_verified" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT id_a, id_b, n_common,
         |         floor((n_common::DOUBLE / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE floor((n_common::DOUBLE / (sa.n + sb.n - n_common)) * 10000 + 0.5) / 10000 >= 0.5),
         |mh AS (SELECT doc_id,
         |    $minhashCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandRows),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
         |SELECT j.id_a, j.id_b, j.n_common, j.jaccard FROM jac j
         |WHERE EXISTS (SELECT 1 FROM cand c WHERE c.id_a = j.id_a AND c.id_b = j.id_b)
         |ORDER BY j.id_a, j.id_b""".stripMargin,
    "ann_brute_topk_native" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.cand_id, $cosineExpr AS score
         |  FROM c, q WHERE c.cand_id != q.query_id)
         |SELECT query_id, cand_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.cand_id, $cosineExpr AS score
         |  FROM c, q WHERE c.cand_id != q.query_id)
         |SELECT query_id, cand_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,
    "ann_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS neg_label FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.cand_id, c.neg_label, $cosineExpr AS score
         |  FROM c, q WHERE c.cand_id != q.query_id
         |             AND c.neg_label IS DISTINCT FROM q.ql)
         |SELECT query_id, cand_id, neg_label, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,
    // MMR replica: the greedy loop unrolled — per pick i, the
    // not-yet-selected candidates' max pairwise cosine against the
    // selected set, the prounded λ-combination, and a (mmr DESC,
    // cand_id) argmax; selu_i accumulates. Same pround(6) cosine and
    // fixed-order double arithmetic as the Spark side.
    "ann_mmr_topk" -> {
      val lam = 0.7
      val m = 20
      val steps = (2 to AnnK).map { i =>
        s"""sim$i AS (
           |  SELECT r.query_id, r.cand_id, ${cosSql("r.cv", "s.cv")} AS sim
           |  FROM cand r JOIN selu${i - 1} s USING (query_id)
           |  WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} x
           |    WHERE x.query_id = r.query_id AND x.cand_id = r.cand_id)),
           |pen$i AS (
           |  SELECT query_id, cand_id, max(sim) AS pen
           |  FROM sim$i GROUP BY 1, 2),
           |scored$i AS (
           |  SELECT r.query_id, r.cand_id, r.cv, r.score,
           |    ${Rounding.sqlPround(s"$lam * r.score - ${1 - lam} * p.pen", 9)} AS mmr
           |  FROM cand r JOIN pen$i p
           |    ON p.query_id = r.query_id AND p.cand_id = r.cand_id),
           |pick$i AS (
           |  SELECT query_id, cand_id, cv, score, mmr, $i AS pick FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY mmr DESC, cand_id) AS rn FROM scored$i)
           |  WHERE rn = 1),
           |selu$i AS (SELECT * FROM selu${i - 1}
           |           UNION ALL SELECT * FROM pick$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |sc AS (
         |  SELECT q.query_id, c.cand_id, c.cv, $cosineExpr AS score
         |  FROM c, q WHERE c.cand_id != q.query_id),
         |short AS (
         |  SELECT query_id, cand_id, cv, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, cand_id) AS rnk
         |  FROM sc),
         |cand AS (SELECT query_id, cand_id, cv, score
         |         FROM short WHERE rnk <= $m),
         |selu1 AS (
         |  SELECT query_id, cand_id, cv, score,
         |    ${Rounding.sqlPround(s"$lam * score", 9)} AS mmr, 1 AS pick
         |  FROM short WHERE rnk = 1),
         |$steps
         |SELECT query_id, cand_id, score, mmr, pick FROM selu$AnnK
         |ORDER BY query_id, pick""".stripMargin
    },
    // SQ8 replica, training included: per-dim min/max arrays → double
    // deltas → half-up affine codes → decoded ADC (sum in dimension
    // PCA gram: same per-term rounding + decimal accumulation as the
    // Spark side; generate_series is 1-based, posexplode 0-based.
    "emb_pca_gram" ->
      """WITH el AS (
        |  SELECT vec_id, i, embedding[i]::DOUBLE AS x
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |g AS (
        |  SELECT a.i - 1 AS i, b.i - 1 AS j,
        |         sum(CAST(floor(a.x * b.x * 1000000000 + 0.5) / 1000000000 AS DECIMAL(38,12))) AS s,
        |         count(*) AS n
        |  FROM el a JOIN el b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT i, j, floor(CAST(s AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gram, n
        |FROM g ORDER BY i, j""".stripMargin,

    // PCA projection against the fixed SemCents loadings: one
    // sequential-fold dot per component, rounded at 6.
    "emb_robust_scale" ->
      s"""WITH flat AS (
         |  SELECT vec_id AS id, g.i - 1 AS dim, embedding[g.i]::DOUBLE AS x
         |  FROM embeddings, generate_series(1, 64) g(i)),
         |med AS (SELECT dim, quantile_cont(x, 0.5) AS med
         |        FROM flat GROUP BY 1),
         |st AS (SELECT f.dim, m.med,
         |         quantile_cont(abs(f.x - m.med), 0.5) AS mad
         |       FROM flat f JOIN med m USING (dim) GROUP BY f.dim, m.med)
         |SELECT f.id AS vec_id, CAST(f.dim AS BIGINT) AS dim,
         |  ${Rounding.sqlPround(
            "CASE WHEN s.mad > 0 THEN (f.x - s.med)/s.mad " +
              "ELSE f.x - s.med END", 6)} AS scaled
         |FROM flat f JOIN st s USING (dim)
         |ORDER BY vec_id, dim""".stripMargin,
    "emb_pca_project" -> {
      val centsRows = SemCents.indices.map(c =>
        s"SELECT CAST($c AS BIGINT) AS dim, ${semCentArray(c)}::DOUBLE[] AS arr")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH cents AS (
         |  $centsRows)
         |SELECT e.vec_id, c.dim,
         |  floor((SELECT sum(e.embedding[i]::DOUBLE * c.arr[i])
         |         FROM generate_series(1, 64) t(i)) * 1000000 + 0.5) / 1000000 AS value
         |FROM embeddings e CROSS JOIN cents c
         |ORDER BY vec_id, dim""".stripMargin
    },

    // Matryoshka: leading-16-dim L2 prefilter (raw-double cut, same
    // sequential fold as the Spark expression), full-dim exact re-rank.
    "ann_matryoshka_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |s AS (
         |  SELECT query_id, cand_id, qv, cv FROM (
         |    SELECT q.query_id, c.cand_id, q.qv, c.cv,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (SELECT sum((q.qv[i]::DOUBLE - c.cv[i]::DOUBLE) * (q.qv[i]::DOUBLE - c.cv[i]::DOUBLE))
         |         FROM generate_series(1, 16) t(i)), c.cand_id) AS r
         |    FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id)
         |  WHERE r <= ${AnnK * AnnOverquery}),
         |rer AS (SELECT query_id, cand_id, ${l2Sql("qv", "cv")} AS dist FROM s)
         |SELECT query_id, cand_id, dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
         |  FROM rer)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,

    // JL replica: raw-double sign projection (same sequential fold as
    // the fused dot), raw projected-L2 shortlist, rounded exact-L2
    // re-rank — the dyadic ±0.25 literals ARE the Scala matrix.
    "ann_jl_topk" -> {
      val centsRows = (0 until JlK).map(j =>
        s"SELECT CAST($j AS BIGINT) AS j, ${jlArray(j)}::DOUBLE[] AS arr")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH cents AS (
         |  $centsRows),
         |pj AS (SELECT e.vec_id, c.j,
         |         (SELECT sum(e.embedding[i]::DOUBLE * c.arr[i])
         |          FROM generate_series(1, 64) t(i)) AS v
         |       FROM embeddings e CROSS JOIN cents c),
         |pv AS (SELECT vec_id, list(v ORDER BY j) AS p FROM pj GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, p.p AS qp
         |      FROM embeddings e JOIN pv p ON p.vec_id = e.vec_id WHERE e.vec_id < 10),
         |c AS (SELECT e.vec_id AS cand_id, e.embedding AS cv, p.p AS cp
         |      FROM embeddings e JOIN pv p ON p.vec_id = e.vec_id),
         |s AS (
         |  SELECT query_id, cand_id, qv, cv FROM (
         |    SELECT q.query_id, c.cand_id, q.qv, c.cv,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (SELECT sum((q.qp[i] - c.cp[i]) * (q.qp[i] - c.cp[i]))
         |         FROM generate_series(1, $JlK) t(i)), c.cand_id) AS r
         |    FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id)
         |  WHERE r <= ${AnnK * AnnOverquery}),
         |rer AS (SELECT query_id, cand_id, ${l2Sql("qv", "cv")} AS dist FROM s)
         |SELECT query_id, cand_id, dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
         |  FROM rer)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin
    },

    // Stored-projection replica: one sequential-fold dot per JL row,
    // rounded at 6 — mirrors emb_pca_project.
    "emb_jl_project" -> {
      val centsRows = (0 until JlK).map(j =>
        s"SELECT CAST($j AS BIGINT) AS dim, ${jlArray(j)}::DOUBLE[] AS arr")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH cents AS (
         |  $centsRows)
         |SELECT e.vec_id, c.dim,
         |  floor((SELECT sum(e.embedding[i]::DOUBLE * c.arr[i])
         |         FROM generate_series(1, 64) t(i)) * 1000000 + 0.5) / 1000000 AS value
         |FROM embeddings e CROSS JOIN cents c
         |ORDER BY vec_id, dim""".stripMargin
    },

    // Distortion replica: rounded projections (the stored form), then
    // the same rounded L2² on both spaces and a rounded quotient.
    "emb_jl_distortion" -> {
      val centsRows = (0 until JlK).map(j =>
        s"SELECT CAST($j AS BIGINT) AS j, ${jlArray(j)}::DOUBLE[] AS arr")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH cents AS (
         |  $centsRows),
         |e32 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32),
         |pj AS (SELECT e.vec_id, c.j,
         |         floor((SELECT sum(e.embedding[i]::DOUBLE * c.arr[i])
         |                FROM generate_series(1, 64) t(i)) * 1000000 + 0.5) / 1000000 AS v
         |       FROM e32 e CROSS JOIN cents c),
         |pv AS (SELECT vec_id, list(v ORDER BY j) AS p FROM pj GROUP BY vec_id),
         |pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${l2Sql("a.embedding", "b.embedding")} AS d2,
         |         floor((SELECT sum((pa.p[i] - pb.p[i]) * (pa.p[i] - pb.p[i]))
         |                FROM generate_series(1, $JlK) t(i)) * 1000000 + 0.5) / 1000000 AS d2_jl
         |       FROM e32 a JOIN e32 b ON a.vec_id < b.vec_id
         |       JOIN pv pa ON pa.vec_id = a.vec_id
         |       JOIN pv pb ON pb.vec_id = b.vec_id)
         |SELECT vec_a, vec_b, d2, d2_jl,
         |       CASE WHEN d2 > 0 THEN floor(d2_jl / d2 * 1000000 + 0.5) / 1000000 END AS ratio
         |FROM pr ORDER BY vec_a, vec_b""".stripMargin
    },

    // Binary-quantization replica: Hamming = dimension-wise count of
    // sign disagreements (>= 0 on both engines — the packed-code form
    // is bit-equivalent by construction), shortlist ties (hamming,
    // cand_id), re-rank with the shared rounded-cosine expression.
    "ann_binary_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |s AS (
         |  SELECT query_id, cand_id, qv, cv FROM (
         |    SELECT q.query_id, c.cand_id, q.qv, c.cv,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (SELECT count(*) FROM generate_series(1, 64) t(i)
         |         WHERE (q.qv[i] >= 0) <> (c.cv[i] >= 0)), c.cand_id) AS r
         |    FROM c CROSS JOIN q WHERE c.cand_id <> q.query_id)
         |  WHERE r <= ${AnnK * AnnOverquery}),
         |rer AS (SELECT query_id, cand_id, $cosineExpr AS score FROM s)
         |SELECT query_id, cand_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM rer)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,

    // order — generate_series sums sequentially like l2Sql) → raw-
    // double shortlist cut → rounded exact-L2 re-rank. Every term is
    // an IEEE-exact double op shared with the Spark expressions.
    "ann_sq8_topk" ->
      s"""WITH stats AS (
         |  SELECT [${(1 to 64).map(d => s"min(embedding[$d])::DOUBLE").mkString(", ")}] AS mnl,
         |         [${(1 to 64).map(d => s"max(embedding[$d])::DOUBLE").mkString(", ")}] AS mxl
         |  FROM embeddings),
         |st AS (
         |  SELECT mnl AS mn,
         |    list_transform(generate_series(1, 64), d -> (mxl[d] - mnl[d]) / 255.0) AS dl
         |  FROM stats),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |enc AS (
         |  SELECT e.vec_id AS cand_id, e.embedding AS cv,
         |    list_transform(generate_series(1, 64), d ->
         |      CASE WHEN s.dl[d] = 0 THEN 0
         |        ELSE CAST(least(255.0, greatest(0.0,
         |          floor((e.embedding[d]::DOUBLE - s.mn[d]) / s.dl[d] + 0.5))) AS INTEGER)
         |      END) AS codes
         |  FROM embeddings e CROSS JOIN st s),
         |shortl AS (
         |  SELECT query_id, cand_id, qv, cv FROM (
         |    SELECT q.query_id, e.cand_id, q.qv, e.cv,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (SELECT sum((q.qv[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i]))
         |                  * (q.qv[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i])))
         |         FROM generate_series(1, 64) t(i)), e.cand_id) AS r
         |    FROM enc e CROSS JOIN q CROSS JOIN st s
         |    WHERE e.cand_id <> q.query_id)
         |  WHERE r <= ${AnnK * AnnOverquery}),
         |rer AS (SELECT query_id, cand_id, ${l2Sql("qv", "cv")} AS dist FROM shortl)
         |SELECT query_id, cand_id, dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
         |  FROM rer)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,

    "ann_sq8_reconstruction" ->
      s"""WITH stats AS (
         |  SELECT [${(1 to 64).map(d => s"min(embedding[$d])::DOUBLE").mkString(", ")}] AS mnl,
         |         [${(1 to 64).map(d => s"max(embedding[$d])::DOUBLE").mkString(", ")}] AS mxl
         |  FROM embeddings),
         |st AS (
         |  SELECT mnl AS mn,
         |    list_transform(generate_series(1, 64), d -> (mxl[d] - mnl[d]) / 255.0) AS dl
         |  FROM stats),
         |enc AS (
         |  SELECT e.vec_id,
         |    list_transform(generate_series(1, 64), d ->
         |      CASE WHEN s.dl[d] = 0 THEN 0
         |        ELSE CAST(least(255.0, greatest(0.0,
         |          floor((e.embedding[d]::DOUBLE - s.mn[d]) / s.dl[d] + 0.5))) AS INTEGER)
         |      END) AS codes
         |  FROM embeddings e CROSS JOIN st s)
         |SELECT e.vec_id,
         |  floor((SELECT sum((v.embedding[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i]))
         |              * (v.embedding[i]::DOUBLE - (s.mn[i] + e.codes[i] * s.dl[i])))
         |         FROM generate_series(1, 64) t(i)) * 1000000 + 0.5) / 1000000 AS recon_err
         |FROM enc e JOIN embeddings v USING (vec_id) CROSS JOIN st s
         |ORDER BY e.vec_id""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |           ${bucketExpr("embedding")} AS bucket
         |    FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv,
         |           ${bucketExpr("embedding")} AS bucket
         |    FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.cand_id, $cosineExpr AS score
         |  FROM c JOIN q ON c.bucket = q.bucket AND c.cand_id != q.query_id)
         |SELECT query_id, cand_id, score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin,
    "pq_adc_fixed" -> {
      val cdistCols = (for (j <- 0 until PqSub; c <- 0 until PqKsub)
        yield s"(${pqCentDist("embedding", j, c)}) AS d${j}_$c").mkString(",\n  ")
      val codeCols = (0 until PqSub)
        .map(j => s"${pqCodeCase(j)} AS code$j").mkString(",\n  ")
      val adc = (0 until PqSub).map(j => s"(${pqAdcCase(j)})").mkString(" + ")
      s"""WITH cdist AS (
         |  SELECT vec_id AS cand_id,
         |  $cdistCols
         |  FROM embeddings),
         |enc AS (
         |  SELECT cand_id,
         |  $codeCols
         |  FROM cdist),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.cand_id,
         |         floor(($adc) * 1000000 + 0.5) / 1000000 AS approx_dist
         |  FROM enc e, q WHERE e.cand_id != q.query_id)
         |SELECT query_id, cand_id, approx_dist, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, cand_id) AS rank
         |  FROM scored)
         |WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin
    },

    // reconstruction error: ADC(own codes, own vector) ≡ the per-sub
    // MINIMUM centroid distance, so the replica needs no code CASE at
    // all — least() over the same bit-exact distance chain
    "ann_pq_reconstruction" -> {
      val cdistCols = (for (j <- 0 until PqSub; c <- 0 until PqKsub)
        yield s"(${pqCentDist("embedding", j, c)}) AS d${j}_$c")
        .mkString(",\n  ")
      val mins = (0 until PqSub).map(j =>
        "least(" + (0 until PqKsub).map(c => s"d${j}_$c").mkString(", ") + ")")
        .mkString(" + ")
      s"""WITH cdist AS (
         |  SELECT vec_id,
         |  $cdistCols
         |  FROM embeddings)
         |SELECT vec_id,
         |  floor(($mins) * 1000000 + 0.5) / 1000000 AS recon_err
         |FROM cdist ORDER BY vec_id""".stripMargin
    },

    // stored-index IVF-PQ, fixed model: the full build+query replica
    "ann_ivfpq_indexed_fixed" ->
      s"""WITH ${ivfPqFixedSql("embeddings", "vec_id", "embedding", "v.vec_id < 10")}""",

    // Recall replica: the full fixed-index chain as a nested CTE, the
    // exact-L2 baseline (same pround(6) distance, same (dist, cand)
    // tie-break as the Spark side's negated-score spelling), then the
    // per-query overlap count over k.
    "ann_recall_fixed" ->
      s"""WITH ann AS (
         |  WITH ${ivfPqFixedSql("embeddings", "vec_id", "embedding", "v.vec_id < 10")}),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         |sc AS (
         |  SELECT q.query_id, c.cand_id, ${l2Sql("qv", "cv")} AS dist
         |  FROM c, q WHERE c.cand_id != q.query_id),
         |ex AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY dist, cand_id) AS r
         |    FROM sc)
         |  WHERE r <= $AnnK),
         |h AS (
         |  SELECT e.query_id, count(*) AS h FROM ex e
         |  JOIN ann a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
         |  GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT s.query_id, CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.h, 0) AS DOUBLE) / CAST($AnnK AS DOUBLE) AS recall
         |FROM qs s LEFT JOIN h ON h.query_id = s.query_id
         |ORDER BY s.query_id""".stripMargin,

    // IVF-SQ8 with fixed cells: the SemCents argmin routes corpus and
    // probes; global per-dim min/max bounds quantize; decoded ADC cuts
    // the shortlist; exact L2 re-ranks — every stage closed-form.
    "ann_ivf_sq8_topk" ->
      s"""WITH ${ivfSq8FixedSql("embeddings", "vec_id", "embedding", "v.vec_id < 10")}""",

    // residual-encoded variant: float32 centroid subtraction on both
    // the encode and the query side, then the same ADC + re-rank
    "ann_ivfpq_indexed_fixed_residual" ->
      s"""WITH ${ivfPqFixedSql("embeddings", "vec_id", "embedding", "v.vec_id < 10", residual = true)}""",

    // append path: base(80%) + appendVectors(20%) under the fixed
    // residual model ≡ one full fixed build (encode is model-pure), so
    // the SAME full-build replica hash-checks the incrementally-built
    // index — the equivalence IS the assertion
    "ann_ivfpq_append" ->
      s"""WITH ${ivfPqFixedSql("embeddings", "vec_id", "embedding", "v.vec_id < 10", residual = true)}""",

    // text→ANN bridge: hashed dense vectors feed the same replica
    "text_hash_ann_indexed" ->
      s"""WITH $hashDenseCte,
         |vecs AS (SELECT doc_id, list(weight ORDER BY dim_idx) AS vec
         |         FROM dense GROUP BY doc_id),
         |${ivfPqFixedSql("vecs", "doc_id", "vec", "v.doc_id < 5")}""".stripMargin,

    "emb_near_dup" ->
      s"""WITH v AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
         |a AS (SELECT vec_id AS id_a, embedding AS qv, bucket FROM v),
         |b AS (SELECT vec_id AS id_b, embedding AS cv, bucket FROM v)
         |SELECT id_a, id_b, score FROM (
         |  SELECT id_a, id_b, $cosineExpr AS score
         |  FROM a JOIN b ON a.bucket = b.bucket AND a.id_a < b.id_b)
         |WHERE score >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "contamination_semantic" ->
      s"""WITH tr AS (SELECT vec_id AS train_id, embedding AS cv, ${bucketExpr("embedding")} AS bucket
         |            FROM embeddings WHERE vec_id >= 20),
         |ev AS (SELECT vec_id AS eval_id, embedding AS qv, ${bucketExpr("embedding")} AS bucket
         |       FROM embeddings WHERE vec_id < 20)
         |SELECT train_id, eval_id, score FROM (
         |  SELECT train_id, eval_id, $cosineExpr AS score
         |  FROM tr JOIN ev ON tr.bucket = ev.bucket)
         |WHERE score >= 0.3 ORDER BY train_id, eval_id""".stripMargin,

    "decontaminated_semantic" ->
      s"""WITH tr AS (SELECT vec_id AS train_id, embedding AS cv, ${bucketExpr("embedding")} AS bucket
         |            FROM embeddings WHERE vec_id >= 20),
         |ev AS (SELECT vec_id AS eval_id, embedding AS qv, ${bucketExpr("embedding")} AS bucket
         |       FROM embeddings WHERE vec_id < 20),
         |flagged AS (
         |  SELECT DISTINCT train_id FROM (
         |    SELECT train_id, $cosineExpr AS score
         |    FROM tr JOIN ev ON tr.bucket = ev.bucket)
         |  WHERE score >= 0.3)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id >= 20 AND vec_id NOT IN (SELECT train_id FROM flagged)
         |ORDER BY vec_id""".stripMargin,
    "emb_dedup_canonical" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
         |a AS (SELECT vec_id AS id_a, embedding AS qv, bucket FROM v),
         |b AS (SELECT vec_id AS id_b, embedding AS cv, bucket FROM v),
         |cand AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, $cosineExpr AS score
         |    FROM a JOIN b ON a.bucket = b.bucket AND a.id_a < b.id_b)
         |  WHERE score >= 0.4),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION SELECT id_b AS src, id_a AS dst FROM cand),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings
         |  UNION
         |  SELECT e.src AS id, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
         |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id AS vec_id, count(*) AS n_members
         |FROM cc GROUP BY cluster_id ORDER BY vec_id""".stripMargin,

    // SemDeDup replica: fixed-centroid cell argmin (the -2·dot + Σc²
    // form withCellDist evaluates, ties to the smaller cell), pround(6)
    // cosines, recursive-CTE components, keep = least-centroid-similar
    // per cluster (ties to the smaller id).
    "sem_dedup_fixed" ->
      s"""WITH RECURSIVE cents AS (
         |  ${SemCents.indices.map(c =>
             s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS cv, ${semCentSumSq(c)} AS ss")
             .mkString("\n  UNION ALL\n  ")}),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ((SELECT sum(e.embedding[i]::DOUBLE * c.cv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
         |        c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |sims AS (
         |  SELECT a.vec_id, a.cell, ${cosSql("a.embedding", "c.cv")} AS csim
         |  FROM assign a JOIN cents c ON a.cell = c.cell),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           ${cosSql("a.embedding", "b.embedding")} AS score
         |    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |  WHERE score >= 0.4),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings
         |  UNION
         |  SELECT e2.src AS id, r.lbl FROM reach r JOIN edges e2 ON e2.dst = r.id),
         |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |keep AS (
         |  SELECT id FROM (
         |    SELECT cc.id, row_number() OVER (PARTITION BY cc.cluster_id
         |                                     ORDER BY s.csim, cc.id) AS rn
         |    FROM cc JOIN sims s ON s.vec_id = cc.id)
         |  WHERE rn = 1)
         |SELECT id AS vec_id FROM keep ORDER BY vec_id""".stripMargin,

    // Tether rows: the INVARIANTS are the oracle — the Spark side runs
    // the trained-model sweep shape and reduces it to values DuckDB can
    // state unconditionally (kept non-empty, zero uncovered drops /
    // whitened covariance ≡ I). A broken sweep shape hash-fails here.
    "sem_dedup_scaled_tether" ->
      """SELECT count(*) AS n_total, 1 AS kept_nonempty,
        |       0 AS dropped_uncovered FROM embeddings""".stripMargin,
    "emb_zca_whiten_tether" ->
      "SELECT count(*) AS n_vecs, 1 AS cov_is_identity FROM embeddings",

    // k-center replica: farthest-first unrolled — seed = min id, each
    // step the (mind DESC, id) argmax then a least() min-dist fold,
    // the chosen center dropped from the frontier. Same pround(6)
    // squared-L2 as the fused Spark expression.
    "emb_kcenter_coreset" -> {
      val k = 6
      val steps = (2 to k).map { i =>
        val prev = if (i == 2) "s1" else s"s${i - 1}"
        val upd =
          if (i < k)
            s""",
               |s$i AS (SELECT p.id, p.v,
               |          least(p.mind, ${l2Sql("p.v", "c.v")}) AS mind
               |        FROM $prev p, c$i c WHERE p.id != c.id)""".stripMargin
          else ""
        s"""c$i AS (SELECT id, v, mind FROM $prev
           |        ORDER BY mind DESC, id LIMIT 1)$upd""".stripMargin
      }.mkString(",\n")
      val out = (2 to k).map(i =>
        s"UNION ALL SELECT id, $i, mind FROM c$i").mkString("\n")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |seed AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
         |s1 AS (SELECT e.id, e.v, ${l2Sql("e.v", "s.v")} AS mind
         |       FROM e, seed s WHERE e.id != s.id),
         |$steps
         |SELECT * FROM (
         |  SELECT id AS center_id, 1 AS pick, CAST(0.0 AS DOUBLE) AS radius
         |  FROM seed
         |  $out
         |) ORDER BY pick""".stripMargin
    },
    // SSL-prototypes replica: the sem_dedup_fixed assign/sims stages,
    // then a per-cell rank cut at ceil(keepFrac·n_cell) — hardest
    // (lowest centroid cosine) first, ties to the smaller id.
    "prune_prototypes" ->
      s"""WITH cents AS (
         |  ${SemCents.indices.map(c =>
             s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS cv, ${semCentSumSq(c)} AS ss")
             .mkString("\n  UNION ALL\n  ")}),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ((SELECT sum(e.embedding[i]::DOUBLE * c.cv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
         |        c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |sims AS (
         |  SELECT a.vec_id, a.cell, ${cosSql("a.embedding", "c.cv")} AS proto_sim
         |  FROM assign a JOIN cents c ON a.cell = c.cell),
         |cnt AS (SELECT cell, count(*) AS n_cell FROM sims GROUP BY 1),
         |ranked AS (
         |  SELECT s.vec_id, s.cell, s.proto_sim, c.n_cell,
         |         row_number() OVER (PARTITION BY s.cell
         |                            ORDER BY s.proto_sim, s.vec_id) AS rn
         |  FROM sims s JOIN cnt c ON c.cell = s.cell)
         |SELECT vec_id, cell, proto_sim FROM ranked
         |WHERE rn <= CAST(ceil(CAST(n_cell AS DOUBLE) * $PruneKeepFrac) AS BIGINT)
         |ORDER BY vec_id""".stripMargin,

    // Two-stage replica: stage 1 = sem_dedup_fixed over vec_id<400;
    // stage 2 = batch components + kept-attachment + keep-outlier rule.
    "sem_dedup_incremental" ->
      s"""WITH RECURSIVE cents AS (
         |  ${SemCents.indices.map(c =>
             s"SELECT $c AS cell, ${semCentArray(c)}::DOUBLE[] AS cv, ${semCentSumSq(c)} AS ss")
             .mkString("\n  UNION ALL\n  ")}),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ((SELECT sum(e.embedding[i]::DOUBLE * c.cv[i]) FROM generate_series(1, 64) t(i)) * (-2) + c.ss),
         |        c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |sims AS (
         |  SELECT a.vec_id, a.cell, ${cosSql("a.embedding", "c.cv")} AS csim
         |  FROM assign a JOIN cents c ON a.cell = c.cell),
         |b_pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           ${cosSql("a.embedding", "b.embedding")} AS score
         |    FROM assign a JOIN assign b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    WHERE a.vec_id < 400 AND b.vec_id < 400)
         |  WHERE score >= 0.4),
         |b_edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM b_pairs
         |  UNION SELECT id_b, id_a FROM b_pairs),
         |b_reach AS (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings WHERE vec_id < 400
         |  UNION
         |  SELECT e2.src AS id, r.lbl FROM b_reach r JOIN b_edges e2 ON e2.dst = r.id),
         |b_cc AS (SELECT id, min(lbl) AS cluster_id FROM b_reach GROUP BY id),
         |kept AS (
         |  SELECT id FROM (
         |    SELECT b_cc.id, row_number() OVER (PARTITION BY b_cc.cluster_id
         |                                       ORDER BY s.csim, b_cc.id) AS rn
         |    FROM b_cc JOIN sims s ON s.vec_id = b_cc.id)
         |  WHERE rn = 1),
         |n_pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           ${cosSql("a.embedding", "b.embedding")} AS score
         |    FROM assign a JOIN assign b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    WHERE a.vec_id >= 400 AND b.vec_id >= 400)
         |  WHERE score >= 0.4),
         |hits AS (
         |  SELECT DISTINCT a.vec_id FROM assign a
         |  JOIN kept ON TRUE
         |  JOIN assign k ON k.vec_id = kept.id AND k.cell = a.cell
         |  WHERE a.vec_id >= 400
         |    AND ${cosSql("a.embedding", "k.embedding")} >= 0.4),
         |n_edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM n_pairs
         |  UNION SELECT id_b, id_a FROM n_pairs),
         |n_reach AS (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings WHERE vec_id >= 400
         |  UNION
         |  SELECT e2.src AS id, r.lbl FROM n_reach r JOIN n_edges e2 ON e2.dst = r.id),
         |n_cc AS (SELECT id, min(lbl) AS cluster_id FROM n_reach GROUP BY id),
         |tainted AS (
         |  SELECT DISTINCT n_cc.cluster_id FROM n_cc JOIN hits ON n_cc.id = hits.vec_id),
         |n_keep AS (
         |  SELECT id FROM (
         |    SELECT n_cc.id, row_number() OVER (PARTITION BY n_cc.cluster_id
         |                                       ORDER BY s.csim, n_cc.id) AS rn
         |    FROM n_cc JOIN sims s ON s.vec_id = n_cc.id
         |    WHERE n_cc.cluster_id NOT IN (SELECT cluster_id FROM tainted))
         |  WHERE rn = 1)
         |SELECT id AS vec_id FROM n_keep ORDER BY vec_id""".stripMargin)
}
