package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The C4/Gopher-style corpus cleaning pass: every per-document quality
  * signal computed in ONE projection over one corpus scan, then a single
  * ordered verdict — the composition a production pipeline actually
  * runs, rather than one filter job per signal.
  *
  * Scale shape: all signals are codegen'd expressions
  * (`TextFunctions.*`), so the whole pass is one WholeStageCodegen
  * map stage — no shuffle, no UDF, linear in corpus size, and the
  * verdict predicate pushes into the scan when only kept docs are read.
  */
object Quality {

  /** Reject thresholds; verdict precedence is the declaration order
    * below (a doc failing several checks reports the first).
    * `blockedPhrases` arms the C4-style bad-words gate: any phrase of
    * the list contained in the text rejects the document — matched by
    * ONE Aho–Corasick pass ([[graft.functions.PhraseHits]]), so the
    * gate's cost is O(|text|) however long the list is. Empty list
    * (the default) = gate off, signals and schema unchanged.
    */
  final case class Thresholds(
      minTokens: Long = 15,
      maxTokens: Long = 1 << 20,
      allowedLangs: Seq[String] = Seq("en", "de", "es", "fr"),
      minQuality: Double = 0.0,
      maxDupWordRatio: Double = 1.0,
      blockedPhrases: Seq[String] = Seq.empty)

  /** Per-document signals + verdict: `too_short` | `too_long` |
    * `bad_lang` | `blocked` | `low_quality` | `repetitive` | `keep`.
    * With the blocklist armed the output carries one extra signal
    * column `n_blocked` (distinct blocklist phrases present) and the
    * `blocked` arm sits after `bad_lang` — C4 drops bad-words pages
    * outright, before any quality scoring.
    */
  def verdict(docs: DataFrame, idCol: String, textCol: String,
              t: Thresholds): DataFrame = {
    val c = col(textCol)
    val blockedSig =
      if (t.blockedPhrases.isEmpty) Nil
      else Seq(size(graft.functions.PhraseHits.column(c, t.blockedPhrases))
        .as("n_blocked"))
    val sig = docs.select(Seq(col(idCol),
      TextFunctions.tokenCount(c).as("n_tokens"),
      TextFunctions.langId(c).as("lang_id"),
      TextFunctions.qualityScore(c).as("quality"),
      TextFunctions.dupWordRatio(c).as("dup_word_ratio")) ++ blockedSig: _*)
    val base =
      when(col("n_tokens").isNull, "null_text")
        // a null document must not fall through every threshold `when`
        // (null comparisons are null, not false) into "keep"
        .when(col("n_tokens") < t.minTokens, "too_short")
        .when(col("n_tokens") > t.maxTokens, "too_long")
        .when(!col("lang_id").isin(t.allowedLangs.map(x => x: Any): _*),
          "bad_lang")
    val withBlock =
      if (t.blockedPhrases.isEmpty) base
      else base.when(col("n_blocked") > 0, "blocked")
    sig.withColumn("verdict",
      withBlock
        .when(col("quality") < t.minQuality, "low_quality")
        .when(col("dup_word_ratio") > t.maxDupWordRatio, "repetitive")
        .otherwise("keep"))
  }

  /** The filtered corpus itself: original rows that pass every check —
    * the same signals as a pure filter predicate, still one map-only
    * scan (no join against the verdict frame needed).
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            t: Thresholds): DataFrame = {
    val c = col(textCol)
    val blockOk =
      if (t.blockedPhrases.isEmpty) lit(true)
      else size(graft.functions.PhraseHits.column(c, t.blockedPhrases)) === 0
    docs.filter(
      c.isNotNull &&
        TextFunctions.tokenCount(c).between(t.minTokens, t.maxTokens) &&
        TextFunctions.langId(c)
          .isin(t.allowedLangs.map(x => x: Any): _*) &&
        blockOk &&
        TextFunctions.qualityScore(c) >= t.minQuality &&
        TextFunctions.dupWordRatio(c) <= t.maxDupWordRatio)
  }

  /** Bad-record quarantine for a JSON payload column: rows whose
    * payload yields the required field parse to `ok` with the value
    * extracted; everything else (malformed JSON, wrong shape, missing
    * field) routes to `quarantine` with the raw payload preserved for
    * replay — the standard ingest pattern that keeps one poison pill
    * from failing a 100 TB batch while losing nothing.
    *
    * `get_json_object` is codegen'd and returns NULL on any parse
    * failure, so the whole routing is one map-only projection — no
    * UDF, no exception handling in the hot path, and the status
    * predicate pushes down when only one route is read.
    */
  def jsonQuarantine(df: DataFrame, jsonCol: String, field: String)
      : DataFrame = {
    val extracted = get_json_object(col(jsonCol), s"$$.$field")
    // try_cast, not cast: under ANSI a non-numeric field value must
    // route to quarantine, not throw — that is the operator's whole job
    df.withColumn(field, extracted.try_cast(org.apache.spark.sql.types.LongType))
      .withColumn("status",
        when(col(field).isNotNull, "ok").otherwise("quarantine"))
  }

  /** The Gopher quality-filter panel (Rae et al. 2021, Appendix A —
    * the rule set MassiveWeb shipped with, reproduced as named flags so
    * a pipeline can adopt, tune, or ablate each rule instead of
    * inheriting one opaque verdict): word-count band [50, 100 000],
    * mean word length band [3, 10], symbol-to-word ratio (# and … per
    * word) ≤ 0.1, ≥ 80 % of words carrying at least one alphabetic
    * character, ≥ 2 distinct hits from the required-stop-word set
    * {the, be, to, of, and, that, have, with}, and the paper's two
    * LINE-shaped rules — ≤ 90 % of lines starting with a bullet
    * ([•*-]) and ≤ 30 % ending with an ellipsis ("..."/"…"). A "line"
    * here is [[LineDedup]]'s unit for this line-less corpus model:
    * `lineWords`-word chunks ([[TextFunctions.wordChunks]], default 10
    * — the line_dedup fixture convention); feed real newline splits by
    * pre-splitting upstream when the corpus carries them.
    *
    * Pure per-row expression arithmetic: one WholeStageCodegen map over
    * the corpus scan, no shuffle, SQL-replicable bit-for-bit (counts
    * and prounded ratios).
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  lineWords: Int = 10): DataFrame = {
    val c = col(textCol)
    val ws = TextFunctions.tokens(c)
    val nWords = size(ws).cast("long")
    // Σ word length = chars minus the separators (tokens are
    // single-space splits, so separators = n_words − 1 for non-empty)
    val sumLen = (length(c) - (nWords - 1)).cast("double")
    val meanLen = when(nWords > 0, graft.functions.Rounding.pround(
      sumLen / nWords.cast("double"), 4)).otherwise(lit(0.0))
    val nHash = (length(c) - length(regexp_replace(c, "#", ""))).cast("long")
    val nEllipsis = ((length(c) -
      length(regexp_replace(c, "\\.\\.\\.", ""))) / 3).cast("long")
    val symRatio = when(nWords > 0, graft.functions.Rounding.pround(
      (nHash + nEllipsis).cast("double") / nWords.cast("double"), 6))
      .otherwise(lit(0.0))
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val alphaFrac = when(nWords > 0, graft.functions.Rounding.pround(
      alphaWords.cast("double") / nWords.cast("double"), 6))
      .otherwise(lit(0.0))
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = required.map(w =>
      when(array_contains(ws, w), 1).otherwise(0)).reduce(_ + _).cast("long")
    // line-shaped rules over the wordChunks "lines": counts, then two
    // prounded fractions — still the same single codegen'd projection
    val lines = TextFunctions.wordChunks(c, lineWords)
    val nLines = size(lines).cast("long")
    val bulletLines =
      size(filter(lines, l => l.rlike("^[•*-]"))).cast("long")
    val ellipsisLines =
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .cast("long")
    val bulletFrac = when(nLines > 0, graft.functions.Rounding.pround(
      bulletLines.cast("double") / nLines.cast("double"), 6))
      .otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0, graft.functions.Rounding.pround(
      ellipsisLines.cast("double") / nLines.cast("double"), 6))
      .otherwise(lit(0.0))
    // fanOut: the panel is one heavy regex/HOF projection per row and
    // runs at scan parallelism — one task on a single-row-group file
    Par.fanOut(docs)
      .select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"), alphaFrac.as("alpha_word_frac"),
      stopHits.as("stop_hits"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"))
      .withColumn("pass_words",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("pass_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("pass_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("pass_alpha", col("alpha_word_frac") >= 0.8)
      .withColumn("pass_stops", col("stop_hits") >= 2)
      .withColumn("pass_bullet_lines", col("bullet_line_frac") <= 0.9)
      .withColumn("pass_ellipsis_lines", col("ellipsis_line_frac") <= 0.3)
      .withColumn("gopher_pass",
        col("pass_words") && col("pass_word_len") && col("pass_symbols") &&
          col("pass_alpha") && col("pass_stops") &&
          col("pass_bullet_lines") && col("pass_ellipsis_lines"))
  }

  /** The C4 cleaning panel (Raffel et al. 2020 §2.2), document-grained:
    * terminal punctuation (. ! ? or closing quote), ≥ 3 sentences
    * ('.'-delimited, the paper's heuristic), no '{' (the code filter),
    * no "lorem ipsum", no "javascript" (C4 applies the latter two
    * case-insensitively; its LINE-grained variants — drop individual
    * lines without a terminal period — are a line-REWRITE pass, not a
    * document filter, and live with [[LineDedup]]'s reassembly shape
    * rather than this panel; [[gopherRules]] covers the line-shaped
    * FILTER rules via the wordChunks convention). Flags per rule + the
    * conjunction, one codegen'd map stage.
    */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val c = col(textCol)
    val lc = lower(c)
    val nSentences = (size(split(c, "\\.")) - 1).cast("long")
    // no fanOut here (measured): the C4 flags are cheap contains/rlike
    // per row — the round-robin exchange cost exceeded the win
    // (0.29 s → 0.44 s at bench scale); gopherRules' HOF-per-line panel
    // is the one that pays off
    docs.select(col(idCol),
      c.rlike("[.!?\"']$").as("pass_terminal_punct"),
      (nSentences >= 3).as("pass_min_sentences"),
      (!c.contains("{")).as("pass_no_brace"),
      (!lc.contains("lorem ipsum")).as("pass_no_lorem"),
      (!lc.contains("javascript")).as("pass_no_javascript"))
      .withColumn("c4_pass",
        col("pass_terminal_punct") && col("pass_min_sentences") &&
          col("pass_no_brace") && col("pass_no_lorem") &&
          col("pass_no_javascript"))
  }
}
