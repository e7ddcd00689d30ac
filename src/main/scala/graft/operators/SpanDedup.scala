package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring dedup (the "suffix-dedup" pass of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", ACL 2022): find maximal runs of text that occur verbatim
  * more than once anywhere in the corpus and remove every occurrence
  * except the globally first, leaving the surrounding document intact.
  * Complements the document-level (MinHash) and line-level (CCNet)
  * passes: those drop whole docs/lines; this excises the repeated
  * middle of otherwise-unique documents.
  *
  * The suffix-array of the paper is replaced by a word k-gram roll —
  * the Spark-native equivalent: a duplicated substring of >= k words
  * is exactly a run of duplicated k-grams, so maximal duplicated
  * spans are the islands of duplicated k-gram start positions (merged
  * when coverage overlaps or touches). Character-exactness below the
  * word is traded away; in exchange every step is a relational op the
  * optimizer can see.
  *
  * Scale shape (the 100 TB contract):
  *   - the k-gram explode is ~one row per word — the same blow-up the
  *     MinHash shingle pass already pays, linear in corpus size;
  *   - duplicate marking is ONE map-side-combinable groupBy(gram)
  *     (count + min(position)) joined back on the gram — an equi-join
  *     against a one-row-per-gram right side, so a boilerplate gram
  *     in 10^6 docs contributes 10^6 join rows, never 10^12 pairs
  *     (no self-join anywhere);
  *   - island merge and reassembly are per-document window/agg work,
  *     bounded by document length, partitioned by doc id.
  */
object SpanDedup {

  /** (idCol, pos, gram): every word k-gram with its 0-based start
    * position. Documents shorter than k words contribute nothing.
    */
  private[graft] def gramOccurrences(docs: DataFrame, idCol: String,
                                     textCol: String, k: Int): DataFrame = {
    val words = split(col(textCol), " ")
    // fanOut: the per-doc k-gram build + posexplode runs at scan
    // parallelism — one task on a single-row-group corpus file
    Par.fanOut(docs).filter(size(words) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(words) - k),
          i => concat_ws(" ", slice(words, i + 1, lit(k))))))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("gram"))
  }

  /** Start positions of duplicated k-grams, EXCLUDING each gram's
    * globally-first occurrence (lexicographic min of (doc, pos) — the
    * deterministic "keep one copy" rule). The first-occurrence agg is
    * min(struct(..)) — partial-aggregatable, so the gram shuffle moves
    * one pre-reduced row per (map partition, gram).
    */
  private[graft] def dupPositions(docs: DataFrame, idCol: String,
                                  textCol: String, k: Int): DataFrame = {
    val occ = gramOccurrences(docs, idCol, textCol, k)
    val stats = occ.groupBy("gram")
      .agg(count(lit(1)).as("df"),
        min(struct(col(idCol), col("pos"))).as("first_occ"))
      .filter(col("df") >= 2)
      .select("gram", "first_occ")
    occ.join(stats, Seq("gram"))
      .filter(struct(col(idCol), col("pos")) =!= col("first_occ"))
      .select(idCol, "pos")
  }

  /** Maximal duplicated spans per document: (idCol, span_start,
    * span_end, n_words), word positions inclusive. A duplicated k-gram
    * at position p covers [p, p+k-1]; overlapping or touching
    * coverages merge into one span (gaps-and-islands over the per-doc
    * running coverage maximum).
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("pos") + (k - 1))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L)
      .otherwise(0L)
    dupPositions(docs, idCol, textCol, k)
      .withColumn("ns", newIsland)
      .withColumn("island", sum(col("ns")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_words"))
  }

  /** The corpus with duplicated spans excised: (idCol, clean_text,
    * n_removed). Documents with no spans pass through verbatim; a
    * document that was ALL duplicate comes back as the empty string,
    * not a lost row. A null text has no words and so no spans: it comes
    * back as `clean_text = null`, `n_removed = 0` (SpanDedupSpec pins
    * it).
    *
    * Excision is per-ROW codegen, not a word-level relational pass: the
    * few spans of each doc aggregate into one array row, join the
    * corpus once on the doc id, and a positional higher-order `filter`
    * drops covered words inside the row. The previous spelling exploded
    * EVERY corpus word, anti-range-joined, and reassembled documents
    * through a corpus-words-scale collect_list shuffle — at 100 TB that
    * moves every surviving word across the network twice to delete a
    * few spans; this form shuffles only the span lists (≤ spans rows)
    * and streams the corpus through one join + one map. Output is
    * unchanged: `split(text,' ')` round-trips through
    * `concat_ws(' ', ...)` exactly (empty-string words included), so a
    * span-free doc's rebuilt text IS its text, and surviving words keep
    * their order by construction instead of by array_sort.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val spanLists = dupSpans(docs, idCol, textCol, k)
      .groupBy(col(idCol).as("span_doc"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    val words = split(col(textCol), " ")
    // positional filter: word at 0-based position i survives iff no
    // span covers i (filter's (element, index) form; exists() scans the
    // per-doc span list — a handful of entries)
    val keptArr = filter(words, (_, i) =>
      !exists(col("spans"), s =>
        i.cast("long").between(s.getField("span_start"),
          s.getField("span_end"))))
    Par.fanOut(docs)
      .join(spanLists, docs(idCol) === col("span_doc"), "left_outer")
      .select(col(idCol),
        when(col("spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", keptArr)).as("clean_text"),
        when(col("spans").isNull, lit(0L))
          .otherwise((size(words) - size(keptArr)).cast("long"))
          .as("n_removed"))
  }
}
