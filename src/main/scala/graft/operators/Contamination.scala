package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, TextFunctions}

/** Eval-set contamination detection for the training-data tier: find
  * TRAINING documents that contain a meaningful fraction of an EVAL
  * document's word n-grams — the decontamination pass every
  * benchmark-clean corpus build runs before training (n-gram-overlap
  * style, as published in the GPT-3/PaLM data cards).
  *
  * The metric is CONTAINMENT (shared shingles / eval-doc shingles), not
  * Jaccard: a 100-word eval question buried in a 10k-word training page
  * is contamination even though the pair's Jaccard is tiny.
  *
  * Scale shape: the same inverted-index discipline as the dedup tier —
  * explode distinct shingles, equi-join on the shingle, aggregate per
  * (eval, train) pair; cost is bounded by shingle co-occurrence, never
  * |eval| × |corpus|. The eval side (benchmarks: thousands of docs, not
  * billions) is broadcast, so the 100 TB corpus side streams map-side
  * with no corpus shuffle at all.
  */
object Contamination {

  /** @param evalPredicate marks the eval/benchmark rows inside `docs`
    * @param minContainment report pairs with containment >= this
    * @param materialize eager plan-detached result (default); pass
    *                    false for a lazy frame when composing — the
    *                    eval shingle set then evaluates once per
    *                    consumer
    * @return (eval_id, train_id, n_common, containment)
    */
  def overlap(docs: DataFrame, idCol: String, textCol: String, n: Int,
              evalPredicate: Column, minContainment: Double,
              materialize: Boolean = true,
              maxTrainDf: Int = Dedup.DefaultMaxDf): DataFrame = {
    // fanOut: the shingle explode runs at scan parallelism — one task
    // on a single-row-group corpus file (guide §2.5)
    val sh = Par.fanOut(docs).select(col(idCol), evalPredicate.as("is_eval"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n)))
        .as("shingle"))
    if (!materialize) pairsFrom(sh, idCol, minContainment,
      maxTrainDf = maxTrainDf)
    else {
      // the tiny eval shingle set feeds two consumers (join side +
      // sizes); persist so the corpus is shingled and split only once
      val ev = sh.filter(col("is_eval"))
        .select(col(idCol).as("eval_id"), col("shingle")).persist()
      val out = pairsFrom(sh, idCol, minContainment, Some(ev), maxTrainDf)
        .checkpoint()
      ev.unpersist(blocking = false)
      out
    }
  }

  /** Bloom-filter corpus prefilter: training documents none of whose
    * shingles can possibly appear in the eval set are dropped BEFORE
    * the shingle explode/join. The filter is built distributed from the
    * eval shingles (`DataFrameStat.bloomFilter`, a treeAggregate),
    * collected once (m·ln(1/fpp)/ln²2 bits — a few MB for benchmark-
    * sized eval sets), and broadcast; each corpus document then pays
    * one map-side membership probe per distinct shingle instead of
    * entering the join at all. Bloom filters have NO false negatives,
    * so the exact overlap on the survivors equals the exact overlap on
    * the full corpus — verified by `ContaminationSpec` and the shared
    * oracle row. At 100 TB this is the difference between shuffling
    * shingles for every document and for only the ~fpp fraction that
    * might matter.
    *
    * The membership probe is a Scala UDF — the one place the engine
    * accepts one, because Spark exposes no codegen'd bloom-probe
    * function on a prebuilt filter (the built-in runtime row-level
    * filtering is join-internal and not addressable from the API).
    */
  def bloomSurvivors(docs: DataFrame, idCol: String, textCol: String, n: Int,
                     evalPredicate: Column, expectedShingles: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    val evalShingles = docs.filter(evalPredicate)
      .select(explode(array_distinct(
        TextFunctions.wordShingles(col(textCol), n))).as("shingle"))
    val bloom = evalShingles.stat.bloomFilter("shingle", expectedShingles, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightHit = udf((shingles: Seq[String]) =>
      shingles != null && shingles.exists(bc.value.mightContainString))
    // fanOut: the per-doc shingle + bloom-probe filter runs at scan
    // parallelism; the inserted exchange also lets the downstream
    // overlap() pass inherit full parallelism
    Par.fanOut(docs).filter(evalPredicate ||
      mightHit(array_distinct(TextFunctions.wordShingles(col(textCol), n))))
  }

  /** [[overlap]] over [[bloomSurvivors]] — identical result (no false
    * negatives), corpus-scale prefilter in front.
    */
  def overlapPrefiltered(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, evalPredicate: Column,
                         minContainment: Double,
                         expectedShingles: Long = 1L << 20,
                         fpp: Double = 0.01,
                         maxTrainDf: Int = Dedup.DefaultMaxDf): DataFrame =
    overlap(bloomSurvivors(docs, idCol, textCol, n, evalPredicate,
      expectedShingles, fpp), idCol, textCol, n, evalPredicate,
      minContainment, maxTrainDf = maxTrainDf)

  /** A shingle present in more than `maxTrainDf` TRAINING documents is
    * web boilerplate, not benchmark leakage — and it is also the df²
    * hot key that would blow up the overlap join on a real crawl (one
    * ubiquitous phrase × every eval doc containing it). Over-cap
    * shingles are dropped from BOTH sides (and from the containment
    * denominator), so the score stays a true containment over the
    * informative-shingle universe. The over-cap set is tiny by
    * definition → broadcast anti-join, no extra corpus shuffle
    * (same shape as Dedup.capDf, keyed on the training-side df).
    */
  private def pairsFrom(sh: DataFrame, idCol: String, minContainment: Double,
                        evCached: Option[DataFrame] = None,
                        maxTrainDf: Int = Dedup.DefaultMaxDf): DataFrame = {
    val ev0 = evCached.getOrElse(sh.filter(col("is_eval"))
      .select(col(idCol).as("eval_id"), col("shingle")))
    val tr0 = sh.filter(!col("is_eval"))
      .select(col(idCol).as("train_id"), col("shingle"))
    val (ev, tr) =
      if (maxTrainDf <= 0) (ev0, tr0)
      else {
        val hot = tr0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTrainDf)
          .select(col("shingle"))
        (ev0.join(broadcast(hot), Seq("shingle"), "left_anti"),
          tr0.join(broadcast(hot), Seq("shingle"), "left_anti"))
      }
    val evSizes = ev.groupBy("eval_id")
      .agg(count(lit(1)).as("n_eval_shingles"))
    val inter = tr.join(broadcast(ev), Seq("shingle"))
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("n_common"))
    inter.join(broadcast(evSizes), Seq("eval_id"))
      .withColumn("containment", Rounding.pround(
        col("n_common").cast("double") / col("n_eval_shingles"), 4))
      .filter(col("containment") >= minContainment)
      .select("eval_id", "train_id", "n_common", "containment")
  }

  /** SEMANTIC contamination: training rows whose EMBEDDING is close to
    * an eval-set embedding — paraphrased or translated benchmark
    * leakage that shares no n-gram with the eval text, the gap the
    * lexical [[overlap]] pass cannot see (the published complement:
    * embedding-similarity decontamination as in the Llama/phi data
    * cards and SemDeDup's cross-split use).
    *
    * Scale shape: the EVAL side (benchmarks — thousands to a million
    * rows, never corpus-scale) is sign-bucketed and BROADCAST, so the
    * corpus pays one map-side bucket probe + a handful of fused cosine
    * evaluations per row — no corpus shuffle at all, the same
    * discipline as the bloom prefilter above. The sign-bucket is the
    * recall trade (same-orthant candidates only, as
    * [[Similarity.nearDupPairs]] documents); production raises `bits`
    * with corpus size to keep per-bucket eval candidates small.
    *
    * @return (train_id, eval_id, score) — every flagged pair, cosine
    *         rounded at 6 for cross-engine determinism
    */
  def semanticOverlap(train: DataFrame, eval: DataFrame, idCol: String,
                      vecCol: String, bits: Int,
                      minCosine: Double): DataFrame = {
    val tr = train.select(col(idCol).as("train_id"), col(vecCol).as("cv"),
      Similarity.signBucket(col(vecCol), bits).as("bucket"))
    val ev = eval.select(col(idCol).as("eval_id"), col(vecCol).as("qv"),
      Similarity.signBucket(col(vecCol), bits).as("bucket"))
    tr.join(broadcast(ev), Seq("bucket"))
      .withColumn("score",
        Similarity.cosineFused(col("qv"), col("cv")))
      .filter(col("score") >= minCosine)
      .select("train_id", "eval_id", "score")
  }

  /** The corpus after semantic decontamination: drop every training row
    * [[semanticOverlap]] flags against the eval set. One broadcast
    * anti-join on the flagged id set (flagged rows ∝ leakage, tiny by
    * construction) — the embedding twin of the lexical
    * `decontaminated_corpus` composition.
    */
  def semanticDecontaminated(train: DataFrame, eval: DataFrame,
                             idCol: String, vecCol: String, bits: Int,
                             minCosine: Double): DataFrame = {
    val flagged = semanticOverlap(train, eval, idCol, vecCol, bits,
      minCosine)
      .select(col("train_id").as(idCol)).distinct()
    train.join(broadcast(flagged), Seq(idCol), "left_anti")
  }
}
