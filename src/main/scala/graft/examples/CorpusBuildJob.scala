package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators._
import graft.sources.IO

/** The training-data tier end to end: one driver program that takes a
  * raw document corpus to training-ready artifacts, every stage an
  * operator this library ships and tests individually:
  *
  *   1. quality gate (`Quality.clean`) — map-only scan
  *   2. PII scrub (`TextFunctions.scrubPii`) — map-only
  *   3. line-level boilerplate removal (`LineDedup`) — 1 line-key shuffle
  *   4. document near-dup removal: MinHash-LSH pairs → connected
  *      components → keep each cluster's canonical (min-id) doc
  *   5. SEMANTIC dedup (`Similarity.semDedup` over feature-hashed
  *      embeddings): catches bag-of-words near-dups the shingle pass
  *      can't see (reordered boilerplate, light paraphrase) — with
  *      zero trained state, since the vectors are hashing-trick BoW
  *   6. eval-set decontamination (`Contamination.overlapPrefiltered`
  *      anti-join — broadcast-bloom prefilter, exact verify)
  *   7. train/val/test split (`Sampling.splitLabel`) — map-only
  *   8. BPE vocabulary learned from the train split (`Bpe.learn` —
  *      one word-count pass + bounded driver loop), then
  *      shuffle-then-pack per language with BPE token budgets
  *      (`Packing.packBins`) — budgets in the tokens a model trains
  *      on, not whitespace splits
  *   9. mixture stats + τ-flattening rates (`Profile`)
  *  10. sliding-window retrieval chunks of the train split
  *      (`TextFunctions.slidingChunks`)
  *
  * Outputs: the corpus (partitioned by split), the BPE merge table, the
  * packing manifest, the mixture table, and the retrieval chunks.
  * Per-stage row counts are returned so operators (human or scheduler)
  * can alert on anomalous drop rates — the observability a production
  * corpus build needs.
  *
  * Stage order matters and is the standard one: line-level cleanup
  * changes document text, so it runs BEFORE document fingerprinting;
  * decontamination runs on the deduped corpus (fewer docs to shingle);
  * packing runs last, on final surviving text.
  */
object CorpusBuildJob {

  final case class StageCounts(raw: Long, afterQuality: Long,
                               afterLineDedup: Long, afterDocDedup: Long,
                               afterSemDedup: Long,
                               afterDecontamination: Long,
                               afterQuota: Long, train: Long,
                               eval_ : Long)

  /** Per-document quality prior: trained LR classifier probability ×
    * normalized PageRank link authority — the two priors the
    * quota/mix stage orders by.
    *
    * Classifier (CCNet recipe): `refDocs` is the positive class (the
    * high-quality reference — here the held-out eval set), a
    * same-sized deterministic corpus sample the negative; features are
    * hashing-trick embeddings, so there is no vocabulary state. Doc
    * ids of `docs` and `refDocs` must be disjoint (they are for a
    * held-out split by construction). An empty `refDocs` skips the
    * classifier (neutral p = 0.5) instead of training on one class.
    *
    * Link authority: PageRank over `linkEdges` (src → dst doc ids),
    * normalized by the max rank; docs absent from the graph get the
    * graph's MEAN normalized rank — no link evidence is neutral, not
    * damning. `None` skips the term entirely (rank_norm = 1).
    *
    * Scale shape: classifier training is bounded (`Classifier.train`
    * maxTrain) and scoring is a map stage; PageRank is the fixed-
    * iteration persisted-edge loop; the two scalar normalizers are
    * one-row broadcast joins. Nothing here scans pairwise.
    */
  def qualityPriors(spark: SparkSession, docs: DataFrame,
                    refDocs: DataFrame, linkEdges: Option[DataFrame],
                    hashDim: Int = 64, prIters: Int = 5,
                    seed: String = "s42"): DataFrame = {
    val nRef = refDocs.count()
    val q =
      if (nRef == 0) {
        docs.select(col("doc_id"), lit(0.0).as("logit"),
          lit(0.5).as("quality_p"))
      } else {
        val negs = docs.select(col("doc_id"), col("text"))
          .withColumn("__k", Sampling.shuffleKey(col("doc_id"), seed))
          .orderBy(col("__k"), col("doc_id"))
          .limit(math.min(nRef, Int.MaxValue.toLong).toInt)
          .drop("__k").withColumn("label", lit(0))
        val pos = refDocs.select(col("doc_id"), col("text"))
          .withColumn("label", lit(1))
        val labeled = pos.unionByName(negs)
        val feats = TextEmbedding.hashedEmbeddings(labeled, "doc_id",
          "text", hashDim)
          .join(labeled.select("doc_id", "label"), Seq("doc_id"))
        val model = Classifier.train(feats, "doc_id", "vec", "label",
          hashDim)
        Classifier.score(
          TextEmbedding.hashedEmbeddings(docs, "doc_id", "text", hashDim),
          "doc_id", "vec", model)
          .select(col("doc_id"), col("logit"),
            (lit(1.0) / (lit(1.0) + exp(-col("logit")))).as("quality_p"))
      }
    val withRank = linkEdges match {
      case None => q.withColumn("rank_norm", lit(1.0))
      case Some(e) =>
        val ranks = Graph.pageRank(e, "src", "dst", prIters)
        val stats = ranks.agg(max(col("rank")).as("mx"),
          avg(col("rank")).as("mean"))
        val norm = ranks.crossJoin(broadcast(stats))
          .select(col("id").as("doc_id"),
            (col("rank") / col("mx")).as("rank_norm"))
        q.join(norm, Seq("doc_id"), "left")
          .crossJoin(broadcast(stats.select(
            (col("mean") / col("mx")).as("__neutral"))))
          .select(col("doc_id"), col("logit"), col("quality_p"),
            coalesce(col("rank_norm"), col("__neutral")).as("rank_norm"))
    }
    withRank.select(col("doc_id"), col("logit"), col("quality_p"),
      col("rank_norm"),
      graft.functions.Rounding.pround(
        col("quality_p") * col("rank_norm"), 6).as("prior"))
  }

  final case class MediaCounts(rawMedia: Long, hashedImages: Long,
                               canonicalRows: Long, audioWindowRows: Long)

  /** The MEDIA side of the corpus build — the multimodal tier composed
    * end-to-end the same way [[run]] composes the text tier:
    *
    *   1. typed feature extraction (`Multimodal.extractFeatures`) —
    *      checksum + decoded features per payload, map-only
    *   2. perceptual image dedup: aHash → banded hamming pairs (with
    *      the hot-bucket star guard) → connected components → keep
    *      each cluster's canonical (min-id) payload — the image twin
    *      of [[run]]'s stage 4; payloads that don't decode carry no
    *      perceptual-dup claim and pass through untouched
    *   3. windowed audio features (`Multimodal.sampleAudioWindows`)
    *      over the kept rows — one row per energy window, the unit
    *      silence-trimming / segment-level stages consume
    *
    * Outputs: `media_features`, `media_canonical` (the deduped payload
    * set), `media_audio_windows`. Returns per-stage counts, same
    * observability contract as [[StageCounts]].
    */
  def runMedia(spark: SparkSession,
               media: org.apache.spark.sql.Dataset[
                 graft.multimodal.Multimodal.MediaRow],
               outDir: String, maxHamming: Int = 3,
               audioWindowMs: Long = 250): MediaCounts = {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val m = media.persist()
    val hashes = Multimodal.imageHashes(m).toDF().persist()
    try {
      val rawMedia = m.count()
      val features = Multimodal.extractFeatures(m).toDF()
      val hashedImages = hashes.count()
      val pairs = Multimodal.imageDupPairs(hashes, maxHamming)
        .select("id_a", "id_b")
      val labels = DedupCluster.componentsAlternating(
        hashes.select(col("doc_id")), "doc_id", pairs)
      val canonicalImages = m.toDF().join(
        labels.filter(col("id") === col("cluster_id"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      // no hash ⇒ no perceptual-dup claim ⇒ the payload passes through
      val opaque = m.toDF()
        .join(hashes.select("doc_id"), Seq("doc_id"), "left_anti")
      val kept = canonicalImages.unionByName(opaque)
      val audioWin = Multimodal.sampleAudioWindows(
        kept.as[Multimodal.MediaRow], audioWindowMs).toDF()

      features.write.mode("overwrite").parquet(s"$outDir/media_features")
      kept.write.mode("overwrite").parquet(s"$outDir/media_canonical")
      audioWin.write.mode("overwrite")
        .parquet(s"$outDir/media_audio_windows")
      DedupCluster.release(labels)

      val canonicalRows =
        IO.readParquet(spark, s"$outDir/media_canonical").count()
      val audioWindowRows =
        IO.readParquet(spark, s"$outDir/media_audio_windows").count()
      MediaCounts(rawMedia, hashedImages, canonicalRows, audioWindowRows)
    } finally {
      hashes.unpersist(blocking = false)
      m.unpersist(blocking = false)
    }
  }

  /** @param evalPredicate rows of `docs` that are the held-out eval set
    *                      (they skip the pipeline and are written
    *                      separately; training docs are cleaned against
    *                      them)
    */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          evalPredicate: org.apache.spark.sql.Column,
          thresholds: Quality.Thresholds = Quality.Thresholds(),
          shingleN: Int = 5, bands: Int = 8, rowsPerBand: Int = 2,
          lineChunk: Int = 10, maxLineDocs: Int = 2,
          minContainment: Double = 0.2, budget: Int = 2048,
          hashDim: Int = 64, semNlist: Int = 8, semMinCosine: Double = 0.95,
          bpeMerges: Int = 200, chunkN: Int = 64, chunkStride: Int = 48,
          seed: String = "s42",
          linkEdges: Option[DataFrame] = None,
          maxPerSource: Int = 0, prIters: Int = 5,
          tokenBudgetPerSource: Long = 0L): StageCounts = {
    val raw = docs.count()
    val eval_ = docs.filter(evalPredicate).persist()
    val train0 = docs.filter(!evalPredicate)

    // 1+2: quality gate, then PII scrub on survivors (scrub before any
    // fingerprinting so near-dup detection sees the text users will see)
    val gated = Quality.clean(train0, "doc_id", "text", thresholds)
    val scrubbed = gated.withColumn("text",
      TextFunctions.scrubPii(col("text")))
    val afterQuality = scrubbed.count()

    // 3: line-level boilerplate removal; docs left with no content drop
    val lines = LineDedup.dedupLines(scrubbed, "doc_id",
      TextFunctions.wordChunks(col("text"), lineChunk), maxLineDocs)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    val relined = scrubbed.drop("text")
      .join(lines, Seq("doc_id"))
      .persist()
    val afterLineDedup = relined.count()

    // 4: document-level near-dup clusters; each cluster keeps its
    // canonical (min-id) member
    val pairs = Dedup.minHashLshPairs(relined, "doc_id", "text",
      shingleN, bands, rowsPerBand)
    val labels = DedupCluster.componentsAlternating(relined, "doc_id", pairs)
    val deduped = relined.join(
      labels.filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi").persist()
    DedupCluster.release(labels)
    val afterDocDedup = deduped.count()

    // 5: semantic dedup over feature-hashed embeddings — reordered or
    // lightly-paraphrased boilerplate shares a bag of words even when
    // no 5-shingle survives, so this pass catches what MinHash cannot;
    // the hashing trick means no model and no training pass
    val hashed = TextEmbedding.hashedEmbeddings(deduped, "doc_id", "text",
      hashDim)
    val semKeep = Similarity.semDedup(hashed, "doc_id", "vec",
      nlist = semNlist, minCosine = semMinCosine).select("doc_id")
    val semDeduped = deduped.join(semKeep, Seq("doc_id"), "left_semi")
      .persist()
    val afterSemDedup = semDeduped.count()

    // 6: decontamination against the eval set — through the broadcast
    // bloom prefilter, so at corpus scale only documents that might
    // share a shingle with the eval set ever reach the exact
    // containment join (identical result: no false negatives)
    val together = semDeduped.select(col("doc_id"), col("text"), lit(false).as("is_eval"))
      .unionByName(eval_.select(col("doc_id"), col("text"), lit(true).as("is_eval")))
    val flagged = Contamination.overlapPrefiltered(together, "doc_id", "text",
      shingleN, col("is_eval"), minContainment)
      .select(col("train_id").as("doc_id")).distinct()
    val decontaminated = semDeduped.join(flagged, Seq("doc_id"), "left_anti")
      .persist()
    val afterDecontamination = decontaminated.count()

    // 6b: quality priors — trained LR classifier (eval set = the
    // quality reference, CCNet-style) × PageRank link authority — then
    // the QUALITY-AWARE per-source quota: a capped source keeps its
    // highest-prior documents, not a random draw. The prior table is
    // written either way (it is the quota/mix stage's input signal);
    // maxPerSource <= 0 leaves the corpus uncapped.
    val priors = qualityPriors(spark, decontaminated, eval_, linkEdges,
      hashDim, prIters, seed).persist()
    priors.write.mode("overwrite").parquet(s"$outDir/doc_priors")
    val quotaed =
      if (maxPerSource > 0)
        Sampling.capPerGroupTop(
          decontaminated.join(priors.select("doc_id", "prior"),
            Seq("doc_id")),
          "source", maxPerSource,
          Seq(col("prior").desc, col("doc_id")))
          .drop("prior").persist()
      else decontaminated

    // 6c: optional per-source TOKEN budget under the same prior order —
    // "each source keeps its best documents until its slice of the
    // training budget is spent" (budgets are set in tokens, not docs;
    // the row-count quota above bounds fan-in, this bounds cost).
    // The quota output's lineage is detached first: stacking the
    // budget window on the full 6-stage plan pushes the logical tree
    // past what explain/UI rendering (and the optimizer) can carry.
    val budgeted =
      if (tokenBudgetPerSource > 0)
        Sampling.tokenBudgetSelectBy(
          quotaed.checkpoint()
            .join(priors.select("doc_id", "prior"), Seq("doc_id"))
            .withColumn("__toks", TextFunctions.tokenCount(col("text"))),
          "source", "__toks", tokenBudgetPerSource,
          Seq(col("prior").desc, col("doc_id")))
          .drop("prior", "__toks", "cum_tokens").persist()
      else quotaed
    val afterQuota = budgeted.count()

    // 7: split assignment (train/val/test), membership-stable
    val withSplit = budgeted.withColumn("split",
      Sampling.splitLabel(col("doc_id"), 16, 32))
    val trainDf = withSplit.filter(col("split") === "train")

    // 8: BPE vocabulary from the train split (bounded learn), then
    // shuffle-then-pack with budgets in BPE tokens — the unit a model
    // actually trains on
    val merges = Bpe.learn(trainDf, "text", bpeMerges)
    val bpeCounts = Bpe.tokenize(trainDf, "doc_id", "text", merges)
      .toDF().select(col("doc_id"), col("n_tokens").cast("long").as("bpe_tokens"))
    val manifest = Packing.packBins(
      trainDf.join(bpeCounts, Seq("doc_id")), "doc_id", "lang",
      col("bpe_tokens"), budget,
      Seq(Sampling.shuffleKey(col("doc_id"), seed), col("doc_id")))

    // 9: mixture table with τ=0.5 flattening rates
    val mix = Profile.temperatureRates(
      Profile.mixSummary(trainDf,
        "lang", TextFunctions.tokenCount(col("text")))
        .select("lang", "n_tokens"),
      "lang", "n_tokens", tau = 0.5)

    // 10b: per-source QA report — the go/no-go numbers an operator
    // reads before shipping: docs/tokens/share per source, the
    // uniform-flattening weight, and KL(source ‖ corpus) token drift.
    // Two aggregate passes over the train split producing a
    // |sources|-row frame, written beside the corpus.
    val qaReport = Profile.mixSummary(trainDf, "source",
      TextFunctions.tokenCount(col("text")))
      .join(Profile.klDrift(trainDf, "source", "text")
        .select(col("source"), col("kl")), Seq("source"))

    // 10: sliding-window retrieval chunks of the final train split
    val chunks = trainDf.select(col("doc_id"),
      posexplode(TextFunctions.slidingChunks(col("text"), chunkN,
        chunkStride)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))

    withSplit.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus")
    eval_.write.mode("overwrite").parquet(s"$outDir/eval")
    spark.createDataFrame(merges).write.mode("overwrite")
      .parquet(s"$outDir/bpe_merges")
    manifest.write.mode("overwrite").parquet(s"$outDir/pack_manifest")
    mix.write.mode("overwrite").parquet(s"$outDir/mixture")
    chunks.write.mode("overwrite").parquet(s"$outDir/chunks")
    qaReport.write.mode("overwrite").parquet(s"$outDir/qa_report")

    val trainN = IO.readParquet(spark, s"$outDir/corpus")
      .filter(col("split") === "train").count()
    val evalN = eval_.count()
    relined.unpersist(blocking = false)
    deduped.unpersist(blocking = false)
    semDeduped.unpersist(blocking = false)
    decontaminated.unpersist(blocking = false)
    priors.unpersist(blocking = false)
    if (maxPerSource > 0) quotaed.unpersist(blocking = false)
    if (tokenBudgetPerSource > 0) budgeted.unpersist(blocking = false)
    eval_.unpersist(blocking = false)
    StageCounts(raw, afterQuality, afterLineDedup, afterDocDedup,
      afterSemDedup, afterDecontamination, afterQuota, trainN, evalN)
  }
}
