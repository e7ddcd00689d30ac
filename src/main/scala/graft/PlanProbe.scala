package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan auditor: prints `.explain("formatted")` for shared kernels and
  * registry queries, so pushdown/pruning/join-strategy regressions are
  * visible (query-level findings → PLANS.md).
  *
  * Kernels are shown in their LAZY form: the hot bench entries detach
  * them behind checkpoints, so a query-level plan shows only a
  * LogicalRDD scan for those. Run before and after a kernel change to
  * capture the plan diff the bench numbers claim
  * (plans/r15/&lt;kernel&gt;_before.txt and _after.txt).
  *
  *   sbt "runMain graft.PlanProbe <sfDir> [name...]"
  *
  * A name is a kernel (lsh_pairs, undirect, ivfpq_topk_residual,
  * encode_for_index, hashed_embeddings, cell_assign, brute_topk, bm25,
  * gopher, span_excise, line_dedup, xent) or any `SparkEntry.queries`
  * entry; no names prints every kernel.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Sessions.local(8, "plan-probe")
    spark.sparkContext.setLogLevel("ERROR")

    lazy val docs = Tables.load(spark, sfDir, "documents")
    lazy val emb = Tables.load(spark, sfDir, "embeddings")
    def centroids(): DataFrame = {
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      spark.createDataFrame(Seq(
        (0, Array.fill(dim)(0.25f)), (1, Array.fill(dim)(-0.25f))))
        .toDF("cell", "centroid")
    }

    val kernels: ListMap[String, (String, () => DataFrame)] = ListMap(
      "lsh_pairs" -> ("minHashLshPairs (lazy)", () =>
        operators.Dedup.minHashLshPairs(docs, "doc_id", "text",
          5, 4, 3, materialize = false)),
      "undirect" -> ("Graph.undirect", () => {
        val o = Tables.load(spark, sfDir, "orders")
        val li = Tables.load(spark, sfDir, "lineitem")
        val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        operators.Graph.undirect(pairs, "src", "dst")
      }),
      "ivfpq_topk_residual" ->
        ("ivfPqTopK residual (lazy tail; trains eagerly)", () =>
          operators.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 4),
            "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2, nsub = 4,
            ksub = 4, residual = true)),
      "encode_for_index" ->
        ("encodeForIndex (stored-index build/append row set)", () => {
          val dim = emb.select(size(col("embedding"))).head().getInt(0)
          val nsub = 4
          require(dim % nsub == 0)
          val books = Seq.tabulate(nsub)(j =>
            Seq.tabulate(4)(c => Seq.fill(dim / nsub)(0.1f * (j + c))))
          operators.Similarity.encodeForIndex(emb, "vec_id", "embedding",
            centroids(), books, residual = true)
        }),
      "hashed_embeddings" -> ("TextEmbedding.hashedEmbeddings", () =>
        operators.TextEmbedding.hashedEmbeddings(docs, "doc_id", "text", 16)),
      "cell_assign" -> ("Similarity.corpusCellAssignment", () =>
        operators.Similarity.corpusCellAssignment(emb, "vec_id", "embedding",
          centroids())),
      "brute_topk" -> ("Similarity.bruteForceTopK (fused cosine)", () =>
        operators.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", 3, operators.Similarity.cosineFused(_, _))),
      "bm25" -> ("Retrieval.bm25TopK (lazy)", () =>
        operators.Retrieval.bm25TopK(docs, "doc_id", "text",
          col("doc_id") < 4, 5, materialize = false)),
      "gopher" -> ("Quality.gopherRules", () =>
        operators.Quality.gopherRules(docs, "doc_id", "text")),
      "span_excise" -> ("SpanDedup.removeDupSpans", () =>
        operators.SpanDedup.removeDupSpans(docs, "doc_id", "text", 5)),
      "line_dedup" -> ("LineDedup.dedupLines", () =>
        operators.LineDedup.dedupLines(docs, "doc_id",
          graft.functions.TextFunctions.wordChunks(col("text"), 10), 2)),
      "xent" -> ("LanguageModel.crossEntropy", () =>
        operators.LanguageModel.crossEntropy(docs, "doc_id", "text",
          operators.LanguageModel.unigramLm(docs, "text"))))

    val names = if (args.length > 1) args.drop(1).toSeq else kernels.keys.toSeq
    names.foreach { n =>
      kernels.get(n) match {
        case Some((title, plan)) =>
          println(s"\n===== kernel: $title =====")
          plan().explain("formatted")
        case None =>
          println(s"\n===== $n =====")
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
