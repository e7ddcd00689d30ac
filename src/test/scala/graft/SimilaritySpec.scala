package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1f, 0f, 0f, 0f)),
    (2L, Array(2f, 0f, 0f, 0f)),    // same direction as 1 → cosine 1
    (3L, Array(0f, 1f, 0f, 0f)),    // orthogonal to 1 → cosine 0
    (4L, Array(-1f, 0f, 0f, 0f)))   // opposite → cosine -1
    .toDF("vec_id", "embedding")

  test("cosine: parallel=1, orthogonal=0, opposite=-1") {
    val a = vecs.as("a").filter($"vec_id" === 1)
      .select($"embedding".as("va"))
    val pairs = vecs.crossJoin(a)
      .select($"vec_id", Similarity.cosine($"embedding", $"va").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(pairs(1L) == 1.0 && pairs(2L) == 1.0)
    assert(pairs(3L) == 0.0 && pairs(4L) == -1.0)
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1),
      "vec_id", "embedding", 3)
      .select("cand_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out == Seq((2L, 1), (3L, 2), (4L, 3)))
  }

  test("sign bucket groups by orthant of leading dims") {
    val b = vecs.select($"vec_id",
      Similarity.signBucket($"embedding", 2).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))   // same signs on dims 1..2
    assert(b(1L) == b(3L))   // 0 counts as non-negative in both
    assert(b(1L) != b(4L))   // negative first dim → different bucket
  }

  test("bucketed top-k only returns same-bucket candidates") {
    val out = Similarity.bucketedTopK(vecs, vecs.filter($"vec_id" === 1),
      "vec_id", "embedding", 4, 2)
      .select("cand_id").as[Long].collect().toSet
    assert(!out.contains(4L))
  }

  test("near-dup pairs finds the parallel pair above threshold") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 2, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("IVF top-k: good recall vs brute force at a fraction of the candidates") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 6)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    assert(ivf.size <= exact.size) // never more than k per query
  }

  test("brute force on fixture embeddings returns k rows per query") {
    val emb = Tables.load(spark, sf, "embeddings")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", 5)
    assert(out.count() == 15)
  }

  test("PQ: codes are compact, encoding is deterministic, ADC recall " +
      "tracks exact L2 top-k") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val nsub = 8; val ksub = 16; val k = 10
    val books = Similarity.pqTrain(emb, "embedding", nsub, ksub)
    assert(books.size == nsub && books.forall(_.size == ksub) &&
      books.forall(_.forall(_.size == 8))) // 64 dims / 8 subvectors
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books).persist()
    // every vector compresses to nsub codes in [0, ksub)
    val codes = enc.select(explode($"codes").as("c"))
    assert(codes.filter($"c" < 0 || $"c" >= ksub).count() == 0)
    assert(enc.filter(size($"codes") =!= nsub).count() == 0)
    // deterministic re-encode
    val enc2 = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    assert(enc.exceptAll(enc2).count() == 0)

    // exact L2 top-k ground truth (ADC approximates L2, not cosine)
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet

    val pq = Similarity.pqTopK(enc, queries, "vec_id", "embedding", k, books)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"raw ADC recall@$k = $recall")

    // the production arc: ADC shortlist -> exact re-rank recovers most
    // of what 8-byte codes lose
    val refined = Similarity.pqTopKRefined(enc, emb, queries, "vec_id",
      "embedding", k, books, overquery = 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val refinedRecall = refined.intersect(exact).size.toDouble / exact.size
    assert(refinedRecall >= 0.8, s"refined recall@$k = $refinedRecall")
    assert(refinedRecall >= recall, "re-ranking must not lose recall")

    // the full IVF-PQ composition: cells bound candidates, codes bound
    // bytes, re-rank restores precision — recall stays useful even
    // though each query touches only ~nprobe/nlist of the corpus
    val ivfpq = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k, nlist = 8, nprobe = 4, nsub = nsub, ksub = ksub, overquery = 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivfpqRecall = ivfpq.intersect(exact).size.toDouble / exact.size
    assert(ivfpqRecall >= 0.5, s"IVF-PQ recall@$k = $ivfpqRecall")
    enc.unpersist()
  }

  test("SQ8: codes bounded, constant dims collapse to 0, clamp totalizes " +
      "out-of-range vectors, near-lossless recall vs exact L2") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 10
    val (mins, deltas) = Similarity.sq8Stats(emb, "embedding")
    assert(mins.length == 64 && deltas.forall(_ >= 0.0))

    val enc = Similarity.sq8Encode(emb, "vec_id", "embedding", mins, deltas)
    val codes = enc.select(explode($"codes").as("c"))
    assert(codes.filter($"c" < 0 || $"c" >= 256).count() == 0)
    assert(enc.filter(size($"codes") =!= 64).count() == 0)
    // deterministic re-encode
    assert(enc.exceptAll(
      Similarity.sq8Encode(emb, "vec_id", "embedding", mins, deltas))
      .count() == 0)

    // a constant dimension has delta 0 and must encode to code 0, not NaN
    val const = Seq((1L, Array.fill(4)(3f)), (2L, Array.fill(4)(3f)))
      .toDF("vec_id", "embedding")
    val (cm, cd) = Similarity.sq8Stats(const, "embedding")
    assert(cd.forall(_ == 0.0))
    val constCodes = Similarity.sq8Encode(const, "vec_id", "embedding", cm, cd)
      .select(explode($"codes").as("c")).as[Int].collect()
    assert(constCodes.forall(_ == 0))

    // encoding a vector OUTSIDE the trained bounds clamps into [0, 255]
    val wild = emb.limit(1).select($"vec_id",
      transform($"embedding", x => x * 100f).as("embedding"))
    val wildCodes = Similarity.sq8Encode(wild, "vec_id", "embedding",
      mins, deltas).select(explode($"codes").as("c")).as[Int].collect()
    assert(wildCodes.forall(c => c >= 0 && c <= 255))

    // exact L2 ground truth: 8 bits/dim + exact re-rank should be
    // near-lossless (PQ at 8 bytes/vector only manages ~0.8 here)
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet

    val sq8 = Similarity.sq8TopK(emb, queries, "vec_id", "embedding", k,
      overquery = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = sq8.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 refined recall@$k = $recall")
  }

  test("IVF-SQ8: probed-cell routing bounds candidates; recall tracks " +
      "exact L2 despite 4x byte compression") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 10
    // exact L2 ground truth
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet

    // 8 fixed cells, probe 4 → about half the corpus per query; with
    // near-lossless 8-bit codes the loss is cell routing, not the codec
    val cents = graft.queries.Extensions.SemCents
    val got = Similarity.ivfSq8TopK(emb, queries, "vec_id", "embedding",
      k, cents, nprobe = 4, overquery = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-SQ8 recall@$k = $recall")
    assert(got.size <= exact.size)

    // full probe (nprobe = nlist) removes the routing loss: the codec
    // alone should track exact L2 almost perfectly
    val full = Similarity.ivfSq8TopK(emb, queries, "vec_id", "embedding",
      k, cents, nprobe = cents.size, overquery = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val fullRecall = full.intersect(exact).size.toDouble / exact.size
    assert(fullRecall >= 0.9, s"full-probe IVF-SQ8 recall@$k = $fullRecall")
  }

  test("Matryoshka truncated-rerank: full-width prefix IS exact L2; " +
      "16-dim prefix keeps high recall at a quarter of the scan bytes") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 10
    // dPrefix = full dimension: stage 1 ranks by the exact distance,
    // so the output must EQUAL the brute-force L2 top-k
    val exact = Similarity.truncatedRerankTopK(emb, queries, "vec_id",
      "embedding", k, dPrefix = 64, overquery = 1)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val brute = {
      val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
      val l2 = org.apache.spark.sql.functions.aggregate(
        zip_with($"qv", $"cv", (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (a, v) => a + v)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
      c.crossJoin(broadcast(q))
        .filter($"cand_id" =!= $"query_id")
        .withColumn("d", l2)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(exact == brute,
      "full-prefix truncated rerank must equal brute-force L2 exactly")

    // 16 of 64 dims: the prefilter reads a quarter of the bytes. The
    // fixture embeddings are isotropic (no MRL training front-loads
    // semantics into the prefix), so this is the WORST case for
    // truncation — a real MRL model concentrates variance in the
    // leading dims and recall approaches 1. Assert the worst-case
    // floor and that the overquery lever recovers recall monotonely.
    def recallAt(oq: Int): Double = {
      val got = Similarity.truncatedRerankTopK(emb, queries, "vec_id",
        "embedding", k, dPrefix = 16, overquery = oq)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      got.intersect(brute.map(t => (t._1, t._2))).size.toDouble / brute.size
    }
    val r5 = recallAt(5)
    val r20 = recallAt(20)
    assert(r5 >= 0.4, s"matryoshka recall@$k (oq=5) = $r5")
    assert(r20 >= r5, s"overquery must not lose recall: $r20 < $r5")
    assert(r20 >= 0.7, s"matryoshka recall@$k (oq=20) = $r20")
  }

  test("JL sign projection: dyadic seeded matrix, corpus-covering " +
      "overquery recovers exact L2, recall monotone in overquery") {
    import graft.operators.Pca
    // the matrix contract: k×dim, every entry exactly ±1/√k (dyadic at
    // power-of-4 k), deterministic per seed, seed-sensitive
    val m1 = Pca.jlSigns(64, 16, "jl13")
    val m2 = Pca.jlSigns(64, 16, "jl13")
    val m3 = Pca.jlSigns(64, 16, "other")
    assert(m1.size == 16 && m1.forall(_.size == 64))
    assert(m1.flatten.forall(v => v == 0.25 || v == -0.25))
    assert(m1 == m2 && m1 != m3)
    // both sign populations present (a constant matrix would be a
    // broken hash, not a projection)
    assert(m1.flatten.count(_ > 0) > 300 && m1.flatten.count(_ < 0) > 300)
    intercept[IllegalArgumentException](Pca.jlSigns(64, 8, "s"))

    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 10
    val n = emb.count().toInt
    val brute = {
      val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
      val l2 = org.apache.spark.sql.functions.aggregate(
        zip_with($"qv", $"cv", (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }), lit(0.0), (a, v) => a + v)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
      c.crossJoin(broadcast(q))
        .filter($"cand_id" =!= $"query_id")
        .withColumn("d", l2)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select("query_id", "cand_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
    }
    // shortlist covering the whole corpus ⇒ the exact re-rank IS the
    // answer, projection quality irrelevant — the recovery invariant
    // every prefilter rung pins
    val all = Similarity.jlRerankTopK(emb, queries, "vec_id", "embedding",
      k, m1, overquery = n / k + 1)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(all == brute,
      "corpus-covering JL shortlist must equal brute-force L2 exactly")

    def recallAt(oq: Int): Double = {
      val got = Similarity.jlRerankTopK(emb, queries, "vec_id", "embedding",
        k, m1, overquery = oq)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      got.intersect(brute.map(t => (t._1, t._2))).size.toDouble / brute.size
    }
    // isotropic 64d→16d is the hardest regime for ANY projection (no
    // variance structure to exploit; distortion std ≈ √(2/16) = 35%);
    // the floor is accordingly modest — real embedding spaces have
    // low intrinsic dimension and land far higher
    val r5 = recallAt(5)
    val r20 = recallAt(20)
    assert(r5 >= 0.3, s"JL recall@$k (oq=5) = $r5")
    assert(r20 >= r5, s"overquery must not lose recall: $r20 < $r5")
    assert(r20 >= 0.7, s"JL recall@$k (oq=20) = $r20")
  }

  test("hard-negative mining: same-label candidates never surface, " +
      "all-distinct labels degenerate to brute force, nulls are " +
      "cross-label by definition") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 8
    val got = Similarity.hardNegativesTopK(emb, queries, "vec_id",
      "embedding", "label", k)
    // the gate: no mined negative shares its anchor's label
    val labels = emb.select($"vec_id", $"label".cast("int"))
      .as[(Long, Int)].collect().toMap
    val pairs = got.select("query_id", "cand_id", "neg_label")
      .as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (q, c, nl) =>
      labels(c) == nl && labels(q) != nl
    }, "a same-label candidate leaked into the negatives")
    // per-anchor budget
    val perQ = pairs.groupBy(_._1).values.map(_.length)
    assert(perQ.forall(_ == k))

    // all labels distinct ⇒ the label gate admits everything and the
    // result IS brute-force top-k (modulo the neg_label column)
    val uniq = emb.withColumn("label", $"vec_id".cast("int"))
    val hn = Similarity.hardNegativesTopK(uniq, uniq.filter($"vec_id" < 5),
      "vec_id", "embedding", "label", k)
      .select("query_id", "cand_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k)
      .withColumn("rank", $"rank".cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(hn == brute, "distinct labels must degenerate to brute force")

    // null labels: a null-label candidate is a negative for every
    // anchor, and a null-label anchor mines every labeled candidate
    val withNull = emb.withColumn("label",
      when($"vec_id" === 7L, lit(null)).otherwise($"label").cast("int"))
    val nullCand = Similarity.hardNegativesTopK(withNull,
      withNull.filter($"vec_id" < 5), "vec_id", "embedding", "label",
      emb.count().toInt)
    assert(nullCand.filter($"cand_id" === 7L).count() == 5,
      "null-label candidate must be mineable by every anchor")
    val nullAnchor = Similarity.hardNegativesTopK(withNull,
      withNull.filter($"vec_id" === 7L), "vec_id", "embedding", "label",
      emb.count().toInt)
    assert(nullAnchor.count() == emb.count() - 1,
      "null-label anchor must see every labeled candidate")
  }

  test("stored IVF-PQ index: from-index results equal the in-memory path " +
      "and keep useful recall vs exact L2") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 5; val nlist = 8; val nprobe = 4
    val nsub = 8; val ksub = 16; val oq = 10

    val mem = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
      nlist, nprobe, nsub, ksub, overquery = oq)
      .as[(Long, Long, Double, Long)].collect().toSet

    Similarity.writeVectorIndex(emb, "vec_id", "embedding",
      "graft_vec_index_spec", nlist, nsub, ksub)
    // codebooks round-trip parquet bit-exactly (the build trains on the
    // id-ordered bounded view — under-budget fixture ⇒ orderBy only)
    val books = Similarity.readCodebooks(spark, "graft_vec_index_spec")
    assert(books.size == nsub && books.forall(_.size == ksub))
    assert(books ==
      Similarity.pqTrain(emb.orderBy("vec_id"), "embedding", nsub, ksub))

    val idx = Similarity.ivfPqTopKFromIndex(spark, "graft_vec_index_spec",
      queries, "vec_id", "embedding", k, nprobe, overquery = oq)
      .as[(Long, Long, Double, Long)].collect().toSet
    // same build parameters + same query tail ⇒ identical results
    assert(idx == mem,
      s"stored-index path diverged from in-memory:\n mem=$mem\n idx=$idx")

    // recall vs exact L2 brute force stays useful
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val got = idx.map(r => (r._1, r._2))
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"stored-index recall@$k = $recall")
  }

  test("residual-encoded stored index: mode auto-detected, from-index " +
      "equals in-memory, recall not worse than raw-vector PQ") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    val k = 5; val nlist = 8; val nprobe = 4
    val nsub = 8; val ksub = 16; val oq = 10

    val mem = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
      nlist, nprobe, nsub, ksub, overquery = oq, residual = true)
      .as[(Long, Long, Double, Long)].collect().toSet
    Similarity.writeVectorIndex(emb, "vec_id", "embedding",
      "graft_vec_index_res_spec", nlist, nsub, ksub, residual = true)
    val (_, mode) = Similarity.readCodebooksAndMode(spark,
      "graft_vec_index_res_spec")
    assert(mode, "residual flag must round-trip through the codebook table")
    val idx = Similarity.ivfPqTopKFromIndex(spark, "graft_vec_index_res_spec",
      queries, "vec_id", "embedding", k, nprobe, overquery = oq)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(idx == mem, "residual stored-index path diverged from in-memory")

    // exact L2 ground truth
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def recallOf(s: Set[(Long, Long, Double, Long)]) =
      s.map(r => (r._1, r._2)).intersect(exact).size.toDouble / exact.size
    val raw = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
      nlist, nprobe, nsub, ksub, overquery = oq)
      .as[(Long, Long, Double, Long)].collect().toSet
    val (rRes, rRaw) = (recallOf(idx), recallOf(raw))
    // residual quantization is strictly tighter in expectation; allow a
    // small fixture-noise margin but never a collapse
    assert(rRes >= rRaw - 0.05 && rRes >= 0.5,
      s"residual recall $rRes vs raw $rRaw")
  }

  test("bounded training (maxTrain): build trains on a capped sample, " +
      "stored path still equals in-memory, recall survives") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 5; val nlist = 8; val nprobe = 4
    val nsub = 8; val ksub = 16; val oq = 10; val cap = 64

    val mem = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
      nlist, nprobe, nsub, ksub, overquery = oq, residual = true,
      maxTrain = cap)
      .as[(Long, Long, Double, Long)].collect().toSet
    Similarity.writeVectorIndex(emb, "vec_id", "embedding",
      "graft_vec_index_cap_spec", nlist, nsub, ksub, residual = true,
      maxTrain = cap)
    val idx = Similarity.ivfPqTopKFromIndex(spark, "graft_vec_index_cap_spec",
      queries, "vec_id", "embedding", k, nprobe, overquery = oq)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(idx == mem, "capped-training stored path diverged from in-memory")

    // model quality from 64 training rows: recall degrades gracefully,
    // not to noise (fixture: 500 corpus rows, k=5)
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"d", $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = idx.map(r => (r._1, r._2)).intersect(exact)
      .size.toDouble / exact.size
    assert(recall >= 0.3, s"capped-training recall@$k = $recall")
  }

  test("appendVectors: incremental rows encode exactly as a build with " +
      "the same model would, and full-probe queries are exact over " +
      "old+new") {
    val emb = Tables.load(spark, sf, "embeddings").persist()
    val base = emb.filter($"vec_id" >= 50)
    val extra = emb.filter($"vec_id" < 50)
    val nlist = 8; val nsub = 8; val ksub = 16
    Similarity.writeVectorIndex(base, "vec_id", "embedding",
      "graft_vec_index_app_spec", nlist, nsub, ksub, residual = true)
    val baseCount = spark.table("graft_vec_index_app_spec").count()
    Similarity.appendVectors(spark, "graft_vec_index_app_spec", extra,
      "vec_id", "embedding")
    val table = spark.table("graft_vec_index_app_spec")
    assert(table.count() == emb.count(),
      "append must add exactly the new rows")
    assert(baseCount == base.count())

    // appended rows carry exactly the (cell, codes, cv) a full build
    // with the SAME stored model would assign them
    val centDf = spark.table("graft_vec_index_app_spec_centroids")
    val (books, residual) =
      Similarity.readCodebooksAndMode(spark, "graft_vec_index_app_spec")
    assert(residual)
    val expected = Similarity.encodeForIndex(extra, "vec_id", "embedding",
      centDf, books, residual)
      .select($"cand_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val got = table.filter($"cand_id" < 50)
      .select($"cand_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(got == expected, "appended rows diverge from build-time encoding")

    // with every cell probed and an overquery covering the corpus, the
    // ADC shortlist contains every candidate and the exact re-rank makes
    // the result EQUAL to exact L2 top-k over old+new — an independent
    // oracle for the append path
    val queries = emb.filter($"vec_id" < 5)
    val k = 5
    val idx = Similarity.ivfPqTopKFromIndex(spark, "graft_vec_index_app_spec",
      queries, "vec_id", "embedding", k, nprobe = nlist, overquery = 100)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    val l2 = org.apache.spark.sql.functions.aggregate(
      zip_with($"qv", $"cv", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(graft.functions.Rounding.pround($"d", 6), $"cand_id")
    val exact = c.crossJoin(broadcast(q))
      .filter($"cand_id" =!= $"query_id")
      .withColumn("d", l2)
      .withColumn("r", row_number().over(w).cast("long")).filter($"r" <= k)
      .select("query_id", "cand_id", "r")
      .as[(Long, Long, Long)].collect().toSet
    assert(idx == exact,
      s"full-probe appended index must equal exact L2 top-k:\n idx=$idx\n exact=$exact")
    emb.unpersist()
  }

  test("appendVectors refuses nothing but non-bucketed targets; " +
      "append is deterministic") {
    val emb = Tables.load(spark, sf, "embeddings")
    val base = emb.filter($"vec_id" >= 400)
    val extra = emb.filter($"vec_id" < 20)
    for (t <- Seq("graft_vec_index_det1", "graft_vec_index_det2")) {
      Similarity.writeVectorIndex(base, "vec_id", "embedding", t, 4, 8, 16)
      Similarity.appendVectors(spark, t, extra, "vec_id", "embedding")
    }
    val a = spark.table("graft_vec_index_det1")
      .select($"cand_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val b = spark.table("graft_vec_index_det2")
      .select($"cand_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(a == b, "same build+append inputs must produce identical indexes")

    // a plain (non-bucketed) table is not a valid append target
    emb.limit(5).write.mode("overwrite").saveAsTable("graft_not_bucketed")
    val e = intercept[IllegalArgumentException] {
      graft.sources.IO.appendToBucketedTable(
        spark.table("graft_not_bucketed"), "graft_not_bucketed")
    }
    assert(e.getMessage.contains("bucket spec"))
  }

  test("recallAtK: perfect overlap scores 1, disjoint 0, an ANN-dropped " +
      "query still gets a row, extra ANN rows beyond exact don't inflate") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "cand_id")
    // q1 perfect, q2 half right + a spurious extra, q3 absent entirely
    val ann = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L), (2L, 98L))
      .toDF("query_id", "cand_id")
    val got = Similarity.recallAtK(ann, exact, 2)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> (2L, 1.0), 2L -> (1L, 0.5), 3L -> (0L, 0.0)))
  }

  // tiny fixed model for the payload-carrying index contract tests:
  // 4-dim vectors, 2 coarse cells, 2 subquantizers × 2 codewords
  private val TinyCents = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
  private val TinyBooks = Seq(
    Seq(Seq(0f, 0f), Seq(1f, 1f)),
    Seq(Seq(0f, 0f), Seq(1f, 1f)))

  private def tinyCorpus(ids: Range) = ids.map { i =>
    (i.toLong, Array(1f - 0.01f * i, 0f, 0.01f * i, 0f),
      if (i % 2 == 0) "en" else "de", s"src_${i % 3}")
  }.toDF("vec_id", "embedding", "lang", "source")

  test("payload-carrying index: appendVectors joins the stored metaCols " +
      "from newRows; rows missing the payload fail actionably") {
    val t = "graft_vec_index_meta_spec"
    Similarity.writeVectorIndexWithModel(tinyCorpus(0 until 40), "vec_id",
      "embedding", t, TinyCents, TinyBooks, metaCols = Seq("lang", "source"))
    assert(spark.table(t).columns.toSet ==
      Set("cell", "cand_id", "codes", "cv", "lang", "source"))
    Similarity.appendVectors(spark, t, tinyCorpus(40 until 50), "vec_id",
      "embedding")
    val appended = spark.table(t).filter($"cand_id" >= 40)
    assert(appended.count() == 10)
    assert(appended.filter($"lang".isNull || $"source".isNull).count() == 0,
      "appended rows must carry their payload")
    assert(appended.filter($"cand_id" === 42 && $"lang" === "en" &&
      $"source" === "src_0").count() == 1)
    // rows without the payload columns cannot append to this index
    val e = intercept[IllegalArgumentException] {
      Similarity.appendVectors(spark, t,
        tinyCorpus(50 until 55).drop("lang", "source"), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("lang") && e.getMessage.contains("payload"))
  }

  test("metaCols colliding with reserved index/query columns are " +
      "rejected at build time") {
    val bad = tinyCorpus(0 until 10).withColumn("dist", lit(0.0))
    val e = intercept[IllegalArgumentException] {
      Similarity.writeVectorIndexWithModel(bad, "vec_id", "embedding",
        "graft_vec_index_meta_bad", TinyCents, TinyBooks,
        metaCols = Seq("dist"))
    }
    assert(e.getMessage.contains("dist") && e.getMessage.contains("reserved"))
  }

  // --- binary (sign) quantization -----------------------------------------

  test("packed sign-code Hamming equals the naive per-dimension " +
      "disagreement count (incl. d not divisible by 64, zeros, -0.0)") {
    import graft.functions.VectorExprs
    // deterministic pseudo-random 70-dim vectors: exercises the partial
    // last word (top 58 bits must stay zero on both operands) plus the
    // sign-rule edges 0.0f (>= 0 → bit set) and -0.0f (== 0.0 → set)
    def vec(seed: Long): Array[Float] = {
      var z = seed
      Array.tabulate(70) { i =>
        z = z * 6364136223846793005L + 1442695040888963407L
        val r = ((z >>> 33).toInt % 1000) / 100.0f - 4.9f
        if (i == 3) 0.0f else if (i == 7) -0.0f else r
      }
    }
    val rows = (0L until 20L).map(s => (s, vec(s), vec(s + 7)))
      .toDF("id", "va", "vb")
    val got = rows.select($"id",
      VectorExprs.hammingCodes(VectorExprs.signPack($"va"),
        VectorExprs.signPack($"vb")).as("packed"),
      aggregate(zip_with($"va", $"vb",
        (x, y) => when((x >= 0f) =!= (y >= 0f), 1).otherwise(0)),
        lit(0), (a, v) => a + v).as("naive"))
      .as[(Long, Int, Int)].collect()
    got.foreach { case (id, packed, naive) =>
      assert(packed == naive, s"id=$id packed=$packed naive=$naive")
    }
    // code width: ceil(70/64) = 2 words
    val w = rows.select(size(VectorExprs.signPack($"va")))
      .as[Int].head()
    assert(w == 2)
  }

  test("binary-quantized top-k at full overquery equals brute-force " +
      "cosine top-k (re-rank is exact)") {
    val emb = Tables.load(spark, sf, "embeddings")
    val n = emb.count().toInt
    val queries = emb.filter($"vec_id" < 5)
    val k = 5
    val full = Similarity.binaryHammingTopK(emb, queries, "vec_id",
      "embedding", k, overquery = n / k + 1)
      .select("query_id", "cand_id", "score", "rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k)
      .select($"query_id", $"cand_id", $"score", $"rank".cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(full == brute,
      "shortlist covering the whole corpus must reduce to brute force")
  }

  test("binary-quantized top-k keeps useful recall at 1 bit/dim and " +
      "the overquery lever is monotone") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val k = 10
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def recallAt(oq: Int): Double = {
      val got = Similarity.binaryHammingTopK(emb, queries, "vec_id",
        "embedding", k, overquery = oq)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val r5 = recallAt(5)
    val r20 = recallAt(20)
    assert(r5 >= 0.4, s"binary recall@$k (oq=5) = $r5")
    assert(r20 >= r5, s"overquery must not lose recall: $r20 < $r5")
    assert(r20 >= 0.7, s"binary recall@$k (oq=20) = $r20")
  }

  test("mmrTopK: λ=1 degenerates to plain top-k order; λ<1 breaks up a " +
      "redundant cluster the plain top-k would return wholesale") {
    // query tilted slightly off x; candidates 1–3 are near-duplicates
    // hugging x (mutual sim ≈ 1, rel ≈ 0.96), candidate 4 is the y
    // axis — ORTHOGONAL to the dupes (zero penalty) with modest rel
    // ≈ 0.29. Plain top-3 = the three dupes; at λ=0.5 the second
    // dupe's mmr ≈ 0.48 − 0.5 < 0 while the orthogonal one keeps
    // ≈ 0.14 − 0 → pick 2 must be the diverse candidate.
    val emb = Seq(
      (0L, Array(1f, 0.3f, 0f, 0f)),        // the query itself
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f, 0f)),
      (3L, Array(1f, 0.02f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0)
    val plain = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    assert(plain == Seq(3L, 2L, 1L), s"plain top-3 is the dupes: $plain")
    val degen = Similarity.mmrTopK(emb, q, "vec_id", "embedding",
      k = 3, lambda = 1.0, shortlist = 4)
    val degenIds = degen.orderBy("pick").select("cand_id")
      .as[Long].collect().toSeq
    assert(degenIds == plain, s"λ=1 must equal top-k: $degenIds vs $plain")
    degen.unpersist()
    val diverse = Similarity.mmrTopK(emb, q, "vec_id", "embedding",
      k = 3, lambda = 0.5, shortlist = 4)
    val rows = diverse.orderBy("pick")
      .select("cand_id", "pick").as[(Long, Int)].collect().toSeq
    assert(rows.head._1 == 3L, "pick 1 is still the relevance argmax")
    assert(rows(1)._1 == 4L,
      s"λ=0.5 must promote the orthogonal candidate to pick 2: $rows")
    assert(rows.map(_._2) == Seq(1, 2, 3))
    diverse.unpersist()
  }

  test("kCenterCoreset: farthest-first picks the hull in order, radii " +
      "are non-increasing after pick 2, k > n truncates, seed = min id") {
    // 1-D line: 0, 1, 10, 11, 100. Seed = id of point 0 (min id);
    // farthest = 100 (d²=10000), then 10 or 11 (d² to {0,100} =
    // min(100, 8100)=100 for x=10; min(121,7921)=121 for x=11 → pick
    // x=11), then x=10 has mind min(100,1)=1 vs x=1 mind 1 → tie on
    // mind → smaller id wins (x=1 is id 1, x=10 is id 2 → id 1).
    val emb = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(10f, 0f, 0f, 0f)),
      (3L, Array(11f, 0f, 0f, 0f)),
      (4L, Array(100f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.kCenterCoreset(
      emb, "vec_id", "embedding", 4)
      .orderBy("pick")
      .as[(Long, Int, Double)].collect().toSeq
    assert(out == Seq((0L, 1, 0.0), (4L, 2, 10000.0), (3L, 3, 121.0),
      (1L, 4, 1.0)), s"traversal order wrong: $out")
    // radii non-increasing from pick 2 on (the greedy invariant)
    val radii = out.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse)
    // k > n: all 5 points selected, then stop
    val all = graft.operators.Similarity.kCenterCoreset(
      emb, "vec_id", "embedding", 9)
    assert(all.count() == 5)
  }

  test("mmrTopK: a query with fewer shortlist candidates than k " +
      "yields only the available picks; k=1 is the relevance argmax") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(2f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0)
    // corpus minus self = 2 candidates, k = 3 → exactly 2 picks
    val out = Similarity.mmrTopK(emb, q, "vec_id", "embedding",
      k = 3, lambda = 0.7, shortlist = 3)
    val picks = out.orderBy("pick")
      .select("cand_id", "pick").as[(Long, Int)].collect().toSeq
    assert(picks.map(_._2) == Seq(1, 2), s"2 candidates → 2 picks: $picks")
    assert(picks.head._1 == 1L)
    out.unpersist()
    val one = Similarity.mmrTopK(emb, q, "vec_id", "embedding",
      k = 1, lambda = 0.3, shortlist = 2)
    val p1 = one.select("cand_id", "pick").as[(Long, Int)].collect().toSeq
    assert(p1 == Seq((1L, 1)))
    one.unpersist()
  }
}
