package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat yesterday"), // near dup of 1
    (4L, "completely different words about spark shuffles and joins here"),
    (5L, "short doc")).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dupGroup = out.filter($"n_copies" === 2).select("doc_id").as[Long].head()
    assert(dupGroup == 1L)
  }

  test("ngram jaccard finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup → jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("a materialized pair set evaluates each input row once and leaves " +
      "the persistent RDDs and the CacheManager as they were") {
    // the cut is a bare eager checkpoint(): its write job computes the
    // plan once, so no persist in front of it is needed to avoid a
    // second evaluation
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val evals = sc.longAccumulator("text_evals")
    val counted = udf { (s: String) => evals.add(1); s }
    // RDD-backed, so the optimizer cannot fold the UDF into a local
    // relation on the driver (once per planning, not per row)
    val src = spark.createDataFrame(docs.rdd, docs.schema)
      .withColumn("text", counted(col("text")))
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cacheWasEmpty = cache.isEmpty
    val pairs = Dedup.ngramJaccardPairs(src, "doc_id", "text", 3, 0.3)
    val n = docs.count()
    assert(evals.value == n, "the cut evaluated its input more than once")
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .contains((1L, 2L)))
    assert(evals.value == n, "reading the cut re-evaluated its input")
    assert(sc.getPersistentRDDs.keySet == rddsBefore)
    assert(cache.isEmpty == cacheWasEmpty)
    // the same holds for a bare checkpoint() over an uncached aggregate
    val keys = sc.longAccumulator("key_evals")
    val key = udf { (i: Long) => keys.add(1); i % 7 }
    val agg = spark.range(2000).groupBy(key(col("id")).as("k"))
      .agg(count(lit(1)).as("n")).checkpoint()
    assert(keys.value == 2000L)
    assert(agg.agg(sum(col("n"))).as[Long].head() == 2000L)
    assert(keys.value == 2000L)
    assert(sc.getPersistentRDDs.keySet == rddsBefore)
  }

  test("minhash estimate error: an exact-dup pair estimates 1.0 with " +
      "zero error, every error is bounded by 1, est matches agreement") {
    val got = Dedup.minHashEstimateError(docs, "doc_id", "text", 3, 4, 3)
      .as[(Long, Long, Double, Double, Double)].collect()
    val byPair = got.map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(byPair((1L, 2L)) == ((1.0, 1.0, 0.0)), byPair.toString)
    assert(got.forall(r => r._3 >= 0 && r._3 <= 1 && r._5 >= 0 && r._5 <= 1))
    // err is |est - exact| at the 1e-4 round for every pair
    assert(got.forall(r =>
      math.abs(r._5 - math.abs(r._3 - r._4)) < 1e-9), got.mkString(","))
  }

  test("containment catches a short doc quoted inside a long one that " +
      "jaccard dilutes below threshold; direction names the quoted side") {
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = "the quick brown fox jumps over the lazy dog"
    val d = Seq((10L, quote), (11L, s"$filler $quote"),
      (12L, "entirely unrelated content about spark partitions and joins"))
      .toDF("doc_id", "text")
    // jaccard at the same threshold misses the pair entirely
    assert(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.6).count() == 0)
    val got = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.6)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((10L, 11L)))
    val (_, _, _, cA, cB) = got.head
    assert(cA == 1.0, s"the short doc is fully contained: $cA")
    assert(cB < 0.2, s"the long doc is barely covered: $cB")
  }

  test("jaccard of an exact duplicate is 1.0") {
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .filter($"id_a" === 1 && $"id_b" === 2)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("minhash LSH surfaces exact duplicates as candidates") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 4, 3)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("simhash of identical docs is identical; pairs found at hamming 0") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
      .filter($"doc_id".isin(1L, 2L)).select("simhash").as[Long].collect()
    assert(sh.toSet.size == 1)
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3)
    assert(pairs.filter($"id_a" === 1 && $"id_b" === 2)
      .select("hamming").as[Long].head() == 0L)
  }

  test("simhash guards the packed vote lanes against over-long docs") {
    def allMessages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // identical-token doc: the packed sum overflows a signed long first,
    // so ANSI arithmetic raises — loud, not silent corruption
    val big = Seq((1L, Seq.fill(65536)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val overflow = intercept[Exception] {
      Dedup.simHash(big, "doc_id", "text").collect()
    }
    assert(allMessages(overflow).contains("ARITHMETIC_OVERFLOW"))
    // token with no lane-3 bits (mask 0x8888...): the sum stays in
    // range, so it is the explicit guard that must fire
    val md = java.security.MessageDigest.getInstance("MD5")
    val tok = Iterator.from(0).map(i => s"t$i").find { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      val h = (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xFFL))
      (h & 0x8888888888888888L) == 0L
    }.get
    val guarded = Seq((1L, Seq.fill(Dedup.SimHashMaxTokens + 1)(tok).mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.simHash(guarded, "doc_id", "text").collect()
    }
    assert(allMessages(e).contains(s"${Dedup.SimHashMaxTokens} tokens"))
  }

  test("candidate->verify: LSH-confirmed jaccard pairs are exactly the true near-dups found by LSH") {
    val verified = Dedup.minHashVerifiedPairs(docs, "doc_id", "text",
      3, 4, 3, 0.3).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.contains((1L, 2L)))
    assert(!verified.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("uuid check expression validates canonical form") {
    val df = Seq("00000000-0000-0000-0000-000000000000",
      "123e4567-e89b-12d3-a456-426614174000", "not-a-uuid", "")
      .toDF("u")
    val ok = df.filter(graft.schema.Schemas.isValidUuid($"u")).count()
    assert(ok == 2)
  }

  test("incremental LSH: batch pairs = old-old pairs + pairs touching new docs") {
    val d = Tables.load(spark, sf, "documents")
    val old = d.filter($"doc_id" < 400)
    val fresh = d.filter($"doc_id" >= 400)
    val full = Dedup.minHashLshPairs(d, "doc_id", "text", 5, 4, 3)
      .as[(Long, Long)].collect().toSet
    val oldOnly = Dedup.minHashLshPairs(old, "doc_id", "text", 5, 4, 3)
      .as[(Long, Long)].collect().toSet
    val sigsOld = Dedup.minHashSignatures(old, "doc_id", "text", 5, 12)
    val sigsNew = Dedup.minHashSignatures(fresh, "doc_id", "text", 5, 12)
    val incremental = Dedup.minHashLshPairsIncremental(
      sigsOld, sigsNew, "doc_id", 4, 3).as[(Long, Long)].collect().toSet
    assert(oldOnly.union(incremental) == full)
    // incremental pairs always touch a new doc
    assert(incremental.forall(p => p._1 >= 400 || p._2 >= 400))
  }

  test("source overlap matrix: pairs aggregate to unordered source " +
      "pairs, diagonal = internal dups") {
    val d = Seq((1L, "cc"), (2L, "wiki"), (3L, "cc"), (4L, "cc"),
      (5L, "forum")).toDF("doc_id", "source")
    // 1-2 (cc↔wiki), 1-3 (cc internal), 2-5 (forum↔wiki as unordered),
    // 3-4 (cc internal)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 5L), (3L, 4L))
      .toDF("id_a", "id_b")
    val m = Dedup.sourceOverlap(pairs, d, "doc_id", "source")
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(m == Map(("cc", "wiki") -> 1L, ("cc", "cc") -> 2L,
      ("forum", "wiki") -> 1L))
  }

  test("sketch dup-stats: HLL estimate within rsd of exact (100 TB first pass)") {
    val d = Tables.load(spark, sf, "documents")
    val r = Dedup.dupStats(d, "text", rsd = 0.02).first()
    val exact = r.getAs[Long]("n_distinct_exact")
    val approx = r.getAs[Long]("n_distinct_approx")
    assert(r.getAs[Long]("n_docs") == 500)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("dedup by key is idempotent on fixture data (property)") {
    val d = Tables.load(spark, sf, "documents")
    val once = Dedup.exact(d, "doc_id", "text")
    val again = Dedup.exact(
      once.join(d, "doc_id").select("doc_id", "text"), "doc_id", "text")
    assert(once.count() == again.count())
  }
}
