package graft

import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity
import graft.operators.Similarity

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native expression is bit-equal to the HOF formulation on fixture vectors") {
    val emb = Tables.load(spark, sf, "embeddings")
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter($"a.vec_id" < $"b.vec_id").limit(2000)
      .select(
        Similarity.cosine($"a.embedding", $"b.embedding", 12).as("hof"),
        graft.functions.Rounding.pround(
          CosineSimilarity.column($"a.embedding", $"b.embedding"), 12)
          .as("native"))
    assert(pairs.filter($"hof" =!= $"native").count() == 0)
  }

  test("native expression survives SQL registration") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .as[Double].head()
    assert(r == 1.0)
  }

  test("null array yields null") {
    val r = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS c")
      .select(isnull($"c")).as[Boolean].head()
    assert(r)
  }

  test("zero-norm operands score 0.0, never NaN — native and HOF agree") {
    val native = spark.sql(
      "SELECT cosine_sim(array(0.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .as[Double].head()
    assert(native == 0.0)
    val hof = Seq((Array(0f, 0f), Array(1f, 0f))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c")).as[Double].head()
    assert(hof == 0.0)
  }

  test("double-array operands read correctly (the hashed-embedding " +
      "element type) and match the float-array result") {
    val d = spark.sql(
      "SELECT cosine_sim(array(0.6D, 0.8D), array(0.8D, 0.6D)) AS c")
      .as[Double].head()
    val f = spark.sql(
      "SELECT cosine_sim(array(0.6F, 0.8F), array(0.6F, 0.8F)) AS c")
      .as[Double].head()
    assert(math.abs(d - 0.96) < 1e-9, s"double-array cosine wrong: $d")
    assert(math.abs(f - 1.0) < 1e-12, s"float self-cosine wrong: $f")
  }

  test("hashed embeddings keep token-free docs as the zero vector, and " +
      "similarity against them is 0") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val emb = graft.operators.TextEmbedding.hashedEmbeddings(
      docs, "doc_id", "text", 8)
    assert(emb.count() == 3, "empty-text doc must keep its row")
    val zero = emb.filter($"doc_id" === 2)
      .select(aggregate(transform($"vec", x => abs(x)), lit(0.0),
        (a, x) => a + x)).as[Double].head()
    assert(zero == 0.0, "token-free doc must embed as the zero vector")
    // top-k over the corpus: the zero vector scores 0 everywhere, no NaN
    val topk = graft.operators.TextEmbedding.hashedTopK(
      docs, "doc_id", "text", $"doc_id" === 2, 2, 8)
    val scores = topk.select($"score").as[Double].collect()
    assert(scores.nonEmpty && scores.forall(s => !s.isNaN && s == 0.0))
  }
}
