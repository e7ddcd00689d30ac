package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, TextFunctions}

/** Feature-hashed bag-of-words document embeddings (the hashing trick,
  * Weinberger et al., ICML 2009): every token hashes to one of `dim`
  * buckets with a ±1 sign from a second hash bit, per-doc bucket sums
  * L2-normalize into a dense unit vector. No vocabulary, no model, no
  * training pass — the deterministic text→vector bridge that makes the
  * engine's whole ANN/semantic tier (brute-force top-k, IVF-PQ index,
  * SemDeDup) usable on raw text.
  *
  * Scale shape: explode → two map-side-combinable aggregations keyed
  * by doc — token hashing is a pure projection, the (doc, bucket) sum
  * pre-reduces before the shuffle, and the dense-array build is one
  * more per-doc combine. Hashes ride the md5 idiom the sampling tier
  * already oracle-matches (first 8 hex chars as unsigned 32-bit; the
  * 9th hex char's parity as the sign), sums of ±1 and their squares
  * are integer-exact in double, and components round at 6 — so the
  * DuckDB replica is bit-identical despite floating-point
  * normalization.
  */
object TextEmbedding {

  /** (idCol, vec) — `vec` is the `dim`-length L2-normalized double
    * array; a token-free doc KEEPS its row as the zero vector (the
    * left join from the full id set below — an inner explode pipeline
    * would silently delete empty documents from every downstream
    * consumer, and the SQL oracle's dense CTE builds from
    * `SELECT DISTINCT doc_id`, so the two engines would disagree on
    * the first empty-text doc a corpus contains).
    */
  def hashedEmbeddings(docs: DataFrame, idCol: String, textCol: String,
                       dim: Int): DataFrame = {
    require(dim >= 2, s"dim >= 2 required, got $dim")
    // fanOut: tokenize + per-token md5 hashing runs at scan
    // parallelism — one task on a single-row-group corpus file
    val tok = Par.fanOut(docs)
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val h32 = conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
    val sgn = when(
      (conv(substring(md5(col("w")), 9, 1), 16, 10).cast("int") % 2) === 0,
      lit(1.0)).otherwise(lit(-1.0))
    val sums = tok
      .select(col(idCol), (h32 % dim).cast("int").as("bucket"), sgn.as("sgn"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("sgn")).as("v"))
    val asMap = sums.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v"))))
        .as("m"))
    // token-free docs have no rows in `sums`; the left join restores
    // them with a null map, which densifies to the zero vector (both
    // shuffles key on the doc id, so this adds no new exchange shape)
    val allIds = docs.select(col(idCol)).distinct()
    val dense = transform(sequence(lit(0), lit(dim - 1)),
      i => coalesce(element_at(col("m"), i), lit(0.0)))
    val norm = sqrt(aggregate(
      transform(col("raw"), x => x * x), lit(0.0), (a, x) => a + x))
    allIds.join(asMap, Seq(idCol), "left")
      .select(col(idCol), dense.as("raw"))
      .withColumn("n", norm)
      .select(col(idCol), transform(col("raw"),
        x => when(col("n") > 0, Rounding.pround(x / col("n"), 6))
          .otherwise(lit(0.0))).as("vec"))
  }

  /** Hashed-embedding nearest neighbors over raw text: hash both sides
    * and run the exact cosine top-k — text similarity search with zero
    * trained state, composable with the bucketed/IVF variants the same
    * way real embeddings are.
    */
  def hashedTopK(docs: DataFrame, idCol: String, textCol: String,
                 queryPred: Column, k: Int, dim: Int): DataFrame = {
    val emb = hashedEmbeddings(docs, idCol, textCol, dim)
    // score with the fused codegen'd cosine (bit-identical to the HOF
    // form, one compiled loop instead of three interpreted folds)
    Similarity.bruteForceTopK(emb, emb.filter(queryPred), idCol, "vec", k,
      Similarity.cosineFused(_, _))
  }
}
