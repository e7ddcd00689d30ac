package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{CharEntropy, CmSketch, CosineSimilarity, DictGetExpr,
  Dictionaries, DotProduct, HammingCodeDistance, KmvDistinct, L2DistanceSq,
  MisraGries, MisraGriesWeighted, PhraseHits, SignPack, TDigestQuantiles}

/** The engine's one SQL function registry (SURVEY §2.11 registration
  * path). [[Sessions]] builds every session with these extensions, so
  * every session has the same functions from the start — usable from
  * `spark.sql(...)`, thrift/connect clients, and SQL files run through
  * `IO.runScript`. A session built elsewhere gets them with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  *   - `cosine_sim(a, b)`   codegen'd float-vector cosine (scalar)
  *   - `dot_f(a, b)` / `l2_dist_sq(a, b)`  fused vector dot product and
  *     squared L2 distance (scalar)
  *   - `sign_pack(v)` / `hamming_codes(a, b)`  sign-bit codes and their
  *     Hamming distance (scalar)
  *   - `char_entropy(s)`    codegen'd codepoint Shannon entropy (scalar)
  *   - `kmv_distinct(x, k)` KMV distinct-count sketch (aggregate)
  *   - `misra_gries(x, k)`  heavy-hitters sketch (aggregate)
  *   - `misra_gries_w(x, w, k)`  weighted heavy-hitters (topKWeighted)
  *   - `cm_sketch(x, d, w)`  Count–Min frequency sketch (aggregate)
  *   - `tdigest_quantiles(x, compression, array(q…))`  t-digest
  *     quantile sketch (aggregate)
  *   - `phrase_hits(s, array(…))`  Aho–Corasick blocklist scan (scalar)
  *   - `dict_get('d', 'attr', key)` / `dict_get_or_default(...)`  CH
  *     dictGet over a registered broadcast dictionary
  *     ([[graft.functions.Dictionaries]])
  *
  * The DataFrame helpers (`CosineSimilarity.column`, `VectorExprs.dot`,
  * …) build the same expressions directly and never touch the registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): FunctionDescription =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** A literal parameter's value. eval(null) on a non-foldable (e.g. a
    * column reference) throws an opaque analysis-time error — fail
    * with the contract instead.
    */
  private def constant(fn: String, what: String, e: Expression): Any = {
    require(e.foldable, s"$fn: $what must be a constant (literal) expression")
    e.eval(null)
  }

  private def int(fn: String, what: String, e: Expression): Int =
    constant(fn, what, e).asInstanceOf[Number].intValue()

  val functions: Seq[FunctionDescription] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity]) { exprs =>
      require(exprs.length == 2, "cosine_sim(arrayFloat, arrayFloat)")
      CosineSimilarity(exprs(0), exprs(1))
    },
    fn("dot_f", classOf[DotProduct]) { exprs =>
      require(exprs.length == 2, "dot_f(array, array)")
      DotProduct(exprs(0), exprs(1))
    },
    fn("l2_dist_sq", classOf[L2DistanceSq]) { exprs =>
      require(exprs.length == 2, "l2_dist_sq(array, array)")
      L2DistanceSq(exprs(0), exprs(1))
    },
    fn("sign_pack", classOf[SignPack]) { exprs =>
      require(exprs.length == 1, "sign_pack(array)")
      SignPack(exprs.head)
    },
    fn("hamming_codes", classOf[HammingCodeDistance]) { exprs =>
      require(exprs.length == 2, "hamming_codes(arrayLong, arrayLong)")
      HammingCodeDistance(exprs(0), exprs(1))
    },
    fn("char_entropy", classOf[CharEntropy]) { exprs =>
      require(exprs.length == 1, "char_entropy(string)")
      CharEntropy(exprs.head)
    },
    fn("kmv_distinct", classOf[KmvDistinct]) { exprs =>
      require(exprs.length == 2, "kmv_distinct(col, k)")
      KmvDistinct(exprs.head, int("kmv_distinct", "k", exprs(1)))
    },
    fn("misra_gries", classOf[MisraGries]) { exprs =>
      require(exprs.length == 2, "misra_gries(col, k)")
      MisraGries(exprs.head, int("misra_gries", "k", exprs(1)))
    },
    fn("misra_gries_w", classOf[MisraGriesWeighted]) { exprs =>
      require(exprs.length == 3, "misra_gries_w(col, w, k)")
      MisraGriesWeighted(exprs.head, exprs(1),
        int("misra_gries_w", "k", exprs(2)))
    },
    fn("cm_sketch", classOf[CmSketch]) { exprs =>
      require(exprs.length == 3, "cm_sketch(col, depth, width)")
      CmSketch(exprs.head, int("cm_sketch", "depth", exprs(1)),
        int("cm_sketch", "width", exprs(2)))
    },
    fn("tdigest_quantiles", classOf[TDigestQuantiles]) { exprs =>
      require(exprs.length == 3,
        "tdigest_quantiles(doubleCol, compression, array(q…))")
      TDigestQuantiles(exprs.head,
        int("tdigest_quantiles", "compression", exprs(1)),
        constant("tdigest_quantiles", "the quantile array", exprs(2))
          .asInstanceOf[ArrayData].toDoubleArray().toSeq)
    },
    fn("phrase_hits", classOf[PhraseHits]) { exprs =>
      require(exprs.length == 2, "phrase_hits(text, array('a','b',…))")
      PhraseHits(exprs.head, exprs(1))
    },
    // CH dictGet surface (J1's SQL consumer form): the builders resolve
    // against the server-scoped Dictionaries registry at analysis time,
    // so a script using them fails loudly if the dictionary was never
    // created — same contract as CH's "dictionary not found"
    fn("dict_get", classOf[DictGetExpr])(Dictionaries.buildDictGet),
    fn("dict_get_or_default", classOf[DictGetExpr])(
      Dictionaries.buildDictGetOrDefault))
}
