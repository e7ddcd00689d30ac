package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, VectorExprs}

/** Linear (logistic-regression) document classifier over dense
  * feature vectors — the trained mate of the rule-based
  * [[Quality.verdict]] pass. This is the fastText/CCNet-style quality
  * filter every production LLM corpus runs: hash the text
  * ([[TextEmbedding.hashedEmbeddings]]), train a linear model to
  * separate a trusted reference slice from the crawl, keep documents
  * the model scores above a threshold. Reference analogue: the
  * reference pipeline's fixed SQL quality predicates
  * (v2/sql/transform_*.sql) are the zero-parameter special case of
  * this operator.
  *
  * Scale shape, training: full-batch gradient descent where each
  * iteration is ONE whole-stage-codegen'd scan of the (bounded,
  * cached) training sample — the margin is the fused
  * [[graft.functions.DotProduct]] against the current weights as an
  * array literal, and the d+1 gradient components are d+1 `sum()`
  * aggregates in a single global aggregation (partial map-side
  * combine → one single-row reduce; no explode, no wide shuffle, no
  * driver-side loop over rows). Driver holds only the (d+1)-double
  * model between iterations, exactly like PQ codebooks or PCA
  * loadings.
  *
  * Scale shape, scoring: a pure map stage — one fused dot product per
  * row against literal weights; filters on the score push into the
  * scan.
  */
object Classifier {

  /** Trained model: `weights(i)` multiplies `vec(i)`; `logit =
    * bias + w·x`; `p(y=1) = sigmoid(logit)`.
    */
  final case class LogRegModel(weights: Seq[Double], bias: Double)

  /** Raw decision value `bias + w·x` as a codegen'd column (ascending
    * single-fold dot — the cross-engine-exact spelling shared with
    * [[Pca.project]]).
    */
  def logitCol(vecCol: String, m: LogRegModel): Column =
    lit(m.bias) + VectorExprs.dot(col(vecCol), typedLit(m.weights))

  /** Score every row: (idCol, logit, pred) with the logit rounded at
    * `scale` and the boolean verdict taken on the ROUNDED value, so
    * two engines that agree on the rounded logit agree on the verdict.
    */
  def score(feats: DataFrame, idCol: String, vecCol: String,
            m: LogRegModel, scale: Int = 6): DataFrame = {
    val lg = Rounding.pround(logitCol(vecCol, m), scale)
    feats.select(col(idCol), lg.as("logit"), (lg > 0).as("pred"))
  }

  /** Full-batch gradient descent on log-loss with L2 regularization.
    *
    * Each iteration evaluates `resid = sigmoid(bias + w·x) − y` in one
    * codegen'd projection and reduces the gradient `(Σ resid·x_i for
    * each i, Σ resid)` as `dim`+1 sums in ONE aggregation — map-side
    * partial combine means the shuffle carries a single (dim+1)-wide
    * row per partition regardless of corpus size. `maxTrain` bounds
    * the sample (ordered by `idCol` for determinism) the same way
    * [[Pca.gram]] bounds its gram pass; the cached sample is scanned
    * `iters` times and unpersisted on exit.
    *
    * Labels: `labelCol` is cast to double and must be 0/1.
    */
  def train(feats: DataFrame, idCol: String, vecCol: String,
            labelCol: String, dim: Int, iters: Int = 40,
            step: Double = 1.0, l2: Double = 1e-4,
            maxTrain: Int = 1 << 16): LogRegModel = {
    require(dim >= 1 && iters >= 1 && step > 0 && l2 >= 0)
    val f = feats
      .select(col(idCol), col(vecCol).as("x"),
        col(labelCol).cast("double").as("y"))
      .orderBy(col(idCol)).limit(maxTrain)
      .select(col("x"), col("y"))
      .cache()
    val n = f.count().toDouble
    require(n > 0, "empty training frame")
    try {
      val w = new Array[Double](dim)
      var b = 0.0
      val gradAggs =
        (0 until dim).map(i =>
          sum(col("r") * element_at(col("x"), i + 1)).as(s"g$i")) :+
          sum(col("r")).as("gb")
      for (_ <- 0 until iters) {
        val margin = lit(b) +
          VectorExprs.dot(col("x"), typedLit(w.toSeq))
        val resid = lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")
        val row = f.withColumn("r", resid)
          .agg(gradAggs.head, gradAggs.tail: _*).head()
        var i = 0
        while (i < dim) {
          w(i) -= step * (row.getDouble(i) / n + l2 * w(i))
          i += 1
        }
        b -= step * row.getDouble(dim) / n
      }
      LogRegModel(w.toSeq, b)
    } finally f.unpersist()
  }

  /** Mean log-loss of a model over a labeled frame (one aggregation;
    * probabilities clamped away from 0/1 so planted perfectly-
    * separable data cannot produce ±∞).
    */
  def logLoss(feats: DataFrame, vecCol: String, labelCol: String,
              m: LogRegModel): Double = {
    val p0 = lit(1.0) / (lit(1.0) + exp(-logitCol(vecCol, m)))
    val p = least(greatest(p0, lit(1e-12)), lit(1.0 - 1e-12))
    val y = col(labelCol).cast("double")
    feats.agg(avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p))))
      .head().getDouble(0)
  }
}
