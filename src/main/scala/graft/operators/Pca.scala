package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Rounding

/** PCA rotation for embedding columns — the classic variance
  * front-loading pass (Pearson 1901; Jolliffe, "Principal Component
  * Analysis") that makes prefix-truncation ANN work on embeddings that
  * were NOT Matryoshka-trained: after rotating onto the eigenbasis of
  * the covariance, the leading dimensions carry the most variance by
  * construction, so [[Similarity.truncatedRerankTopK]]'s
  * leading-`dPrefix` prefilter discards the least informative
  * coordinates first. L2 distances are invariant under the (orthogonal)
  * rotation, so the exact re-rank stage is unchanged — only the
  * prefilter gets sharper.
  *
  * Scale split, mirroring the IVF/PQ training discipline: TRAINING is
  * one bounded-sample pass that reduces to a d(d+1)/2-cell
  * second-moment table (map-side-combinable decimal sums — at d=64
  * that is 2,080 aggregate cells regardless of corpus size) plus a
  * d-cell mean table; the O(d³) eigensolve runs on the driver over a
  * 64×64 matrix (microseconds — this is the part Spark should NOT
  * distribute). APPLY is a pure map: one fused codegen'd dot product
  * per output component against a broadcast-literal loading row.
  *
  * Cross-engine determinism: per-term products round at 9 digits and
  * sum as DECIMAL(38,12) (partition-order independent), so the gram
  * table — the distributed part of training — hash-matches DuckDB
  * (`emb_pca_gram`); projection against FIXED loadings hash-matches
  * too (`emb_pca_project`). The eigensolve itself is deterministic
  * (cyclic Jacobi, fixed sweep order, sign-canonical eigenvectors) but
  * driver-local, so it is spec-tested rather than SQL-oracled — the
  * same verification split as KMeans-trained models.
  */
object Pca {

  /** (id, i, x): one row per vector element of the bounded training
    * sample, 0-based dimension index, element cast to double.
    */
  private def elements(df: DataFrame, idCol: String, vecCol: String,
                       maxTrain: Int): DataFrame =
    Similarity.trainView(df, idCol, maxTrain)
      .select(col(idCol).as("_id"), posexplode(col(vecCol)))
      .select(col("_id"), col("pos").as("i"), col("col").cast("double").as("x"))

  /** Upper-triangle second-moment table over the training sample:
    * (i, j, gram, n) with i ≤ j, `gram = Σ_rows x_i·x_j` (per-term
    * 9-digit rounding, decimal-exact accumulation, reported at 6) and
    * `n` the sample size. d(d+1)/2 rows — broadcastable at any d the
    * engine would store as an array column. The self-join keys on the
    * row id (d-row groups), so the shuffle moves d doubles per sample
    * row; the aggregation collapses map-side to ≤ 2,080 partial cells
    * per partition.
    */
  def gram(df: DataFrame, idCol: String, vecCol: String,
           maxTrain: Int = 1 << 16): DataFrame = {
    // spread: `elements` is the ≤ maxTrain trainView slice (contract-
    // bounded), but it sits under the trainView orderBy exchange whose
    // byte-based AQE coalescing packs the few-MB element stream into
    // one partition — the d²-per-row self-join products then run on
    // one task. One extra exchange of a bounded frame at any scale.
    val el = Par.spread(elements(df, idCol, vecCol, maxTrain))
    val a = el
    val b = el.select(col("_id"), col("i").as("j"), col("x").as("y"))
    a.join(b, Seq("_id"))
      .filter(col("j") >= col("i"))
      .withColumn("p",
        Rounding.pround(col("x") * col("y"), 9).cast(DecimalType(38, 12)))
      .groupBy("i", "j")
      .agg(sum(col("p")).as("s"), count(lit(1)).as("n"))
      .select(col("i"), col("j"),
        Rounding.pround(col("s").cast("double"), 6).as("gram"), col("n"))
  }

  /** Per-dimension means over the training sample: (i, mean). */
  def colMeans(df: DataFrame, idCol: String, vecCol: String,
               maxTrain: Int = 1 << 16): DataFrame =
    elements(df, idCol, vecCol, maxTrain)
      .withColumn("p", Rounding.pround(col("x"), 9).cast(DecimalType(38, 12)))
      .groupBy("i")
      .agg((sum(col("p")).cast("double") / count(lit(1))).as("mean"))

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric
    * matrix: returns (eigenvalues, eigenvectors-as-rows), eigenvalue-
    * descending, each vector sign-canonicalized (its largest-magnitude
    * component is positive) so the basis is unique and reproducible.
    * O(d³) per sweep on the driver — for the d ≤ ~1k of any embedding
    * column this is microseconds, far below the cost of shipping the
    * problem anywhere.
    */
  private[graft] def jacobiEig(sym: Array[Array[Double]],
                               maxSweeps: Int = 64,
                               tol: Double = 1e-12)
      : (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm > tol) {
      for (p <- 0 until n; q <- p + 1 until n if a(p)(q) != 0.0) {
        val theta = 0.5 * (a(q)(q) - a(p)(p)) / a(p)(q)
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
          k += 1
        }
        k = 0
        while (k < n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
          k += 1
        }
        k = 0
        while (k < n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
          k += 1
        }
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val vec = Array.tabulate(n)(k => v(k)(i))
      val m = vec.indices.maxBy(k => math.abs(vec(k)))
      if (vec(m) < 0) vec.map(x => -x) else vec
    }.toArray
    (evals, evecs)
  }

  /** The full covariance eigendecomposition over a bounded sample:
    * (eigenvalues, eigenvectors-as-rows), variance-descending.
    * Collects only the d(d+1)/2 gram cells + d means (KB-scale
    * metadata, like PQ codebooks) and eigensolves on the driver.
    */
  private[graft] def covEig(df: DataFrame, idCol: String, vecCol: String,
                            maxTrain: Int)
      : (Array[Double], Array[Array[Double]]) = {
    val g = gram(df, idCol, vecCol, maxTrain)
      .select("i", "j", "gram", "n").collect()
    require(g.nonEmpty, "empty training frame")
    val n = g.head.getLong(3).toDouble
    val d = g.map(_.getInt(0)).max + 1
    val mu = new Array[Double](d)
    colMeans(df, idCol, vecCol, maxTrain).collect()
      .foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val cov = Array.ofDim[Double](d, d)
    g.foreach { r =>
      val (i, j, s) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      val c = s / n - mu(i) * mu(j)
      cov(i)(j) = c
      cov(j)(i) = c
    }
    jacobiEig(cov)
  }

  /** Train: top-`nComponents` covariance eigenvectors (rows, variance-
    * descending) — the loadings to broadcast into [[project]].
    */
  def loadings(df: DataFrame, idCol: String, vecCol: String,
               nComponents: Int,
               maxTrain: Int = 1 << 16): Seq[Seq[Double]] = {
    val (_, evecs) = covEig(df, idCol, vecCol, maxTrain)
    require(nComponents >= 1 && nComponents <= evecs.length,
      s"nComponents must be in [1, ${evecs.length}]: $nComponents")
    evecs.take(nComponents).map(_.toSeq).toSeq
  }

  /** ZCA whitening loadings (Bell & Sejnowski's zero-phase transform):
    * W = E·diag(1/√(λ+ε))·Eᵀ — decorrelates the embedding dimensions
    * and equalizes their variances while staying CLOSEST to the
    * original basis among all whitening transforms (the unique
    * symmetric square root, so the result is independent of
    * eigenvector sign/order — deterministic across runs without any
    * sign canonicalization). The prep pass before cosine/L2 retrieval
    * when embeddings have anisotropic spectra (dominant directions
    * drown the informative tail — the same pathology matryoshka and
    * OPQ attack at index level, fixed here at data level). `eps`
    * floors near-null directions so 1/√λ can't explode noise.
    *
    * Training is the shared [[covEig]] path (bounded sample → d²
    * combinable cells → driver Jacobi at d=64); apply is
    * [[project]]'s broadcast-literal map. Centering is the caller's
    * choice (whitening is usually applied after mean removal; cosine
    * pipelines often skip it deliberately). Trained state ⇒ no SQL
    * oracle — spec'd by the whitened-covariance ≡ I property instead
    * (the ann_index_build convention).
    */
  def zcaLoadings(df: DataFrame, idCol: String, vecCol: String,
                  eps: Double = 1e-6,
                  maxTrain: Int = 1 << 16): Seq[Seq[Double]] = {
    require(eps > 0, s"eps must be positive: $eps")
    val (evals, evecs) = covEig(df, idCol, vecCol, maxTrain)
    val d = evals.length
    val inv = evals.map(l => 1.0 / math.sqrt(math.max(l, 0.0) + eps))
    // W = Σ_k inv(k) · e_k e_kᵀ  (symmetric — sign/order invariant)
    val w = Array.ofDim[Double](d, d)
    var k = 0
    while (k < d) {
      val e = evecs(k)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          w(i)(j) += inv(k) * e(i) * e(j)
          j += 1
        }
        i += 1
      }
      k += 1
    }
    w.map(_.toSeq).toSeq
  }

  /** OPQ-P loadings (Ge et al., CVPR 2013 §4 "optimized product
    * quantization", non-parametric/eigenvalue-allocation variant):
    * PCA-rotate, then PERMUTE the principal directions so that each of
    * the `nsub` PQ subspaces receives a balanced eigenvalue PRODUCT —
    * greedy: walk dims variance-descending, assign each to the
    * open subspace with the smallest running Σlog λ. Plain PQ on
    * raw anisotropic vectors wastes whole codebooks on near-constant
    * dims while one overloaded subspace eats the distortion; after
    * this rotation+permutation every sub-quantizer carries comparable
    * information, so the same nsub·log2(ksub) bits buy strictly
    * tighter codes. Feed the result to [[project]], then train/encode
    * PQ on the rotated vectors exactly as before — the rotation is
    * just more metadata next to the codebooks, and L2 is invariant
    * under it, so ADC semantics are unchanged.
    */
  def opqLoadings(df: DataFrame, idCol: String, vecCol: String, nsub: Int,
                  maxTrain: Int = 1 << 16): Seq[Seq[Double]] = {
    val (evals, evecs) = covEig(df, idCol, vecCol, maxTrain)
    val d = evecs.length
    require(nsub >= 1 && d % nsub == 0,
      s"nsub must divide the dimension $d: $nsub")
    val cap = d / nsub
    val logSum = Array.fill(nsub)(0.0)
    val fill = Array.fill(nsub)(0)
    val slots = Array.ofDim[Int](nsub, cap)
    // dims arrive variance-descending already (jacobiEig sorts);
    // eigenvalues can be ~0 (planted noise) — floor the log argument
    for (dim <- 0 until d) {
      val s = (0 until nsub).filter(fill(_) < cap)
        .minBy(s => (logSum(s), s))
      slots(s)(fill(s)) = dim
      fill(s) += 1
      logSum(s) += math.log(math.max(evals(dim), 1e-300))
    }
    // subspace-grouped row order: PQ's dimension split [s*cap, (s+1)*cap)
    // then reads each balanced group as one sub-quantizer
    slots.flatten.map(dim => evecs(dim).toSeq).toSeq
  }

  /** Apply: (id, vec) with `vec(c) = Σ_i v_i · loadings(c)(i)` rounded
    * at `scale` — one fused codegen'd dot product per component
    * against a literal loading row (a single array literal each: no
    * codegen blow-up at any d). Pure map, no shuffle; works for
    * trained loadings and for any fixed rotation alike.
    */
  /** Seeded Johnson–Lindenstrauss sign matrix: k rows × dim columns of
    * ±1/√k (Achlioptas, JCSS 2003 — database-friendly random
    * projections: ±1 entries satisfy the JL lemma with the same
    * distortion bound as Gaussians, at one multiply-free sign per
    * term). The data-INDEPENDENT sibling of the trained loadings
    * ladder: PCA needs a gram pass and an eigensolve, Matryoshka needs
    * MRL-trained embeddings — a JL matrix needs neither, so it is the
    * dimension-reduction rung that works on day 0 against any
    * embedding column, at any corpus size, with zero training state
    * to version or refresh.
    *
    * Determinism: each sign derives from MD5("jl:seed:j:i") byte-0
    * parity — reproducible across JVMs and injectable as literals into
    * an oracle replica. `k` must be a power of FOUR so 1/√k is a dyadic
    * rational (0.25, 0.0625, …): every matrix entry is then exactly
    * representable and the SQL literal IS the Scala double, the
    * SemCents convention.
    */
  def jlSigns(dim: Int, k: Int, seed: String): Seq[Seq[Double]] = {
    require(dim >= 1, s"dim >= 1 required: $dim")
    require(k >= 1 && (k & (k - 1)) == 0 &&
      Integer.numberOfTrailingZeros(k) % 2 == 0,
      s"k must be a power of 4 so 1/sqrt(k) is exact: $k")
    val inv = 1.0 / math.sqrt(k.toDouble)
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { j =>
      (0 until dim).map { i =>
        val h = md.digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) inv else -inv
      }
    }
  }

  def project(df: DataFrame, idCol: String, vecCol: String,
              loadings: Seq[Seq[Double]], scale: Int = 6): DataFrame = {
    require(loadings.nonEmpty, "at least one loading row required")
    val comps: Seq[Column] = loadings.map { l =>
      Rounding.pround(
        graft.functions.VectorExprs.dot(col(vecCol),
          typedLit(l.toArray)), scale)
    }
    df.select(col(idCol), array(comps: _*).as("vec"))
  }

  /** Robust per-dimension standardization (median/MAD, the vector twin
    * of [[Profile.madOutliers]]): scaled = (x − median_d)/MAD_d, with
    * MAD_d = 0 dims left centered-only. Affine quantizers (SQ8's
    * min/max grid) spend their whole code range on one outlier
    * coordinate; the 50%-breakdown median/MAD pair standardizes each
    * dimension without letting the outliers define the scale — the
    * prep pass BEFORE quantization/whitening when embedding dims are
    * heavy-tailed.
    *
    * Output is LONG format (id, dim, scaled) — rebuild vectors with a
    * sorted collect_list when feeding ANN. Shape: two grouped exact
    * percentiles over the d-group exploded frame (the oracle
    * semantics; state ∝ values per dim — at 100 TB substitute
    * [[graft.functions.TDigestQuantiles]], the madOutliers twin), both
    * d-row stat frames broadcast back; the scaling itself is a pure
    * map. pround(6) scaled values, so the DuckDB quantile_cont replica
    * hash-matches.
    */
  def robustScale(df: DataFrame, idCol: String, vecCol: String)
  : DataFrame = {
    val flat = df
      .select(col(idCol).as("__id"), posexplode(col(vecCol)))
      .toDF("__id", "__dim", "__x0")
      .select(col("__id"), col("__dim"), col("__x0").cast("double").as("__x"))
    val med = flat.groupBy("__dim")
      .agg(percentile(col("__x"), lit(0.5)).as("__med"))
    val mad = flat.join(broadcast(med), Seq("__dim"))
      .groupBy("__dim")
      .agg(percentile(abs(col("__x") - col("__med")), lit(0.5)).as("__mad"),
        first(col("__med")).as("__med"))
    flat.join(broadcast(mad), Seq("__dim"))
      .select(col("__id").as(idCol),
        col("__dim").cast("long").as("dim"),
        Rounding.pround(
          when(col("__mad") > 0,
            (col("__x") - col("__med")) / col("__mad"))
            .otherwise(col("__x") - col("__med")), 6).as("scaled"))
  }
}
