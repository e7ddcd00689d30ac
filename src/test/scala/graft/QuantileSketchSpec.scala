package graft

import org.apache.spark.sql.functions._

import graft.functions.TDigestQuantiles

/** t-digest: rank-error accuracy (the t-digest guarantee), merge
  * invariance across partitionings, bounded state, exact behavior on
  * small inputs, and SQL registration.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-uniform permutation of 0..n-1 (LCG step) —
  // arrival order is scrambled, value set is exactly 0..n-1 so true
  // quantiles are known in closed form
  private def scrambled(n: Int): Seq[Double] =
    (0 until n).map(i => ((i.toLong * 48271 + 11) % n).toDouble)

  private val N = 50000
  private val qs = Seq(0.01, 0.1, 0.5, 0.9, 0.99)

  /** rank error of estimate `est` for target quantile `q` over the
    * exact value multiset 0..n-1: |rank(est)/n − q|.
    */
  private def rankErr(est: Double, q: Double, n: Int): Double =
    math.abs(math.min(n - 1, math.max(0.0, est + 0.5)).floor / n - q)

  test("rank error stays within 1% at δ=100 over a scrambled uniform " +
      "stream, tails tighter than the middle") {
    val df = scrambled(N).toDF("v")
    val ests = TDigestQuantiles.column(col("v"), 100, qs)
    val got = df.agg(ests.as("e")).as[Seq[Double]].head()
    qs.zip(got).foreach { case (q, est) =>
      val err = rankErr(est, q, N)
      val bound = if (q <= 0.01 || q >= 0.99) 0.005 else 0.01
      assert(err <= bound, s"q=$q est=$est rankErr=$err > $bound")
    }
  }

  test("merge invariance: 1-partition and 13-partition sketches both " +
      "honor the rank-error bound (map-side combinable state)") {
    for (parts <- Seq(1, 13)) {
      val df = scrambled(N).toDF("v").repartition(parts)
      val got = df.agg(TDigestQuantiles.column(col("v"), 100, qs)
        .as("e")).as[Seq[Double]].head()
      qs.zip(got).foreach { case (q, est) =>
        assert(rankErr(est, q, N) <= 0.01,
          s"parts=$parts q=$q est=$est")
      }
    }
  }

  test("skewed data (quadratic ramp): rank error still bounded") {
    val df = scrambled(N).map(v => v * v).toDF("v")
    val got = df.agg(TDigestQuantiles.column(col("v"), 100,
      Seq(0.5, 0.99)).as("e")).as[Seq[Double]].head()
    val exact = scrambled(N).map(v => v * v).sorted
    // rank of the estimate in the true sorted data vs target rank
    Seq(0.5, 0.99).zip(got).foreach { case (q, est) =>
      val rank = exact.count(_ <= est).toDouble / N
      assert(math.abs(rank - q) <= 0.015, s"q=$q est=$est rank=$rank")
    }
  }

  test("below δ distinct points the sketch is exact (one centroid per " +
      "point) and serialized state stays O(δ)") {
    val small = ArrayBufferOf(Seq(5.0, 1.0, 3.0, 2.0, 4.0))
    TDigestQuantiles.compress(small, 100)
    assert(small.map(_._1).toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "5 points at δ=100 keep their own centroids")
    assert(TDigestQuantiles.quantile(small, 0.5) == 3.0)
    // state bound: a 50k-point digest serializes to ~O(δ) centroids
    val big = ArrayBufferOf(scrambled(N))
    TDigestQuantiles.compress(big, 100)
    assert(big.length < 100 * 3,
      s"compressed digest has ${big.length} centroids — not O(δ)")
  }

  private def ArrayBufferOf(vs: Seq[Double]) = {
    val b = new scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    vs.foreach(v => b += ((v, 1L)))
    b
  }

  test("SQL registration: tdigest_quantiles callable from spark.sql") {
    scrambled(1000).toDF("v").createOrReplaceTempView("td_vals")
    val est = spark.sql(
      "SELECT tdigest_quantiles(v, 100, array(0.5D)) AS e FROM td_vals")
      .as[Seq[Double]].head().head
    assert(rankErr(est, 0.5, 1000) <= 0.01, s"median est=$est")
  }

  test("empty and null inputs: NaN quantiles, no crash") {
    val got = Seq.empty[Double].toDF("v")
      .agg(TDigestQuantiles.column(col("v"), 100, Seq(0.5)).as("e"))
      .as[Seq[Double]].head()
    assert(got.head.isNaN)
    val withNulls = Seq(Some(1.0), None, Some(3.0)).toDF("v")
      .agg(TDigestQuantiles.column(col("v"), 100, Seq(0.5)).as("e"))
      .as[Seq[Double]].head()
    assert(withNulls.head == 2.0, "nulls skipped, midpoint of {1,3}")
  }
}
