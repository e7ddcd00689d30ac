package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** t-digest quantile sketch (Dunning & Ertl, "Computing extremely
  * accurate quantiles using t-digests") as a `TypedImperativeAggregate`
  * — the quantiles member of the engine's mergeable-sketch tier
  * ([[KmvDistinct]] = distinct counts, [[MisraGries]] = heavy hitters).
  *
  * Buffer = a list of (mean, weight) centroids plus unmerged points;
  * when the list exceeds its slack it is compressed by the merging
  * rule: sort by mean, then absorb neighbors while the k₁ scale
  * function `k₁(q) = δ/(2π)·asin(2q−1)` advances less than one unit —
  * centroids stay small near the tails (q→0,1) and coarse in the
  * middle, which is what makes extreme quantiles accurate. Merge of
  * two sketches is list concatenation + the same compression
  * (mergeable-summaries shape), so state is O(δ) regardless of input
  * size and the aggregation is map-side combinable: the quantiles of a
  * 100 TB column move ~δ centroids per partition instead of the global
  * sort an exact percentile needs (the exact interpolated form stays
  * the oracle-checkable semantics at test scale —
  * `doc_len_percentiles`).
  *
  * Accuracy contract (tested in QuantileSketchSpec as RANK error, the
  * t-digest guarantee): the reported value for quantile q sits within
  * ~1/δ of rank q·N, tightening toward the tails. Estimates are exact
  * below δ distinct points (every point keeps its own centroid).
  */
case class TDigestQuantiles(child: Expression, compression: Int,
                            quantiles: Seq[Double],
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  require(compression >= 10, s"compression >= 10 required, got $compression")
  require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
    s"quantiles must lie in [0,1], got $quantiles")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckSuccess
    else TypeCheckFailure(
      s"tdigest expects a double column, got ${child.dataType}")

  /** Slack factor: compress once the centroid list outgrows 8·δ. */
  private def cap: Int = compression * 8

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    new ArrayBuffer[(Double, Long)]()

  override def update(buf: ArrayBuffer[(Double, Long)],
                      input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (!d.isNaN) {
        buf += ((d, 1L))
        if (buf.length > cap) TDigestQuantiles.compress(buf, compression)
      }
    }
    buf
  }

  override def merge(buf: ArrayBuffer[(Double, Long)],
                     other: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    buf ++= other
    if (buf.length > cap) TDigestQuantiles.compress(buf, compression)
    buf
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any = {
    TDigestQuantiles.compress(buf, compression)
    new GenericArrayData(
      quantiles.map(q => TDigestQuantiles.quantile(buf, q)).toArray)
  }

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    // always ship compressed state — the partial/shuffle row is O(δ)
    TDigestQuantiles.compress(buf, compression)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (m, w) => out.writeDouble(m); out.writeLong(w) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[(Double, Long)](n)
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "tdigest_quantiles"

  override def withNewMutableAggBufferOffset(offset: Int): TDigestQuantiles =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TDigestQuantiles =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TDigestQuantiles {

  /** k₁ scale function: δ/(2π)·asin(2q−1). */
  private def k1(q: Double, compression: Int): Double =
    compression / (2 * math.Pi) * math.asin(2 * math.min(1.0, q) - 1)

  /** In-place merging compression: sort by mean, absorb neighbors while
    * the scale function advances < 1 between the running centroid's
    * left edge and the candidate's right edge.
    */
  private[graft] def compress(buf: ArrayBuffer[(Double, Long)],
                                  compression: Int): Unit = {
    if (buf.length <= 1) return
    val sorted = buf.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum.toDouble
    buf.clear()
    var (curMeanW, curW) = {
      val h = sorted.head; (h._1 * h._2, h._2)
    }
    var qLeft = 0.0
    var i = 1
    while (i < sorted.length) {
      val (m, w) = sorted(i)
      val qRight = qLeft + (curW + w) / total
      if (k1(qRight, compression) - k1(qLeft, compression) <= 1.0) {
        curMeanW += m * w; curW += w
      } else {
        buf += ((curMeanW / curW, curW))
        qLeft += curW / total
        curMeanW = m * w; curW = w
      }
      i += 1
    }
    buf += ((curMeanW / curW, curW))
  }

  /** Quantile estimate from a compressed (sorted) digest: linear
    * interpolation between centroid midpoints, clamped to the extreme
    * centroid means at the tails.
    */
  private[graft] def quantile(digest: ArrayBuffer[(Double, Long)],
                                  q: Double): Double = {
    if (digest.isEmpty) return Double.NaN
    if (digest.length == 1) return digest.head._1
    val total = digest.iterator.map(_._2).sum.toDouble
    val target = q * total
    // midpoint ranks: centroid i covers cum_{i-1} + w_i/2
    var cum = 0.0
    var prevMid = Double.NaN
    var prevMean = digest.head._1
    var i = 0
    while (i < digest.length) {
      val (m, w) = digest(i)
      val mid = cum + w / 2.0
      if (target < mid) {
        return if (prevMid.isNaN) m
        else prevMean + (m - prevMean) * (target - prevMid) / (mid - prevMid)
      }
      prevMid = mid; prevMean = m; cum += w
      i += 1
    }
    digest.last._1
  }

  def column(c: Column, compression: Int, qs: Seq[Double]): Column =
    toColumn(TDigestQuantiles(expression(c.cast("double")), compression, qs)
      .toAggregateExpression())
}
