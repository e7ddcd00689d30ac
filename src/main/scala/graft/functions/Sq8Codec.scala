package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Scalar-quantization (SQ8) codec expressions: each dimension is
  * affinely quantized to an 8-bit code against per-dimension
  * `[min, max]` bounds — FAISS's `ScalarQuantizer(QT_8bit)`, the
  * workhorse compression tier between raw float32 (4× the bytes) and
  * PQ (lossier, needs KMeans training).
  *
  * Unlike PQ, the ENTIRE path is deterministic arithmetic — training
  * is a per-dimension min/max aggregate, no KMeans — so encode, ADC
  * and re-rank are all exactly replicable in ANSI SQL and the
  * `ann_sq8_topk` oracle hash-checks the whole arc, training
  * included.
  *
  * Numeric contract (cross-engine determinism): all math in double.
  * With `mn_d = (double) min_d`, `delta_d = ((double) max_d − mn_d) /
  * 255.0`:
  *
  *   code_d  = delta_d == 0 ? 0
  *           : (int) min(255.0, max(0.0, floor((v_d − mn_d) / delta_d + 0.5)))
  *   decode_d = mn_d + code_d · delta_d
  *   adc      = Σ_d (q_d − decode_d)²   (sequential fold, ascending d)
  *
  * Every term is an IEEE-exact double op identical in DuckDB
  * (`floor(x + 0.5)` is the project-wide half-up spelling), so raw
  * ADC doubles are bit-equal across engines and shortlist cuts on
  * them are safe unrounded. The clamp never fires for corpus rows
  * (global min/max bound them) but makes encoding out-of-range
  * vectors — query-time encode, appended batches — total.
  *
  * The bounds ride the expressions as referenced `double[]`s
  * (`ctx.addReferenceObj`), not literals: generated code is a
  * constant-size loop at any dimensionality — the same 64 KB-limit
  * discipline as [[PqAdcDistance]].
  */
case class Sq8EncodeCodes(child: Expression, mins: Array[Double],
                          deltas: Array[Double])
    extends UnaryExpression {

  private val dim = mins.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq8_encode"

  override def nullSafeEval(vecAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val vd = VecElem.isDouble(child.dataType)
    val out = new Array[Int](dim)
    var d = 0
    while (d < dim) {
      val delta = deltas(d)
      out(d) =
        if (delta == 0.0) 0
        else math.min(255.0, math.max(0.0,
          math.floor((VecElem.read(v, d, vd) - mins(d)) / delta + 0.5))).toInt
      d += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "double[]")
    val dl = ctx.addReferenceObj("sq8Deltas", deltas, "double[]")
    val gv = VecElem.accessor(child.dataType)
    nullSafeCodeGen(ctx, ev, v => {
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val delta = ctx.freshName("delta")
      s"""
         |int[] $out = new int[$dim];
         |for (int $d = 0; $d < $dim; $d++) {
         |  double $delta = $dl[$d];
         |  $out[$d] = $delta == 0.0 ? 0
         |    : (int) java.lang.Math.min(255.0, java.lang.Math.max(0.0,
         |        java.lang.Math.floor(((double) $v.$gv($d) - $mn[$d]) / $delta + 0.5)));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 asymmetric distance: exact query vs decoded 8-bit candidate,
  * `Σ_d (q_d − (mn_d + code_d·delta_d))²` as a sequential double fold
  * in dimension order.
  */
case class Sq8AdcDistance(left: Expression, right: Expression,
                          mins: Array[Double], deltas: Array[Double])
    extends BinaryExpression {

  private val dim = mins.length

  // left = codes array<int>, right = query vector
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_adc"

  override def nullSafeEval(codesAny: Any, queryAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val q = queryAny.asInstanceOf[ArrayData]
    val qd = VecElem.isDouble(right.dataType)
    var s = 0.0
    var d = 0
    while (d < dim) {
      val diff = VecElem.read(q, d, qd) - (mins(d) + codes.getInt(d) * deltas(d))
      s += diff * diff
      d += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "double[]")
    val dl = ctx.addReferenceObj("sq8Deltas", deltas, "double[]")
    val gq = VecElem.accessor(right.dataType)
    nullSafeCodeGen(ctx, ev, (codes, q) => {
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val diff = ctx.freshName("diff")
      s"""
         |double $s = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  double $diff = (double) $q.$gq($d)
         |    - ($mn[$d] + $codes.getInt($d) * $dl[$d]);
         |  $s += $diff * $diff;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Sq8Codec {

  def encode(vec: Column, mins: Array[Double],
             deltas: Array[Double]): Column =
    toColumn(Sq8EncodeCodes(expression(vec), mins, deltas))

  def adc(codes: Column, query: Column,
          mins: Array[Double], deltas: Array[Double]): Column =
    toColumn(Sq8AdcDistance(expression(codes), expression(query), mins, deltas))
}
