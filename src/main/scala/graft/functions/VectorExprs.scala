package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Element accessor selection for the fused vector expressions: the
  * engine's vector columns are `array<float>` (stored embeddings) OR
  * `array<double>` (the feature-hashed text embeddings) — reading a
  * double-backed ArrayData through getFloat silently returns garbage,
  * so the accessor is resolved from the child's dataType at plan time
  * and baked into both eval and the generated code.
  */
private[functions] object VecElem {
  def isDouble(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** The ArrayData accessor name for codegen. */
  def accessor(dt: DataType): String =
    if (isDouble(dt)) "getDouble" else "getFloat"

  @inline def read(a: ArrayData, i: Int, dbl: Boolean): Double =
    if (dbl) a.getDouble(i) else a.getFloat(i).toDouble
}

/** Fused, codegen'd vector primitives over `array<float>` columns.
  *
  * The higher-order-function spellings (`aggregate(zip_with(...))`) are
  * `CodegenFallback` in Spark — inside a WholeStageCodegen stage they
  * still evaluate interpreted, row at a time, allocating an
  * intermediate array per zip_with. These expressions run the same
  * arithmetic as a tight primitive loop inside generated code: the
  * difference between an ANN candidate scan that streams and one that
  * boxes.
  *
  * Numeric contract (the oracle-parity invariant shared with
  * [[CosineSimilarity]]): accumulate in double, sequentially,
  * left-to-right from a 0.0 seed, each float element cast to double
  * before the arithmetic — bit-identical to the HOF fold, so swapping
  * a HOF call site for the fused form can never move a hash-checked
  * result.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (VecElem.isDouble(left.dataType),
      VecElem.isDouble(right.dataType))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += VecElem.read(x, i, xd) * VecElem.read(y, i, yd)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ga, gb) = (VecElem.accessor(left.dataType),
        VecElem.accessor(right.dataType))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$ga($i) * (double) $b.$gb($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance — the exact-re-rank scorer of the PQ arc and
  * the metric IVF cell assignment minimizes. Same fold contract as
  * [[DotProduct]]: `sum_i ((double)a_i − (double)b_i)²` accumulated
  * sequentially from 0.0.
  */
case class L2DistanceSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_dist_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (VecElem.isDouble(left.dataType),
      VecElem.isDouble(right.dataType))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = VecElem.read(x, i, xd) - VecElem.read(y, i, yd)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ga, gb) = (VecElem.accessor(left.dataType),
        VecElem.accessor(right.dataType))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.$ga($i) - (double) $b.$gb($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Binary (sign) quantization: pack each vector's per-dimension sign
  * bits into `ceil(d/64)` longs — bit `i mod 64` of word `i / 64` is
  * set iff `v(i) >= 0`, the same sign rule as
  * [[graft.operators.Similarity.signBucket]]. 32× smaller than the
  * float32 vector; Hamming distance over the codes approximates
  * angular distance (Charikar STOC'02 — `P[sign disagree] = θ/π`),
  * which makes a packed-code scan the cheapest possible ANN shortlist
  * pass. A dimension count not divisible by 64 leaves the top bits of
  * the last word zero on BOTH operands, so [[HammingCodeDistance]]
  * never sees phantom disagreements.
  */
case class SignPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "sign_pack"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dbl = VecElem.isDouble(child.dataType)
    val n = v.numElements()
    val words = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      if (VecElem.read(v, i, dbl) >= 0.0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ga = VecElem.accessor(child.dataType)
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val w = ctx.freshName("w")
      s"""
         |int $n = $v.numElements();
         |long[] $w = new long[($n + 63) >>> 6];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ((double) $v.$ga($i) >= 0.0) $w[$i >>> 6] |= 1L << ($i & 63);
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($w);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two [[SignPack]] code arrays:
  * `Σ_w bitCount(a_w ^ b_w)` — the number of dimensions whose signs
  * disagree. One `Long.bitCount` per 64 dimensions, the entire reason
  * the codes are packed; `HammingPackSpec`-style equivalence with the
  * naive per-dimension disagreement count is pinned in SimilaritySpec.
  */
case class HammingCodeDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "hamming_codes"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $s = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {

  def dot(a: Column, b: Column): Column =
    toColumn(DotProduct(expression(a), expression(b)))

  def l2DistSq(a: Column, b: Column): Column =
    toColumn(L2DistanceSq(expression(a), expression(b)))

  def signPack(v: Column): Column = toColumn(SignPack(expression(v)))

  def hammingCodes(a: Column, b: Column): Column =
    toColumn(HammingCodeDistance(expression(a), expression(b)))
}
