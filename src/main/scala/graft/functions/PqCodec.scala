package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization codec expressions: the PQ codebooks ride the
  * expression as a plain `float[]` REFERENCE (`ctx.addReferenceObj`),
  * not as literals.
  *
  * Why this exists: the previous spelling inlined the codebooks as
  * `typedLit(books(j))` per sub-quantizer. At production codebook
  * sizes (nsub 16, ksub 256, d 768) the generated Java exceeds the
  * JVM's 64 KB method limit, Catalyst logs `ERROR CodeGenerator` and
  * silently degrades the hottest ANN inner loop (per-candidate ×
  * per-sub-quantizer ADC) to interpreted row-at-a-time evaluation.
  * With the books as a referenced array the generated code is a
  * constant-size triple loop — independent of nsub/ksub/dim — and the
  * ADC stays inside whole-stage codegen at any codebook size.
  *
  * Numeric contract (oracle parity): identical operation order to the
  * HOF spelling it replaces — per sub-quantizer, a sequential double
  * fold from a 0.0 seed over `((double)q_d − (double)book_d)²` in
  * dimension order, then sub-quantizer partial sums added in sub
  * order. Partial-sum grouping is preserved (one inner accumulator
  * per sub), so results are bit-equal and the `pq_adc_fixed` DuckDB
  * hash check pins the equivalence.
  */
case class PqAdcDistance(left: Expression, right: Expression,
                         books: Array[Float], nsub: Int, ksub: Int,
                         subDim: Int)
    extends BinaryExpression {

  // left = codes array<int>, right = query vector array<float>
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(codesAny: Any, queryAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val q = queryAny.asInstanceOf[ArrayData]
    val qd = VecElem.isDouble(right.dataType)
    var s = 0.0
    var j = 0
    while (j < nsub) {
      val code = codes.getInt(j)
      val qb = j * subDim
      val cb = (j * ksub + code) * subDim
      var sj = 0.0
      var d = 0
      while (d < subDim) {
        val diff = VecElem.read(q, qb + d, qd) - books(cb + d).toDouble
        sj += diff * diff
        d += 1
      }
      s += sj
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("pqBooks", books, "float[]")
    val gq = VecElem.accessor(right.dataType)
    nullSafeCodeGen(ctx, ev, (codes, q) => {
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val sj = ctx.freshName("sj")
      val code = ctx.freshName("code")
      val qb = ctx.freshName("qb")
      val cb = ctx.freshName("cb")
      val diff = ctx.freshName("diff")
      s"""
         |double $s = 0.0;
         |for (int $j = 0; $j < $nsub; $j++) {
         |  int $code = $codes.getInt($j);
         |  int $qb = $j * $subDim;
         |  int $cb = ($j * $ksub + $code) * $subDim;
         |  double $sj = 0.0;
         |  for (int $d = 0; $d < $subDim; $d++) {
         |    double $diff = (double) $q.$gq($qb + $d) - (double) $bk[$cb + $d];
         |    $sj += $diff * $diff;
         |  }
         |  $s += $sj;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ encode: vector → `array<int>` of per-sub-quantizer nearest-
  * centroid codes. Replaces the `least(struct(dist, idx)...)` literal
  * cascade (ksub structs × subDim terms of generated code per sub)
  * with the same referenced-array triple loop as [[PqAdcDistance]].
  *
  * Argmin contract matches the `least`-of-structs spelling exactly:
  * distances accumulate as a sequential double fold in dimension
  * order; strict `<` comparison scanning codes in ascending order
  * keeps the SMALLEST code on ties — `least`'s lexicographic
  * `struct(d, i)` tie-break.
  */
case class PqEncodeCodes(child: Expression, books: Array[Float],
                         nsub: Int, ksub: Int, subDim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(vecAny: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val vd = VecElem.isDouble(child.dataType)
    val out = new Array[Int](nsub)
    var j = 0
    while (j < nsub) {
      val qb = j * subDim
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val cb = (j * ksub + c) * subDim
        var d2 = 0.0
        var d = 0
        while (d < subDim) {
          val diff = VecElem.read(v, qb + d, vd) - books(cb + d).toDouble
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bk = ctx.addReferenceObj("pqBooks", books, "float[]")
    val gv = VecElem.accessor(child.dataType)
    nullSafeCodeGen(ctx, ev, v => {
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val qb = ctx.freshName("qb")
      val cb = ctx.freshName("cb")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val d2 = ctx.freshName("d2")
      val diff = ctx.freshName("diff")
      val out = ctx.freshName("out")
      s"""
         |int[] $out = new int[$nsub];
         |for (int $j = 0; $j < $nsub; $j++) {
         |  int $qb = $j * $subDim;
         |  int $best = 0;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $ksub; $c++) {
         |    int $cb = ($j * $ksub + $c) * $subDim;
         |    double $d2 = 0.0;
         |    for (int $d = 0; $d < $subDim; $d++) {
         |      double $diff = (double) $v.$gv($qb + $d) - (double) $bk[$cb + $d];
         |      $d2 += $diff * $diff;
         |    }
         |    if ($d2 < $bestD) { $bestD = $d2; $best = $c; }
         |  }
         |  $out[$j] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqCodec {

  private[graft] def flat(books: Seq[Seq[Seq[Float]]]): Array[Float] =
    books.flatMap(_.flatten).toArray

  def adc(codes: Column, query: Column,
          books: Seq[Seq[Seq[Float]]]): Column =
    toColumn(PqAdcDistance(expression(codes), expression(query), flat(books),
      books.size, books.head.size, books.head.head.size))

  def encode(vec: Column, books: Seq[Seq[Seq[Float]]]): Column =
    toColumn(PqEncodeCodes(expression(vec), flat(books),
      books.size, books.head.size, books.head.head.size))
}
