package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two vector-array columns
  * (`array<float>` or `array<double>` — the accessor is resolved from
  * each child's dataType, see [[VecElem]]).
  *
  * The higher-order-function formulation (Similarity.dot/l2Norm) walks
  * each array three times and allocates an intermediate array per
  * zip_with/transform; this expression fuses dot product and both norms
  * into one pass with three scalar accumulators, inside whole-stage
  * codegen. Accumulation order (sequential, left-to-right, double) is
  * identical to the HOF fold, so results are bit-equal — the DuckDB
  * oracle and the HOF queries validate it transitively.
  *
  * Zero-norm rule: a zero-norm operand (e.g. the zero vector a
  * token-free document hashes to) has no direction, so similarity is
  * defined as 0.0 — never NaN/±inf from the 0/0 division, which would
  * poison top-k ordering and diverge from the SQL oracle's CASE guard.
  *
  * Null semantics: null array → null (BinaryExpression default); null
  * *elements* are not expected (embedding vectors are dense).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are array<float|double> by contract (ExpectsInputTypes is
  // private[sql] in Spark 4, so the check is the caller's)
  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (VecElem.isDouble(left.dataType),
      VecElem.isDouble(right.dataType))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = VecElem.read(x, i, xd)
      val yv = VecElem.read(y, i, yd)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ga, gb) = (VecElem.accessor(left.dataType),
        VecElem.accessor(right.dataType))
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.$ga($i);
         |  double $yv = (double) $b.$gb($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  def column(a: Column, b: Column): Column =
    toColumn(CosineSimilarity(expression(a), expression(b)))
}
