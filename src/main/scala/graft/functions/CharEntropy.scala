package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy of a string's CODEPOINT distribution, in bits —
  * the gibberish/encoding-noise detector (base64 blobs, mojibake, and
  * minified JS sit far above prose's ~4.1 bits; "aaaa…" padding sits
  * near 0). One codegen'd pass per row over a local frequency table:
  * no per-character explode, no shuffle — the 100 TB shape a
  * d×-row-blowup formulation would not have.
  *
  * Cross-engine exactness (the `text_char_entropy` oracle contract):
  * with counts c and length L, each distinct codepoint contributes
  * `c · floor(log2(c/L)·1e9 + 0.5)` to an exact integer nano-bit sum
  * (|terms| ≤ L·31·1e9 — inside 2⁵³ for docs to ~100 M chars), and
  * only the final `−sum/1e9/L` divides in IEEE doubles. log2 is
  * `Math.log(x)/Math.log(2)` — the same spelling Spark's `log2` and
  * (at the 1e-9 round) DuckDB's `log2` resolve to on the perplexity
  * oracles. Empty strings score 0.
  *
  * Codepoints, not UTF-16 units or bytes: matches DuckDB's `substr`
  * semantics so the replica counts the same symbols on non-ASCII text.
  */
object CharEntropy {

  private val Ln2 = java.lang.Math.log(2.0)

  /** Static entry the generated code calls — the loop itself is plain
    * JVM code; codegen fuses the call, null handling, and consumers.
    */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var len = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      len += 1
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
    }
    if (len == 0L) return 0.0
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      val l9 = java.lang.Math.floor(
        java.lang.Math.log(c.toDouble / len.toDouble) / Ln2 * 1.0e9 + 0.5)
        .toLong
      acc += c * l9
    }
    -(acc.toDouble / 1.0e9) / len.toDouble
  }
}

case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharEntropy.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropyFn {

  def column(c: Column): Column = toColumn(CharEntropy(expression(c)))
}
