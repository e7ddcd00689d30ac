package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern automaton (Aho & Corasick, CACM 1975) —
  * ALL phrases of a blocklist matched in ONE left-to-right pass over
  * the text, O(|text| + matches), independent of blocklist size. The
  * C4 bad-words gate and any taxonomy tagger scan for hundreds to tens
  * of thousands of phrases; N `contains()` probes cost O(N·|text|) per
  * row and get worse exactly when the list grows, which is the 100 TB
  * failure mode this exists to remove.
  *
  * The automaton builds once per expression instance on first use
  * (driver OR executor — `@transient lazy`), from the phrase list the
  * plan carries as a literal; generated code calls [[hits]] through a
  * codegen object reference, so the scan stays inside whole-stage
  * codegen like every other function here.
  *
  * Matching is plain substring containment over UTF-16 char sequences
  * (a UTF-16 subsequence match IS a substring match, for any script).
  * Word-boundary semantics, where wanted, belong to the caller: pad
  * phrases and text with the delimiter, the standard trick.
  */
final class AhoCorasick(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty, "empty phrase list")
  require(patterns.forall(_.nonEmpty), "empty phrase in list")

  // trie + BFS failure links, built lazily so only `patterns` ships in
  // the serialized plan. Per-node child maps are java HashMaps —
  // build cost is |Σpatterns|, paid once per JVM, not per row.
  @transient private lazy val (children, fail, out) = {
    val ch = ArrayBuffer(new java.util.HashMap[Character, Integer]())
    val outSets = ArrayBuffer(ArrayBuffer.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        val nxt = ch(s).get(c)
        if (nxt == null) {
          ch += new java.util.HashMap[Character, Integer]()
          outSets += ArrayBuffer.empty[Int]
          ch(s).put(c, ch.length - 1)
          s = ch.length - 1
        } else s = nxt.intValue()
        i += 1
      }
      outSets(s) += pi
    }
    val f = new Array[Int](ch.length)
    val queue = new java.util.ArrayDeque[Integer]()
    ch(0).forEach((_, v) => { f(v.intValue()) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      ch(u).forEach { (c, v) =>
        val vi = v.intValue()
        var t = f(u)
        while (t != 0 && ch(t).get(c) == null) t = f(t)
        val tv = ch(t).get(c)
        f(vi) = if (tv != null && tv.intValue() != vi) tv.intValue() else 0
        outSets(vi) ++= outSets(f(vi))
        queue.add(vi)
      }
    }
    (ch.toArray, f, outSets.map(_.distinct.sorted.toArray).toArray)
  }

  private val patternUtf8: Array[UTF8String] =
    patterns.map(UTF8String.fromString)

  /** Distinct matched phrases, in blocklist order — the generated
    * code's entry point.
    */
  def hits(text: UTF8String): GenericArrayData = {
    val t = text.toString
    val seen = new Array[Boolean](patterns.length)
    var nSeen = 0
    var s = 0
    var i = 0
    while (i < t.length && nSeen < patterns.length) {
      val c = t.charAt(i)
      while (s != 0 && children(s).get(c) == null) s = fail(s)
      val nxt = children(s).get(c)
      s = if (nxt != null) nxt.intValue() else 0
      val o = out(s)
      var j = 0
      while (j < o.length) {
        if (!seen(o(j))) { seen(o(j)) = true; nSeen += 1 }
        j += 1
      }
      i += 1
    }
    val res = new Array[AnyRef](nSeen)
    var k = 0
    var p = 0
    while (p < seen.length) {
      if (seen(p)) { res(k) = patternUtf8(p); k += 1 }
      p += 1
    }
    new GenericArrayData(res)
  }
}

/** `phrase_hits(text, array('a','b c',…))` → array of the distinct
  * blocklist phrases contained in `text`, in blocklist order. The
  * phrase argument must be foldable (a literal list — it IS the
  * automaton).
  */
case class PhraseHits(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val automaton: AhoCorasick = {
    require(right.foldable,
      "phrase_hits: the phrase list must be a literal (foldable) array")
    val arr = right.eval(null).asInstanceOf[ArrayData]
    new AhoCorasick(Array.tabulate(arr.numElements())(i =>
      arr.getUTF8String(i).toString))
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "phrase_hits"

  override def nullSafeEval(text: Any, phrases: Any): Any =
    automaton.hits(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[AhoCorasick].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.hits($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PhraseHits =
    copy(left = newLeft, right = newRight)
}

object PhraseHits {

  def column(text: Column, phrases: Seq[String]): Column =
    toColumn(PhraseHits(expression(text), expression(
      org.apache.spark.sql.functions.array(
        phrases.map(org.apache.spark.sql.functions.lit): _*))))
}
