package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared selection pass for the Misra–Gries family: the (k+1)-th
  * largest counter value, WITHOUT sorting the whole table — the shrink
  * rule runs once per saturated update row, so an O(k log k) sort there
  * would put a sort in the per-row hot path of a 100 TB vocabulary
  * scan. The saturated-update case (exactly k+1 counters) is a single
  * min pass; the merge case (up to 2k counters) falls back to
  * median-of-three quickselect, expected O(k).
  */
private[functions] object MgSelect {

  /** Value such that subtracting it leaves at most k positive counters
    * — the (k+1)-th largest of `vals` (callers guarantee
    * `vals.length > k`). Mutates `vals` (scratch copy expected).
    */
  def kPlus1thLargest(vals: Array[Long], k: Int): Long = {
    if (vals.length == k + 1) {
      // the saturated-update hot path: (k+1)-th largest of k+1 = min
      var m = vals(0); var i = 1
      while (i < vals.length) { if (vals(i) < m) m = vals(i); i += 1 }
      m
    } else quickselect(vals, 0, vals.length - 1, k)
  }

  /** In-place quickselect for the element that would land at
    * DESCENDING rank `target` (0-based); expected O(n), median-of-3
    * pivot so runs of equal/ordered counts stay linear.
    */
  @annotation.tailrec
  private def quickselect(a: Array[Long], lo: Int, hi: Int,
                          target: Int): Long = {
    if (lo == hi) a(lo)
    else {
      val mid = lo + (hi - lo) / 2
      // median-of-three pivot, descending order
      if (a(mid) > a(lo)) swap(a, lo, mid)
      if (a(hi) > a(lo)) swap(a, lo, hi)
      if (a(hi) > a(mid)) swap(a, mid, hi)
      val pivot = a(mid)
      swap(a, mid, hi)
      var store = lo
      var i = lo
      while (i < hi) {
        if (a(i) > pivot) { swap(a, i, store); store += 1 }
        i += 1
      }
      swap(a, store, hi)
      if (target == store) a(store)
      else if (target < store) quickselect(a, lo, store - 1, target)
      else quickselect(a, store + 1, hi, target)
    }
  }

  private def swap(a: Array[Long], i: Int, j: Int): Unit = {
    val t = a(i); a(i) = a(j); a(j) = t
  }

  /** Snapshot of the counter values as a scratch array. */
  def values(buf: java.util.HashMap[String, Long]): Array[Long] = {
    val out = new Array[Long](buf.size)
    val it = buf.values().iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

/** Misra–Gries heavy-hitters sketch as a `TypedImperativeAggregate`:
  * the frequent-items counterpart of [[KmvDistinct]] in the engine's
  * custom-aggregate tier.
  *
  * Buffer = at most `k` (item, count) counters. Update is the classic
  * decrement rule (an unmatched item with a full table decrements every
  * counter); merge is the mergeable-summaries rule (Agarwal et al.,
  * PODS'12): add counts pointwise, then subtract the (k+1)-th largest
  * count and drop non-positives. State is O(k) regardless of input
  * size and map-side combinable, so finding the frequent terms of a
  * 100 TB corpus moves k counters per partition instead of shuffling
  * every distinct term the way an exact groupBy must (the exact query
  * stays the oracle-checkable semantics at test scale —
  * `text_heavy_hitters`).
  *
  * Guarantee: every item with true frequency > N/(k+1) is present, and
  * each reported count c' satisfies true − N/(k+1) ≤ c' ≤ true.
  */
case class MisraGries(child: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  require(k >= 1, s"k >= 1 required, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(
      s"misra_gries expects a string column, got ${child.dataType}")

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(key)
      if (buf.containsKey(key)) buf.put(key, cur + 1L)
      else if (buf.size < k) buf.put(key, 1L)
      else decrementAll(buf, 1L)
    }
    buf
  }

  /** Subtract `d` from every counter, dropping non-positives. */
  private def decrementAll(buf: java.util.HashMap[String, Long],
                           d: Long): Unit = {
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val left = e.getValue - d
      if (left > 0) e.setValue(left) else it.remove()
    }
  }

  override def merge(buf: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.merge(e.getKey, e.getValue, (a, b) => a + b)
    }
    if (buf.size > k) {
      // (k+1)-th largest count = the amount to subtract so at most k
      // counters stay positive (mergeable-summaries rule); selection
      // pass, not a sort — merge of two k-summaries is ≤ 2k values
      decrementAll(buf, MgSelect.kPlus1thLargest(MgSelect.values(buf), k))
    }
    buf
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val entries = new java.util.ArrayList(buf.entrySet())
    entries.sort { (a: java.util.Map.Entry[String, Long],
                    b: java.util.Map.Entry[String, Long]) =>
      val byCount = java.lang.Long.compare(b.getValue, a.getValue)
      if (byCount != 0) byCount else a.getKey.compareTo(b.getKey)
    }
    val rows = new Array[Any](entries.size())
    var i = 0
    while (i < rows.length) {
      val e = entries.get(i)
      rows(i) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "misra_gries"

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGries {

  def column(c: Column, k: Int): Column =
    toColumn(MisraGries(expression(c), k).toAggregateExpression())
}

/** ClickHouse `topKWeighted(k)(item, w)`'s sketch: WEIGHTED
  * Misra–Gries. Every update and merge goes through one rule — fold
  * the incoming (item, weight) or summary into the counter table,
  * then, past `k` counters, subtract the (k+1)-th largest count and
  * drop non-positives (the mergeable-summaries rule; a single exact
  * entry IS a valid one-row summary, so update and merge are the same
  * operation and sketch(all) ≡ merge(sketch(parts)) by construction).
  *
  * Guarantee (the unweighted bound with N → total weight W): every
  * item with true weight > W/(k+1) is present, and each reported
  * count c' satisfies true − W/(k+1) ≤ c' ≤ true. State is O(k),
  * map-side combinable — the 100 TB weighted-vocabulary pass moves k
  * counters per partition; the exact groupBy twin
  * (`agg_topk_weighted`) stays the oracle semantics at test scale.
  *
  * Weights must be non-negative; negative weights would break the
  * one-sided error bound (loud failure, not a silent wrong sketch).
  */
case class MisraGriesWeighted(child: Expression, weight: Expression, k: Int,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  require(k >= 1, s"k >= 1 required, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckFailure(
      s"misra_gries_w expects a string item column, got ${child.dataType}")
    else if (weight.dataType != LongType) TypeCheckFailure(
      s"misra_gries_w expects a BIGINT weight column, got ${weight.dataType}")
    else TypeCheckSuccess

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  /** Past k counters: subtract the (k+1)-th largest, drop ≤ 0. This
    * runs on EVERY update row once saturated, so the selection is a
    * single O(k) pass ([[MgSelect]] — the saturated case is a min
    * scan), never a sort.
    */
  private def shrink(buf: java.util.HashMap[String, Long]): Unit =
    if (buf.size > k) {
      val d = MgSelect.kPlus1thLargest(MgSelect.values(buf), k)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val left = e.getValue - d
        if (left > 0) e.setValue(left) else it.remove()
      }
    }

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val wl = w.asInstanceOf[Long]
      if (wl < 0)
        throw new IllegalArgumentException(
          s"misra_gries_w: negative weight $wl breaks the error bound")
      if (wl > 0) {
        buf.merge(v.asInstanceOf[UTF8String].toString, wl, (a, b) => a + b)
        shrink(buf)
      }
    }
    buf
  }

  override def merge(buf: java.util.HashMap[String, Long],
                     other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.merge(e.getKey, e.getValue, (a, b) => a + b)
    }
    shrink(buf)
    buf
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val entries = new java.util.ArrayList(buf.entrySet())
    entries.sort { (a: java.util.Map.Entry[String, Long],
                    b: java.util.Map.Entry[String, Long]) =>
      val byCount = java.lang.Long.compare(b.getValue, a.getValue)
      if (byCount != 0) byCount else a.getKey.compareTo(b.getKey)
    }
    val rows = new Array[Any](entries.size())
    var i = 0
    while (i < rows.length) {
      val e = entries.get(i)
      rows(i) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, weight)
  override def prettyName: String = "misra_gries_w"

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesWeighted =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesWeighted =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head, weight = newChildren(1))
}

object MisraGriesWeighted {

  def column(c: Column, w: Column, k: Int): Column =
    toColumn(MisraGriesWeighted(expression(c), expression(w), k)
      .toAggregateExpression())
}
