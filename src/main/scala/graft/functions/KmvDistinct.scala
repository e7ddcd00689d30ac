package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DataType, LongType}

/** K-Minimum-Values distinct-count sketch as a custom
  * `TypedImperativeAggregate` — the aggregate-expression tier of the
  * engine's custom-function surface (the scalar tier is
  * [[CosineSimilarity]]).
  *
  * Buffer = the k smallest xxhash64 values seen; estimate =
  * (k-1) / fraction-of-hash-space-covered-by-the-kth-minimum. Fixed
  * O(k) state, mergeable across partitions (map-side combine works), so
  * a 100 TB cardinality estimate moves k longs per partition instead of
  * shuffling every distinct value. Standard error ≈ 1/√k.
  *
  * Spark's built-in approx_count_distinct (HLL++) is normally
  * preferable; KMV exists here because (a) it additionally supports set
  * operations on sketches (intersection estimates via min-merge) and
  * (b) it exercises the TypedImperativeAggregate extension point the
  * SURVEY flags for sketch work.
  */
case class KmvDistinct(child: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 16, s"k >= 16 required for a usable estimate, got $k")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      add(buf, XxHash64Function.hash(v, child.dataType, 42L))
    }
    buf
  }

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    buf.add(h)
    if (buf.size > k) buf.remove(buf.last()) // keep the k smallest
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toLong
    else {
      // kth minimum mapped from [Long.Min, Long.Max] to (0, 1]
      val kth = buf.last().longValue()
      val frac = (kth.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      math.round((k - 1) / frac)
    }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_distinct"

  override def withNewMutableAggBufferOffset(offset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvDistinct {

  def column(c: Column, k: Int): Column =
    toColumn(KmvDistinct(expression(c), k).toAggregateExpression())
}
