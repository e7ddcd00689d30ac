package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column => toColumn, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) as a
  * custom `TypedImperativeAggregate` — the point-FREQUENCY member of
  * the mergeable-sketch family ([[Hll]]/[[KmvDistinct]] answer
  * "how many distinct", [[HeavyHitters]] "which are big", this one
  * "how big is THIS one", for any key, after the fact).
  *
  * Buffer = a depth×width grid of counters; update adds 1 to one cell
  * per row (cell_j = h_j(key) mod width); point estimate = min over
  * the depth cells — NEVER an underestimate, and overestimates exceed
  * true + (e/width)·N with probability ≤ e^−depth. Fixed
  * O(depth·width) state, cell-wise-ADD merge (map-side combine works),
  * so a 100 TB frequency table moves depth·width longs per partition
  * instead of shuffling every key — and unlike Misra–Gries the sketch
  * answers for keys you did not pre-declare as heavy.
  *
  * Hashes are md5-derived (first 4 bytes of md5(key ‖ ":cm" ‖ j),
  * unsigned, mod width) — NOT xxhash — so a SQL engine can compute the
  * identical cell index from its own md5 and the whole sketch
  * (build AND probe) is oracle-checkable: `sketch_cm_accuracy`
  * hash-matches a DuckDB replica of the full grid. The probe side
  * needs no custom function — `element_at(cells, j·width + cell + 1)`
  * over this aggregate's flattened row-major output.
  */
case class CmSketch(child: Expression, depth: Int, width: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 16, s"depth in [1,16]: $depth")
  require(width >= 16, s"width >= 16 required for a usable estimate: $width")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      var j = 0
      while (j < depth) {
        buf(j * width + CmSketch.cell(key, j, width)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "cm_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): CmSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object CmSketch {

  /** Row j's cell for `key`: first 4 md5 bytes of (key ‖ ":cm" ‖ j) as
    * an unsigned 32-bit value, mod width — byte-for-byte the SQL
    * `hex8ToInt(substr(md5(key || ':cmj'), 1, 8)) % width`. md5 is not
    * thread-safe; instances are thread-local (one per task thread).
    */
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private[graft] def cell(key: String, j: Int, width: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest((key + ":cm" + j).getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % width).toInt
  }

  /** `cm_sketch(col, depth, width)`: the flattened row-major
    * depth×width grid.
    */
  def column(c: Column, depth: Int, width: Int): Column =
    toColumn(CmSketch(expression(c), depth, width).toAggregateExpression())
}
