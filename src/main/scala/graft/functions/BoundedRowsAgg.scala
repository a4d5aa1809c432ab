package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StructType}

/** Bounded row collection INSIDE an aggregate: up to `bound` non-null
  * struct values of at most `maxBytes` serialized bytes in total are kept
  * (as UnsafeRow blobs); one more row, or one byte more, and the whole
  * aggregate evaluates to NULL.
  *
  * This is the safety device that lets the streaming job's per-trigger
  * fused aggregate OPTIMISTICALLY carry the trigger's payload back to the
  * driver: the gate (previous trigger was tiny) can be wrong — a restart
  * catch-up or burst trigger can deliver millions of rows right after an
  * idle one — and a plain `collect_list` would then materialize the whole
  * burst in the aggregation buffer. Here the buffer NEVER holds more than
  * `bound` rows nor more than `maxBytes` of them (update and merge both
  * clamp and latch the overflow flag, dropping the rows already held);
  * the caller sees NULL and takes the distributed path. The memory
  * ceiling is `maxBytes` plus one row per partial buffer, independent of
  * the batch and of its row width (a row bound alone let a burst of wide
  * detector images through).
  *
  * Row order is NOT defined across partitions (same as `collect_list`);
  * callers re-sort by their ordering column.
  */
case class BoundedRowsAgg(
    child: Expression,
    bound: Int,
    maxBytes: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BoundedRowsAgg.Buf]
    with UnaryLike[Expression] {

  require(bound > 0, s"bounded_rows: bound must be positive, got $bound")
  require(maxBytes >= 0, s"bounded_rows: maxBytes must be non-negative, got $maxBytes")

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean  = true

  @transient private lazy val proj =
    UnsafeProjection.create(child.dataType.asInstanceOf[StructType])

  override def createAggregationBuffer(): BoundedRowsAgg.Buf =
    new BoundedRowsAgg.Buf(new java.util.ArrayList[Array[Byte]](), 0L, false)

  override def update(buf: BoundedRowsAgg.Buf, input: InternalRow): BoundedRowsAgg.Buf = {
    if (buf.overflow) return buf
    val v = child.eval(input)
    if (v == null) return buf
    if (buf.rows.size >= bound) buf.latch()
    else {
      val b = proj(v.asInstanceOf[InternalRow]).copy().getBytes
      if (buf.bytes + b.length > maxBytes) buf.latch()
      else { buf.rows.add(b); buf.bytes += b.length }
    }
    buf
  }

  override def merge(buf: BoundedRowsAgg.Buf, other: BoundedRowsAgg.Buf): BoundedRowsAgg.Buf = {
    if (buf.overflow || other.overflow || buf.rows.size + other.rows.size > bound ||
      buf.bytes + other.bytes > maxBytes) buf.latch()
    else { buf.rows.addAll(other.rows); buf.bytes += other.bytes }
    buf
  }

  override def eval(buf: BoundedRowsAgg.Buf): Any =
    if (buf.overflow) null
    else new GenericArrayData(buf.rows.toArray.asInstanceOf[Array[Any]])

  override def serialize(buf: BoundedRowsAgg.Buf): Array[Byte] = {
    var len = 1 + 4
    val it0 = buf.rows.iterator()
    while (it0.hasNext) len += 4 + it0.next().length
    val bb = ByteBuffer.allocate(len)
    bb.put(if (buf.overflow) 1.toByte else 0.toByte)
    bb.putInt(buf.rows.size)
    val it = buf.rows.iterator()
    while (it.hasNext) { val b = it.next(); bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedRowsAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val overflow = bb.get() == 1.toByte
    val n = bb.getInt
    val rows = new java.util.ArrayList[Array[Byte]](n)
    var held = 0L
    var i = 0
    while (i < n) {
      val b = new Array[Byte](bb.getInt)
      bb.get(b); rows.add(b); held += b.length; i += 1
    }
    new BoundedRowsAgg.Buf(rows, held, overflow)
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedRowsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedRowsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BoundedRowsAgg =
    copy(child = c)
  override def prettyName: String = "bounded_rows"
}

object BoundedRowsAgg {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  /** Mutable aggregation state: the collected blobs, their total size and
    * the overflow latch.
    */
  final class Buf(
      val rows: java.util.ArrayList[Array[Byte]],
      var bytes: Long,
      var overflow: Boolean) {
    def latch(): Unit = { overflow = true; rows.clear(); bytes = 0L }
  }

  /** Column API: array<binary> of the ≤ `bound` serialized rows of the
    * struct column, or NULL once a (bound+1)-th non-null value is seen or
    * the rows held would exceed `maxBytes` serialized bytes.
    */
  def bounded_rows(c: Column, bound: Int, maxBytes: Long = Long.MaxValue): Column =
    column(BoundedRowsAgg(expression(c), bound, maxBytes).toAggregateExpression())

  /** Driver-side decode of the collected blobs back to external Rows of
    * `schema` (the struct type handed to [[bounded_rows]]).
    */
  def decode(blobs: scala.collection.Seq[Array[Byte]], schema: StructType): Seq[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    blobs.toSeq.map { b =>
      val ur = new UnsafeRow(schema.length)
      ur.pointTo(b, b.length)
      conv(ur).asInstanceOf[Row]
    }
  }
}
