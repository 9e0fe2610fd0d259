package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Single-expression SimHash aggregate: given one 64-bit token hash
  * per input row, produces the `bits`-wide SimHash of the group —
  * bit b of the result is set iff the sum over rows of
  * (+1 if hash bit b set, else −1) is positive.
  *
  * Semantically identical to the composed form
  * `agg(sum(when(shiftright(th,b)&1===1,1).otherwise(-1)) for b <- 0..bits)`
  * followed by the sign-fold — but as ONE aggregate with a long[bits]
  * buffer instead of `bits` separate aggregate expressions. The wide
  * form generates a hash-agg update method with 32 branches × 32
  * columns (a codegen giant that measurably destabilized the
  * benchmark: 2s–60s run-to-run for identical input); this form is a
  * tight imperative loop with constant-width state, partial
  * aggregation (map-side combine) and an order-independent integer
  * merge, so results are deterministic under any partitioning.
  */
case class SimHashAgg(
    child: Expression,
    bits: Int = 32,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val h = v.asInstanceOf[Long]
    var b = 0
    while (b < bits) {
      buf(b) += (((h >>> b) & 1L) * 2L) - 1L // +1 if bit set, else -1
      b += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bits) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var out = 0L
    var b = 0
    while (b < bits) {
      if (buf(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): SimHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object SimHashAgg {
  import org.apache.spark.sql.graft.Bridge

  def simhash(c: Column, bits: Int = 32): Column =
    Bridge.column(SimHashAgg(Bridge.expression(c), bits).toAggregateExpression())
}
