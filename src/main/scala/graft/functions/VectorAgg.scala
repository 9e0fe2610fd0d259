package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Single-pass element-wise vector sum aggregate.
  *
  * The oracle-parity IVF query (v5) computes centroids by exploding
  * every vector into (dim, value) rows — n×d rows through a shuffle.
  * This aggregate keeps the whole vector as one aggregation buffer:
  * partial sums combine map-side, the shuffle carries one d-length
  * array per (group × partition) instead of n×d rows. At 100 TB
  * (billions of vectors) that is the difference between a shuffle of
  * the dataset and a shuffle of #groups × #partitions rows.
  *
  * Buffer is a mutable Array[Double]; serialized as packed doubles.
  * Accumulation order follows partition order, so exact bitwise
  * output is partitioning-dependent (like any float sum) — use the
  * decimal-explode path when oracle-exact results are required, this
  * one when throughput matters.
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buf: Array[Double], input: org.apache.spark.sql.catalyst.InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val acc = if (buf.length == 0) new Array[Double](n) else buf
    var i = 0
    val m = math.min(n, acc.length)
    while (i < m) {
      acc(i) += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
      i += 1
    }
    acc
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    var i = 0
    val m = math.min(a.length, b.length)
    while (i < m) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object VectorAgg {
  import org.apache.spark.sql.graft.Bridge

  def vectorSum(c: Column): Column =
    Bridge.column(VectorSumAgg(Bridge.expression(c)).toAggregateExpression())
  // Element-wise mean: aggregate vectorSum + count(…), then divide
  // outside the aggregation: transform($"vs", _ / $"n").
}
