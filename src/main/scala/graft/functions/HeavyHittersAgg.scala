package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a mergeable aggregate: keeps
  * at most `k` (term, weight) counters; returns the surviving
  * CANDIDATE terms as `array<string>`.
  *
  * Guarantee (Misra–Gries; mergeable per Agarwal et al., "Mergeable
  * Summaries", PODS'12): after any sequence of updates and merges
  * totalling n rows, every term with true frequency > n/(k+1) is
  * present in the summary. The candidate set may contain false
  * positives and its weights are underestimates — so the intended use
  * is the classic TWO-PASS exact heavy hitters: sketch pass (this
  * aggregate, constant k-sized state per partial buffer, map-side
  * combine, k-sized shuffle rows) → exact recount of the ≤ k
  * candidates only (a broadcast semi-join + count, never a full
  * groupBy of the raw term stream) → threshold on exact counts.
  * The final answer is EXACT; the sketch only bounds which terms can
  * possibly qualify. That makes the operator oracle-checkable even
  * though the intermediate summary is partition-order dependent.
  *
  * Update is amortized O(1): the decrement-all step pays one unit per
  * previously-admitted unit. Merge sums counters then subtracts the
  * (k+1)-th largest weight from all (the merge rule that preserves
  * the error bound), keeping only positive ones.
  */
case class HeavyHittersAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1, "graft_heavy_hitters: k must be >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val term = v.asInstanceOf[UTF8String].toString
    buf.get(term) match {
      case Some(c) => buf.update(term, c + 1)
      case None if buf.size < k => buf.update(term, 1L)
      case None =>
        // MG step: admit by decrementing every counter; drop zeros.
        val dead = mutable.ArrayBuffer.empty[String]
        for ((t, c) <- buf) {
          if (c == 1L) dead += t else buf.update(t, c - 1)
        }
        dead.foreach(buf.remove)
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    for ((t, c) <- b) a.update(t, a.getOrElse(t, 0L) + c)
    if (a.size > k) {
      // subtract the (k+1)-th largest weight from every counter
      val weights = a.values.toArray
      java.util.Arrays.sort(weights)
      val cut = weights(weights.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      for ((t, c) <- a) {
        if (c - cut <= 0L) dead += t else a.update(t, c - cut)
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic candidate order (weights are partition-dependent,
    // names are not)
    val terms = buf.keys.toArray.sorted
    new GenericArrayData(terms.map(UTF8String.fromString(_): Any))
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    for ((t, c) <- buf) {
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object HeavyHittersAgg {
  import org.apache.spark.sql.graft.Bridge

  def heavyHitters(c: Column, k: Int): Column =
    Bridge.column(HeavyHittersAgg(Bridge.expression(c), k).toAggregateExpression())
}
