package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/** TOP-K PER KEY as a first-class operator — custom LogicalPlan +
  * SparkStrategy + SparkPlan (the whole-operator extension point,
  * SURVEY.md §7.3c).
  *
  * The built-in way to take the k best rows per key is
  * `row_number().over(Window.partitionBy(key).orderBy(ord)) <= k`,
  * which SORTS every key group in full: O(n log n) comparisons over
  * the entire dataset and a WindowExec that buffers each partition.
  * This operator keeps a bounded heap per key instead —
  * O(n log k) with k-row state per key, no sort buffer — the same
  * reason `TakeOrderedAndProject` beats global sort+limit, applied
  * per key. At 100 TB with heavy keys (billions of rows, k=10) the
  * window plan's per-group sort is the bottleneck; the heap scan is
  * one pass.
  *
  * Semantics: rows are ranked per key by `order` (ties broken only
  * by the given SortOrders — pass a unique tie-break for
  * deterministic output, same contract as the window form); the
  * first k in that order are emitted, best-first within each key.
  * Requires a clustered shuffle on `keys` (EnsureRequirements
  * inserts it), exactly like the window plan's exchange — but no
  * sort follows the exchange.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k >= 1, "k must be >= 1")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

/** Plans [[TopKPerKey]] to [[TopKPerKeyExec]]. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ks = keys
    val ord = order
    val kk = k
    child.execute().mapPartitions({ iter =>
      // bind per partition: projections/orderings aren't serializable
      val keyProj = UnsafeProjection.create(ks, childOutput)
      val rowOrd = RowOrdering.create(ord, childOutput)
      implicit val heapOrd: Ordering[InternalRow] =
        (a: InternalRow, b: InternalRow) => rowOrd.compare(a, b)
      // PriorityQueue dequeues the LARGEST under heapOrd; with
      // compare<0 meaning "ranks earlier", the head is the WORST
      // kept row — O(log k) eviction.
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next().asInstanceOf[UnsafeRow]
        val key = keyProj(row)
        heaps.get(key) match {
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow]
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
          case Some(h) =>
            if (h.size < kk) h.enqueue(row.copy())
            else if (rowOrd.compare(row, h.head) < 0) {
              h.dequeue(); h.enqueue(row.copy())
            }
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

/** Column-API entry point. */
object TopK {

  /** Top `k` rows per key group, ranked by `orderBy` (include a
    * unique tie-break column for deterministic results). Installs
    * [[TopKPerKeyStrategy]] through `GraftExtensions.install`
    * (idempotent).
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column],
             k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    // Let the analyzer resolve the sort expressions: build a throwaway
    // sortWithinPartitions plan and lift its fully-resolved catalyst
    // SortOrders + child (Column carries a lazy node that only the
    // built-in operators convert; a custom node must be constructed
    // from resolved expressions).
    val sorted = df.sortWithinPartitions(orderBy: _*)
      .queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]
    val child = sorted.child
    val resolver = spark.sessionState.conf.resolver
    val keys = keyCols.map { n =>
      child.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"TopK.perKey: key column '$n' not in ${child.output.map(_.name).mkString(", ")}"))
    }
    Bridge.ofRows(spark, TopKPerKey(keys, sorted.order, k, child))
  }
}
