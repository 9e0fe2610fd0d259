package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType
import graft.plans.GlobalIndexPlan

/** Scale-safe dense global row index (0-based) in the total order of
  * the given key columns — the replacement for the single-reducer
  * `row_number().over(Window.orderBy(...))` anti-pattern.
  *
  * Implemented by the custom [[graft.plans.GlobalIndexPlan]] operator
  * (LogicalPlan + Strategy + SparkPlan): the physical node declares
  * an ordered distribution, so the planner inserts the range shuffle
  * + per-partition sorts, and the numbering runs over `InternalRow`
  * in Tungsten format (no `df.rdd` hop, no `Scan ExistingRDD`
  * re-entry). See the plan node's scaladoc for the two-job scheme.
  *
  * No global shuffle to one reducer anywhere: the data-sized work is
  * a range shuffle + local sorts, both fully parallel. The index is
  * deterministic whatever the sampled range boundaries are, because
  * it equals the rank in the total order (callers must pass a
  * tie-free key).
  *
  * Used by the oracle-parity chunk queries (KgQ k1/k8) for the
  * reference's GLOBAL `chunk_index` audit column
  * (reference: data/ingestion.py:188's running counter).
  */
object GlobalIndex {

  /** Append `out` (LONG, 0-based) numbering `df`'s rows by `ordering`.
    * `ordering` must be a unique key of `df`.
    */
  def withGlobalIndex(df: DataFrame, ordering: Seq[Column], out: String): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    // Resolve the ordering Columns to catalyst SortOrders the same way
    // TopK.perKey does: analyze a throwaway sortWithinPartitions plan
    // and lift its resolved Sort node.
    val sorted = df.sortWithinPartitions(ordering: _*)
      .queryExecution.analyzed.asInstanceOf[Sort]
    val outAttr = AttributeReference(out, LongType, nullable = false)()
    Bridge.ofRows(spark, GlobalIndexPlan(sorted.order, outAttr, sorted.child))
  }
}
