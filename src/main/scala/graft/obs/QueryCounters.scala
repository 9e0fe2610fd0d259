package graft.obs

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters for a measured block of work: jobs, stages, tasks,
  * executor run ms and shuffle-write bytes from the listener bus, and
  * Catalyst planning ms and Exchange operators from every query
  * execution that finished. The keys are perfbench's `Tracer` names.
  *
  * Counting is always on while installed; `reset()` and `read()` both
  * drain the listener bus first, so the caller brackets the measured
  * work with them, outside any timed region. */
final class QueryCounters private (spark: SparkSession) {
  private val counts = scala.collection.mutable.Map.empty[String, Long]

  private def add(kv: (String, Long)*): Unit = synchronized {
    kv.foreach { case (k, v) => counts(k) = counts.getOrElse(k, 0L) + v }
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs" -> 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages" -> 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => add("tasks" -> 1,
        "executor_run_ms" -> m.executorRunTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten))
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum,
        "exchanges" -> QueryCounters.exchanges(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Zero every counter, after the events of earlier work are in. */
  def reset(): Unit = {
    Bridge.drainListenerBus(spark)
    synchronized(counts.clear())
  }

  /** The counts since the last `reset()`, once every event is in. */
  def read(): ListMap[String, Long] = {
    Bridge.drainListenerBus(spark)
    synchronized(ListMap(QueryCounters.Keys.map(k => k -> counts.getOrElse(k, 0L)): _*))
  }

  /** Stop counting. */
  def close(): Unit = {
    Bridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
  }
}

object QueryCounters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "executor_run_ms",
    "shuffle_write_bytes", "planning_ms", "exchanges")

  /** Start counting on `spark`; `close()` stops. */
  def install(spark: SparkSession): QueryCounters = {
    val c = new QueryCounters(spark)
    spark.sparkContext.addSparkListener(c.jobs)
    spark.listenerManager.register(c.executions)
    c
  }

  /** Exchange operators in an executed plan, looking through adaptive
    * query stages and subqueries. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
