package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, start/end (ns since the tracer started),
  * parent span id (-1 at the root), request id, and the Spark counters
  * of the jobs and query executions that ran inside it. */
final case class Span(id: Int, name: String, parent: Int, req: String, start: Long) {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** The repo's own plan nodes and expressions in the executed plans. */
  val operators: mutable.SortedSet[String] = mutable.SortedSet.empty
  /** Wall-clock (epoch ms) intervals of the Spark jobs run inside. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  private[perfbench] var startMs, endMs = 0L
  def ms: Double = (end - start) / 1e6
  def apply(key: String): Double = counters.getOrElse(key, 0.0)

  /** Time inside the span with no Spark job running: driver-side work
    * such as planning, orchestration and result handling (ms). */
  def driverMs: Double = {
    val merged = jobIntervals.map { case (a, b) => (a max startMs, b min endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, b0 max b) :: rest
        case (acc, iv) => iv :: acc
      }
    math.max(0.0, (endMs - startMs) - merged.map { case (a, b) => b - a }.sum)
  }
}

/** Span recorder for the traced pass, plus the Spark listeners that
  * attribute engine work to spans.
  *
  * A traced pass is sequential: one call in flight. The listener bus is
  * drained at every span boundary, so each job, task and query execution
  * is credited to the spans that were open while it ran (the innermost
  * span and all its ancestors). Spans are kept in memory and written
  * out at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String, req: String = "")(body: => T): T = {
    Bus.drain(sc)
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), req,
        System.nanoTime() - origin)
      s.startMs = System.currentTimeMillis()
      spans += s
      open = s :: open
      s
    }
    try body
    finally {
      Bus.drain(sc)
      synchronized {
        s.end = System.nanoTime() - origin
        s.endMs = System.currentTimeMillis()
        open = open.filterNot(_ eq s)
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  private def add(kv: (String, Double)*): Unit = synchronized {
    open.foreach(s => kv.foreach { case (k, v) => s.counters(k) = s(k) + v })
  }

  private val jobStarts = mutable.Map.empty[Int, Long]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Tracer.this.synchronized(jobStarts(e.jobId) = e.time)
      add("jobs" -> 1, "stages_planned" -> e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(t0 => open.foreach(_.jobIntervals += (t0 -> e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages" -> 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(
        "tasks" -> 1,
        "executor_run_ms" -> m.executorRunTime.toDouble,
        "executor_cpu_ms" -> m.executorCpuTime / 1e6,
        "task_gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "input_records" -> m.inputMetrics.recordsRead.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble)
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("executions" -> 1,
        "planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
        "exchanges" -> Tracer.exchanges(qe.executedPlan),
        "scan_rows" -> Tracer.scanRows(qe.executedPlan))
      val ops = Tracer.repoOperators(qe.executedPlan)
      Tracer.this.synchronized(open.foreach(_.operators ++= ops))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("executions_failed" -> 1)
  }

  def install(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(executions)
  }

  def uninstall(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
  }

  /** Spans as JSON lines: name, start, end, parent, request id and the
    * counters of each. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.write(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "req" -> s.req, "driver_ms" -> s.driverMs,
        "counters" -> s.counters, "operators" -> s.operators.toSeq))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Exchange operators in an executed plan, looking through adaptive
    * query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** Names of the plan nodes and expressions defined in the `graft`
    * packages, looking through adaptive query stages and subqueries. */
  def repoOperators(p: SparkPlan): Set[String] = {
    def own(x: AnyRef) = x.getClass.getName.startsWith("graft.")
    val here = (if (own(p)) Set(p.nodeName) else Set.empty[String]) ++
      p.expressions.flatMap(_.collect { case e if own(e) => e.getClass.getSimpleName })
    p match {
      case a: AdaptiveSparkPlanExec => repoOperators(a.executedPlan)
      case s: QueryStageExec => repoOperators(s.plan)
      case other => here ++ (other.children ++ other.subqueries).flatMap(repoOperators)
    }
  }

  /** Rows produced by the leaves of an executed plan (table, file and
    * cache scans), looking through adaptive query stages. */
  def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case s: QueryStageExec => scanRows(s.plan)
    case leaf if leaf.children.isEmpty =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }

  /** A traced pass compared with untraced ones of the same work. */
  final case class Abba[T](tracer: Tracer, result: T, gcMs: Double,
                           untracedS: Seq[Double], tracedS: Seq[Double]) {
    def overheadPct: Double = (tracedS.sum / untracedS.sum - 1) * 100
  }

  /** Run `pass` four times in the order untraced, traced, traced,
    * untraced, so a drift across the passes (the JIT still warming)
    * weighs on both sides alike. Each traced pass has a fresh tracer
    * and one root span `root`; the second traced pass is returned. */
  def abba[T](spark: SparkSession, root: String)(pass: Option[Tracer] => T): Abba[T] = {
    def untraced() = seconds(pass(None))._2
    def traced() = {
      val t = new Tracer(spark)
      t.install()
      val gc0 = Run.gcMs()
      val (r, s) = seconds(t.span(root)(pass(Some(t))))
      val gcMs = Run.gcMs() - gc0
      t.uninstall()
      (t, r, gcMs, s)
    }
    val u1 = untraced()
    val (_, _, _, t1) = traced()
    val (t, r, gcMs, t2) = traced()
    val u2 = untraced()
    Abba(t, r, gcMs, Seq(u1, u2), Seq(t1, t2))
  }

  /** Time a block without tracing it (seconds). */
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
