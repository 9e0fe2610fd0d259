package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one workload run produced: operations attempted and failed
  * (each failed output check counts once), the problems found, the
  * reported metrics, and a free-form detail record kept with the run. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
                         metrics: ListMap[String, Metric],
                         detail: ListMap[String, Any])

/** The run's arguments and its scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, dir: Path) {
  def path(name: String): String = dir.resolve(name).toString

  private val t0 = System.nanoTime()
  private val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** Note that a phase of the run ended (kept in the run record). */
  def mark(phase: String): Unit = marks += (phase -> (System.nanoTime() - t0) / 1e9)

  def phases: ListMap[String, Double] = ListMap(marks.toSeq: _*)
}

/** Metric names, shared by every workload (BENCHMARK.json lists the
  * same names; RunSpec checks that they agree). */
object Metrics {
  val EndToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "retained_heap_mb" -> "MB")

  /** Per-layer metrics of a traced run, reported by every workload.
    * The engine totals are measured on each; the layer counts are exact
    * and read 0 on a workload that does not reach the layer. Layer
    * times (server, agent, tools, sources, ingest stages, queries) and
    * the tracing overhead are in the run record under `layers`: each is
    * measured on one listed workload only and would read a constant 0
    * on the other. */
  val PerLayer: ListMap[String, String] = ListMap(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.cached_mb" -> "MB",
    "jvm.gc_ms" -> "ms",
    "agent.spark_jobs_plain" -> "count",
    "agent.spark_jobs_graph" -> "count",
    "agent.stages_plain" -> "count",
    "agent.stages_graph" -> "count",
    "tools.search_papers_jobs" -> "count",
    "tools.search_papers_rows_per_hit" -> "ratio",
    "tools.summarize_jobs" -> "count",
    "tools.search_kg_jobs" -> "count",
    "tools.search_kg_edges_read" -> "count",
    "tools.search_kg_shuffle_bytes" -> "bytes",
    "sources.append_jobs" -> "count",
    "sources.files_per_append" -> "count",
    "sources.bytes_per_row" -> "bytes",
    "ingest.jobs" -> "count",
    "ingest.papers_rows" -> "count",
    "ingest.chunks_rows" -> "count",
    "ingest.entity_map_rows" -> "count",
    "ingest.nodes_rows" -> "count",
    "ingest.edges_rows" -> "count",
    "ingest.edges_shuffle_bytes" -> "bytes",
    "ingest.spill_bytes" -> "bytes",
    "queries.jobs" -> "count",
    "queries.exchanges" -> "count",
    "queries.shuffle_bytes" -> "bytes")
}

/** Measurement helpers shared by the workloads. */
object Run {

  /** How many times each run repeats its set-up; `setup_s` is the
    * median. */
  val SetupRepeats = 3

  /** Measured passes of a batch workload: one per 10 s of `seconds`
    * (a pass takes about that long), at least one. A fixed count, so
    * every run of a workload makes the same number of passes. */
  def passes(seconds: Int): Int = math.max(1, seconds / 10)

  /** Fixed CPU-bound work (integer mixing, no allocation, no I/O):
    * its time moves only if the host's CPU share moved. */
  def probeOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) s + 1e-9 else s // keeps the loop live
  }

  /** Min of two probes, in seconds. */
  def probe(): Double = math.min(probeOnce(), probeOnce())

  /** Heap in use after a full collection, in MB: the least of three
    * collections, so garbage that a background thread still held at
    * one of them does not count. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Total JVM garbage-collection time so far, in ms. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** MB of cached blocks in the block manager. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  /** The contention record: probe before and after the measured phase.
    * `contended` flags a run whose probe slowed by more than 1.5x. */
  def contention(before: Double, after: Double): ListMap[String, Any] = ListMap(
    "probe_before_s" -> before, "probe_after_s" -> after,
    "probe_drift" -> after / math.max(before, 1e-9),
    "contended" -> (after > 1.5 * before))

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes under a directory (0 if it does not exist). */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Files under a directory (0 if it does not exist). */
  def filesIn(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count()
      finally s.close()
    }

  /** End-to-end metrics in the shared order. */
  def endToEnd(setupS: Double, p50Ms: Double, p90Ms: Double, perS: Double,
               heapMb: Double): ListMap[String, Metric] = {
    val v = Seq(setupS, p50Ms, p90Ms, perS, heapMb)
    ListMap(Metrics.EndToEnd.toSeq.zip(v).map { case ((k, u), x) => k -> Metric(x, u) }: _*)
  }

  /** Per-layer metrics in the shared order (names a workload did not
    * measure report 0), and the other measured values, sorted by name,
    * for the run record. */
  def perLayer(values: Map[String, Double]): (ListMap[String, Metric], ListMap[String, Double]) = (
    ListMap(Metrics.PerLayer.toSeq.map { case (k, u) =>
      k -> Metric(values.getOrElse(k, 0.0), u) }: _*),
    ListMap(values.toSeq.filterNot(kv => Metrics.PerLayer.contains(kv._1)).sortBy(_._1): _*))

  /** Spark engine totals over a traced pass (its root span). */
  def engine(root: Span, gcMs: Double, cachedMb: Double): Map[String, Double] = Map(
    "spark.jobs" -> root("jobs"),
    "spark.stages" -> root("stages"),
    "spark.tasks" -> root("tasks"),
    "spark.executor_run_ms" -> root("executor_run_ms"),
    "spark.executor_cpu_ms" -> root("executor_cpu_ms"),
    "spark.planning_ms" -> root("planning_ms"),
    "spark.shuffle_read_bytes" -> root("shuffle_read_bytes"),
    "spark.shuffle_write_bytes" -> root("shuffle_write_bytes"),
    "spark.cached_mb" -> cachedMb,
    "jvm.gc_ms" -> gcMs)
}
