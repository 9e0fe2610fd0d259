package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run it through `perfbench/run.py`, which
  * builds the classpath):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one detail line (`{"perfbench": ...}`), then, as the last
  * line, `{"correct", "attempted", "failed", "metrics"}`. Exits non-zero
  * without that line if the run could not complete.
  */
object Main {

  val Workloads: ListMap[String, Ctx => Outcome] = ListMap(
    "serve_search" -> (c => Serve.run(c, nDocs = 5000, graphEvery = 0, logged = false)),
    "serve_mixed_logged" -> (c => Serve.run(c, nDocs = 600, graphEvery = 4, logged = true)),
    "ingest" -> (c => IngestBench.run(c)),
    "analytics" -> (c => Analytics.run(c)))

  def main(args: Array[String]): Unit = {
    // Exit explicitly either way: a server pool or Spark thread left by a
    // failed run must not keep the JVM alive.
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val workloadRun = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload' (one of ${Workloads.keys.mkString(", ")})"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val dir = work.resolve(s"$workload-$seed-${if (trace) "traced" else "timed"}")
    Run.deleteRecursively(dir)
    Files.createDirectories(dir)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, seed, seconds, trace, dir)
    val outcome =
      try workloadRun(ctx)
      finally spark.stop()

    val metrics = outcome.metrics.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "fail_ratio" -> outcome.failed.toDouble / math.max(outcome.attempted, 1L),
      "problems" -> outcome.problems.take(20),
      "metrics" -> metrics
    ) ++ outcome.detail ++ ListMap("phases_s" -> ctx.phases)
    val runs = work.resolve("runs")
    Files.createDirectories(runs)
    val stem = s"$workload-seed$seed-${if (trace) "traced" else "timed"}"
    if (Files.exists(dir.resolve("spans.jsonl")))
      Files.move(dir.resolve("spans.jsonl"), runs.resolve(s"$stem.spans.jsonl"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(runs.resolve(s"$stem.json"), Json.write(record) + "\n")
    Run.deleteRecursively(dir)

    println(Json.write(ListMap("perfbench" -> record)))
    println(Json.write(ListMap(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics)))
  }
}
