package perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap

import graft.{SparkEntry, Tables}
import graft.queries.Derived

/** A fixed, ordered subset of `SparkEntry.queries`, each fully
  * materialized (collected, as `graft.Bench` does), with the session's
  * shared `Derived` tables dropped before every pass so each pass pays
  * its derivations. None of these queries commits cross-run tables.
  *
  * The subset reaches the index operators in `graft.ops` and the
  * `TopKPerKey` plan node they rank with: `Ivf`, `KMeans` and `Nsw`
  * (v30), `DedupCluster` (d10), and the search scan with the codegen'd
  * vector expressions (k7).
  */
object Analytics {

  val Queries = Seq("k7_search_chunks", "v30_graph_ann", "d10_dedup_canonical")

  /** sf0.01-sized inputs: a pass is dominated by its ~130 Spark jobs'
    * fixed cost, not by the data (at sf0.1 a pass took about 1.5x as
    * long), and the run budget holds a warm-up and two measured passes. */
  val Docs = 500
  val Vecs = 200

  private def writeInputs(ctx: Ctx, dir: String, seed: Long): Unit =
    Gen.writeCorpus(ctx.spark, dir, Gen.docs(seed, Docs), Gen.vecs(seed, Vecs))

  /** One pass: every query collected; (name, seconds, rows, digest). */
  private def pass(ctx: Ctx, dir: String, tracer: Option[Tracer]): Seq[(String, Double, Long, Long)] = {
    Derived.invalidate(ctx.spark)
    ctx.spark.catalog.clearCache()
    Queries.map { q =>
      val body = () => SparkEntry.queries(q)(ctx.spark, dir).collect()
      val (rows, s) = Tracer.seconds(tracer.fold(body())(_.span(s"queries.$q")(body())))
      (q, s, rows.length.toLong, rows.map(_.hashCode.toLong).sum)
    }
  }

  /** One set-up: generate and write the inputs, load them with
    * `Tables.load` and plan the first query. */
  private def setup(ctx: Ctx, dir: String): Unit = {
    writeInputs(ctx, dir, ctx.seed)
    Seq("documents", "embeddings").foreach(t => Tables.load(ctx.spark, dir, t))
    SparkEntry.queries(Queries.head)(ctx.spark, dir).queryExecution.executedPlan
  }

  def run(ctx: Ctx): Outcome = {
    val reps = if (ctx.trace) 1 else Run.SetupRepeats
    val setups = (1 to reps).map { rep =>
      val dir = ctx.path(s"in$rep")
      (dir, Tracer.seconds(setup(ctx, dir))._2)
    }
    val dir = setups.last._1
    ctx.mark("setups")
    // The warm-up is a pass over the same input: its results are what
    // every later pass must reproduce.
    val reference = pass(ctx, dir, None)
    val digestsOf = (p: Seq[(String, Double, Long, Long)]) => p.map(r => r._1 -> (r._3, r._4)).toMap
    ctx.mark("warmup")

    if (ctx.trace) {
      val run = Tracer.abba(ctx.spark, "analytics.pass")(pass(ctx, dir, _))
      val (tracer, res) = (run.tracer, run.result)
      tracer.write(Paths.get(ctx.path("spans.jsonl")))
      val root = tracer.named("analytics.pass").head
      val perQuery = ListMap(Queries.map { q =>
        val s = tracer.named(s"queries.$q").head
        q -> ListMap("s" -> s.ms / 1000, "jobs" -> s("jobs"), "exchanges" -> s("exchanges"),
          "planning_ms" -> s("planning_ms"), "shuffle_bytes" -> s("shuffle_write_bytes"),
          "rows" -> res.find(_._1 == q).map(_._3).getOrElse(0L),
          "graft_operators" -> s.operators.toSeq)
      }: _*)
      val problems = res.filter(_._3 == 0).map(r => s"${r._1}: no rows") ++
        Checks.sameDigests(digestsOf(reference), digestsOf(res))
      val spans = Queries.map(q => tracer.named(s"queries.$q").head)
      val (listed, others) = Run.perLayer(Run.engine(root, run.gcMs, Run.cachedMb(ctx.spark)) ++
        Queries.zip(spans).map { case (q, s) => s"queries.${q}_s" -> s.ms / 1000 } ++ Map(
          "queries.jobs" -> spans.map(_("jobs")).sum,
          "queries.exchanges" -> spans.map(_("exchanges")).sum,
          "queries.planning_ms" -> spans.map(_("planning_ms")).sum,
          "queries.shuffle_bytes" -> spans.map(_("shuffle_write_bytes")).sum,
          "trace.overhead_pct" -> run.overheadPct))
      Outcome(
        attempted = Queries.size,
        failed = problems.size,
        problems = problems,
        metrics = listed,
        detail = ListMap("layers" -> others, "queries" -> perQuery,
          "untraced_s" -> run.untracedS, "traced_s" -> run.tracedS))
    } else {
      val before = Run.probe()
      val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double, Long, Long)]]
      while (passes.size < Run.passes(ctx.seconds)) passes += pass(ctx, dir, None)
      val after = Run.probe()
      ctx.mark("measured")
      val heap = Run.retainedHeapMb()
      val problems = passes.toSeq.flatMap(p => Checks.sameDigests(digestsOf(reference),
        digestsOf(p))) ++ reference.filter(_._3 == 0).map(r => s"${r._1}: no rows")
      val ms = passes.map(_.map(_._2).sum * 1000).toSeq
      Outcome(
        attempted = passes.size.toLong * Queries.size,
        failed = problems.size,
        problems = problems,
        metrics = Run.endToEnd(Stats.median(setups.map(_._2)),
          Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.9),
          Queries.size / (Stats.median(ms) / 1000), heap),
        detail = ListMap(
          "setup_runs_s" -> setups.map(_._2),
          "pass_s" -> ms.map(_ / 1000),
          "query_s" -> ListMap(passes.head.map(r => r._1 -> r._2): _*)) ++
          Run.contention(before, after))
    }
  }
}
