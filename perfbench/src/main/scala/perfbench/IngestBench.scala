package perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Tables
import graft.pipeline.Ingest

/** The batch write path: `Ingest.runAll` over a generated sf0.1-sized
  * corpus into a fresh output directory, in a warm JVM. */
object IngestBench {

  val Docs = 5000
  val Vecs = 2000
  /** The warm-up pass runs over a smaller corpus of another seed: it
    * compiles the same plans and warms their hot loops in less time than
    * a full pass in a cold JVM (about 12 s against 20 s). */
  val WarmDocs = 1500
  val WarmVecs = 600

  val Stages = Seq("papers", "chunks", "entity_map", "nodes", "edges", "counts")
  val Tables5 = Seq("papers", "chunks", "chunk_entity_map", "knowledge_nodes", "knowledge_edges")

  /** Order-independent digest of each output table: (rows, hash of the
    * rows' non-timestamp columns). */
  def digests(spark: SparkSession, outDir: String): Map[String, (Long, Long)] =
    Tables5.map { t =>
      val df = spark.read.parquet(s"$outDir/$t")
      val cols = df.schema.fields.filterNot(_.dataType == TimestampType).map(f => col(f.name))
      val h = xxhash64(cols.toIndexedSeq: _*)
      val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(1L << 31))), lit(0L))).head()
      t -> (r.getLong(0), r.getLong(1) * 31 + r.getLong(2))
    }.toMap

  /** Per-layer figures of the traced ingest stages (`inputBytes` = 0:
    * the stages were cached, not written). */
  def stageMetrics(tracer: Tracer, counts: Map[String, Long],
                   inputBytes: Long): Map[String, Double] = {
    val spans = Stages.flatMap(s => tracer.named(s"ingest.$s").lastOption.map(s -> _)).toMap
    def sum(k: String) = spans.values.map(_(k)).sum
    spans.map { case (s, sp) => s"ingest.${s}_s" -> sp.ms / 1000 } ++
      Stages.zip(Tables5).map { case (s, t) => s"ingest.${s}_rows" -> counts.getOrElse(t, 0L).toDouble } ++
      Map(
        "ingest.jobs" -> sum("jobs"),
        "ingest.edges_shuffle_bytes" -> spans.get("edges").map(_("shuffle_write_bytes")).getOrElse(0.0),
        "ingest.spill_bytes" -> sum("spill_bytes")) ++
      Option.when(inputBytes > 0)("ingest.bytes_written_per_input_byte" -> sum("output_bytes") / inputBytes)
  }

  private def writeInputs(ctx: Ctx, dir: String, seed: Long, docs: Int, vecs: Int): Array[Doc] = {
    val ds = Gen.docs(seed, docs)
    Gen.writeCorpus(ctx.spark, dir, ds, Gen.vecs(seed, vecs))
    ds
  }

  /** One set-up: generate and write the inputs, then load them with
    * `Tables.load` and plan the first stage, as `runAll` begins. */
  private def setup(ctx: Ctx, dir: String): Array[Doc] = {
    val ds = writeInputs(ctx, dir, ctx.seed, Docs, Vecs)
    Tables.load(ctx.spark, dir, "embeddings")
    Ingest.papers(Tables.load(ctx.spark, dir, "documents")).queryExecution.executedPlan
    ds
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val reps = if (ctx.trace) 1 else Run.SetupRepeats
    val setups = (1 to reps).map { rep =>
      val dir = ctx.path(s"in$rep")
      val (ds, s) = Tracer.seconds(setup(ctx, dir))
      (dir, ds, s)
    }
    val (inDir, docs, _) = setups.last
    ctx.mark("setups")
    val expected = Expect.ingestCounts(Expect.chunks(docs, Gen.vecs(ctx.seed, Vecs)))

    writeInputs(ctx, ctx.path("warm_in"), ctx.seed + 7, WarmDocs, WarmVecs)
    Ingest.runAll(spark, ctx.path("warm_in"), ctx.path("warm_out"))
    ctx.mark("warmup")

    if (ctx.trace) traced(ctx, inDir, expected)
    else {
      val before = Run.probe()
      // Row counts are checked on every pass. Digests are compared
      // between passes over the same input: here when a run makes more
      // than one, and always in the traced run (four passes).
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Map[String, Long])]
      while (passes.size < Run.passes(ctx.seconds)) {
        val (counts, s) = Tracer.seconds(Ingest.runAll(spark, inDir, ctx.path(s"out${passes.size}")))
        passes += (s -> counts)
      }
      val after = Run.probe()
      ctx.mark("measured")
      lazy val first = digests(spark, ctx.path("out0"))
      val checked = passes.zipWithIndex.map { case ((_, counts), i) =>
        Checks.counts(counts, expected) ++
          (if (i == 0) Nil else Checks.sameDigests(first, digests(spark, ctx.path(s"out$i"))))
      }
      val heap = Run.retainedHeapMb()
      val ms = passes.map(_._1 * 1000).toSeq
      Outcome(
        attempted = passes.size,
        failed = checked.count(_.nonEmpty),
        problems = checked.flatten.toSeq,
        metrics = Run.endToEnd(Stats.median(setups.map(_._3)),
          Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.9),
          Docs / (Stats.median(ms) / 1000), heap),
        detail = ListMap(
          "setup_runs_s" -> setups.map(_._3),
          "pass_s" -> passes.map(_._1),
          "rows" -> expected) ++ Run.contention(before, after))
    }
  }

  /** The six stages called one by one, each written and read back as
    * `runAll` does, under spans when a tracer is given; returns the
    * row counts. */
  private def stagePass(spark: SparkSession, inDir: String, out: String,
                        tracer: Option[Tracer]): Map[String, Long] = {
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val docs = Tables.load(spark, inDir, "documents")
    val embs = Tables.load(spark, inDir, "embeddings")
    def stage(name: String, table: String)(build: => DataFrame): DataFrame =
      span(s"ingest.$name") {
        build.write.mode("overwrite").parquet(s"$out/$table")
        spark.read.parquet(s"$out/$table")
      }
    val p = stage("papers", "papers")(Ingest.papers(docs))
    val ce = stage("chunks", "chunks")(Ingest.withEmbeddings(Ingest.chunks(p), embs))
    val m = stage("entity_map", "chunk_entity_map")(Ingest.entityMap(ce))
    val n = stage("nodes", "knowledge_nodes")(Ingest.nodes(m))
    val e = stage("edges", "knowledge_edges")(Ingest.edges(m))
    span("ingest.counts") {
      Ingest.counts(spark, Map("papers" -> p, "chunks" -> ce, "chunk_entity_map" -> m,
          "knowledge_nodes" -> n, "knowledge_edges" -> e))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** The stage pass on the same input, twice under spans and twice
    * without (see [[Tracer.abba]]); the outputs of the traced and the
    * untraced passes must agree. */
  private def traced(ctx: Ctx, inDir: String, expected: Map[String, Long]): Outcome = {
    val spark = ctx.spark
    val out = ctx.path("out_traced")
    val run = Tracer.abba(spark, "ingest.run") {
      case Some(t) => stagePass(spark, inDir, out, Some(t))
      case None => stagePass(spark, inDir, ctx.path("out_untraced"), None)
    }
    val tracer = run.tracer
    tracer.write(Paths.get(ctx.path("spans.jsonl")))
    val root = tracer.named("ingest.run").head
    val problems = Checks.counts(run.result, expected) ++
      Checks.sameDigests(digests(spark, ctx.path("out_untraced")), digests(spark, out))
    val inputBytes = Run.sizeOf(Paths.get(inDir))
    val (listed, others) = Run.perLayer(stageMetrics(tracer, run.result, inputBytes) ++
      Run.engine(root, run.gcMs, Run.cachedMb(spark)) ++
      Map("trace.overhead_pct" -> run.overheadPct))
    Outcome(
      attempted = 4,
      failed = if (problems.isEmpty) 0 else 1,
      problems = problems,
      metrics = listed,
      detail = ListMap("layers" -> others, "untraced_s" -> run.untracedS,
        "traced_s" -> run.tracedS))
  }
}
