package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, lit}

import graft.Tables
import graft.pipeline.Ingest
import graft.query.{Agent, Server, Tools}
import graft.sources.Sources

/** The served `/query` path: `query.Server` started in-process over a
  * corpus built with `pipeline.Ingest`'s stage functions, driven over
  * HTTP by a closed-loop client.
  *
  *  - `serve_search`: plain questions only, history sinks off.
  *  - `serve_mixed_logged`: every fourth question carries a graph cue,
  *    and `historyDir` is on, so each request also appends a history
  *    row and an eval_metrics row.
  */
object Serve {

  /** Vectors per document in the generated corpus (2,000 per 5,000
    * documents, as in the sf0.1 fixtures). */
  val VecsPerDoc = 0.4
  val Clients = 4
  /** Requests in the traced pass (sequential, one in flight). */
  val TraceRequests = 8
  /** Untimed warm-up before the measured pass: this many requests, or
    * this many seconds if sooner (the logged workload serves ~2 per
    * second). A fresh JVM serves its first requests markedly slower
    * (JIT and plan code generation still settling). */
  val WarmupRequests = 8
  val WarmupMaxSeconds = 4.0

  final case class Reply(req: Request, status: Int, body: String, ms: Double)

  /** One set-up: inputs written, corpus cached, server listening. */
  final case class Served(docs: Array[Doc], vecs: Array[Vec], corpus: Agent.Corpus,
                          counts: Map[String, Long], queryVec: Array[Float],
                          handle: Server.Handle, seconds: Double)

  def vecColumn(v: Array[Float]): Column = array(v.toSeq.map(x => lit(x)): _*)

  /** The serving corpus, built and cached stage by stage like the
    * ingest pipeline (each stage under a span when traced), then
    * verified with `Ingest.counts`. Without `withGraph` the graph tables
    * stay lazy and uncached: plain questions never read them. */
  def buildCorpus(spark: SparkSession, dataDir: String, withGraph: Boolean,
                  tracer: Option[Tracer] = None): (Agent.Corpus, Map[String, Long]) = {
    def stage[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(s"ingest.$name")(body))
    val docs = Tables.load(spark, dataDir, "documents")
    val embs = Tables.load(spark, dataDir, "embeddings")
    val papers = Ingest.papers(docs).cache()
    stage("papers")(papers.count())
    val chunksV = Ingest.withEmbeddings(Ingest.chunks(papers), embs)
      .join(papers.select("paper_id", "title"), "paper_id").cache()
    stage("chunks")(chunksV.count())
    val emap = Ingest.entityMap(chunksV)
    val nodes = Ingest.nodes(emap)
    val edges = Ingest.edges(emap)
    val graph = if (!withGraph) Map.empty[String, DataFrame] else {
      Seq("entity_map" -> emap, "nodes" -> nodes, "edges" -> edges).foreach { case (name, t) =>
        t.cache()
        stage(name)(t.count())
      }
      Map("chunk_entity_map" -> emap, "knowledge_nodes" -> nodes, "knowledge_edges" -> edges)
    }
    val counts = stage("counts") {
      Ingest.counts(spark, Map("papers" -> papers, "chunks" -> chunksV) ++ graph)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    (Agent.Corpus(chunksV, papers, nodes, edges), counts)
  }

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def post(port: Int, path: String, body: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def get(port: Int, path: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** Generate and write the inputs, build and cache the corpus, start
    * the server, and serve one request. */
  def setup(ctx: Ctx, name: String, nDocs: Int, withGraph: Boolean,
            historyDir: Option[String], tracer: Option[Tracer]): Served = {
    val t0 = System.nanoTime()
    val docs = Gen.docs(ctx.seed, nDocs)
    val vecs = Gen.vecs(ctx.seed, (nDocs * VecsPerDoc).toInt)
    val dataDir = ctx.path(name)
    Gen.writeCorpus(ctx.spark, dataDir, docs, vecs)
    val (corpus, counts) = buildCorpus(ctx.spark, dataDir, withGraph, tracer)
    val qv = Gen.queryVec(ctx.seed)
    val handle = Server.start(corpus, vecColumn(qv), port = 0, historyDir = historyDir)
    val (status, _) = get(handle.port, "/papers?limit=1")
    require(status == 200, s"server not ready: GET /papers returned $status")
    Served(docs, vecs, corpus, counts, qv, handle, (System.nanoTime() - t0) / 1e9)
  }

  /** `clients` threads, each sending the next request as soon as its
    * previous one returned, until `seconds` have passed or `limit`
    * requests were sent. */
  def closedLoop(port: Int, reqs: IndexedSeq[Request], clients: Int,
                 seconds: Double, limit: Int = Int.MaxValue): (Seq[Reply], Double) = {
    require(reqs.nonEmpty, "no requests to send")
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < limit && System.nanoTime() < deadline) {
          val r = reqs(i % reqs.size)
          val s = System.nanoTime()
          val (status, body) =
            try post(port, "/query", r.json)
            catch { case e: java.io.IOException => (-1, e.toString) }
          out.add(Reply(r, status, body, (System.nanoTime() - s) / 1e6))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def sinkRows(spark: SparkSession, dir: String): Long =
    if (Run.filesIn(Paths.get(dir)) == 0) 0L else spark.read.json(dir).count()

  def run(ctx: Ctx, nDocs: Int, graphEvery: Int, logged: Boolean): Outcome = {
    val spark = ctx.spark
    val historyDir = Option.when(logged)(ctx.path("sinks"))
    // the graph tables are built and cached only where requests read them
    val withGraph = graphEvery > 0
    def teardown(s: Served): Unit = { s.handle.stop(); spark.catalog.clearCache() }
    // Set up several times and keep the last; each earlier one is torn
    // down completely (server stopped, cache dropped). The first runs
    // in a cold JVM, so the median is a warm set-up.
    // The traced run sets up twice and traces the second, warm set-up:
    // its corpus stages under spans.
    val tracer = Option.when(ctx.trace)(new Tracer(spark))
    val reps = if (ctx.trace) 2 else Run.SetupRepeats
    val setups = (1 to reps).map { rep =>
      val traced = tracer.filter(_ => rep == reps)
      traced.foreach(_.install())
      val s = setup(ctx, s"data$rep", nDocs, withGraph, historyDir, traced)
      traced.foreach(_.uninstall())
      if (rep < reps) teardown(s)
      s
    }
    val served = setups.last
    ctx.mark("setups")
    val cachedMb = Run.cachedMb(spark)
    try {
      val port = served.handle.port
      val chunks = Expect.chunks(served.docs, served.vecs)
      val ranking = Expect.ranking(chunks, served.queryVec)
      // without the graph tables cached, only papers and chunks are counted
      val countProblems = Checks.counts(served.counts,
        Expect.ingestCounts(chunks).filter { case (t, _) => withGraph || served.counts.contains(t) })

      // One stream for the whole run, so no measured request repeats a
      // warm-up request's plan (see Gen.TopKRange).
      val reqs = Gen.requests(ctx.seed, Gen.TopKRange, graphEvery)
      val (warm, _) = closedLoop(port, reqs, Clients,
        seconds = WarmupMaxSeconds, limit = WarmupRequests)
      if (logged) post(port, "/reset", "{}")
      ctx.mark("warmup")

      val rest = reqs.drop(warm.size)
      tracer match {
        case Some(t) => traced(ctx, t, served, rest.take(TraceRequests), ranking, logged, cachedMb,
          countProblems)
        case None => measured(ctx, served, rest, ranking, historyDir, setups.map(_.seconds),
          cachedMb, countProblems, warm.size)
      }
    } finally {
      served.handle.stop()
    }
  }

  /** The timed pass: closed loop at `Clients`, then every reply checked. */
  private def measured(ctx: Ctx, served: Served, reqs: IndexedSeq[Request],
                       ranking: IndexedSeq[Expect.Hit], historyDir: Option[String],
                       setupRuns: Seq[Double], cachedMb: Double,
                       countProblems: Seq[String], warmupRequests: Int): Outcome = {
    val spark = ctx.spark
    val port = served.handle.port
    val before = Run.probe()
    val (replies, elapsed) = closedLoop(port, reqs, Clients, ctx.seconds)
    val after = Run.probe()
    ctx.mark("measured")
    val heap = Run.retainedHeapMb()
    val checked = replies.map(r =>
      Checks.response(r.req, r.status, r.body, Expect.citations(ranking, r.req.topK)))
    val sinkProblems = historyDir.toSeq.flatMap { dir =>
      val (h, e) = (sinkRows(spark, s"$dir/history"), sinkRows(spark, s"$dir/eval_metrics"))
      post(port, "/reset", "{}")
      Checks.sinks(replies.size, h, e,
        sinkRows(spark, s"$dir/history"), sinkRows(spark, s"$dir/eval_metrics"))
    }
    val ms = replies.map(_.ms)
    ctx.mark("checked")
    Outcome(
      attempted = replies.size + 1 + historyDir.size,
      failed = checked.count(_.nonEmpty) + Seq(countProblems, sinkProblems).count(_.nonEmpty),
      problems = countProblems ++ sinkProblems ++ checked.flatten,
      metrics = Run.endToEnd(Stats.median(setupRuns),
        Stats.quantile(ms, 0.5), Stats.quantile(ms, 0.9), replies.size / elapsed, heap),
      detail = ListMap(
        "setup_runs_s" -> setupRuns,
        "warmup_requests" -> warmupRequests,
        "requests" -> replies.size,
        "graph_requests" -> replies.count(_.req.graph),
        // measured requests whose top_k a warm-up or earlier request had
        "repeated_plans" -> math.max(0, warmupRequests + replies.size - Gen.TopKRange),
        "measured_s" -> elapsed,
        "p50_ms_by_quarter" -> replies.grouped(math.max(1, replies.size / 4)).map(g =>
          Stats.median(g.map(_.ms))).toSeq,
        "cached_mb" -> cachedMb) ++ Run.contention(before, after))
  }

  /** The traced pass, one call in flight. Each request is sent traced
    * over HTTP beside an untraced twin (the same question with another
    * first-seen `top_k`; which goes first alternates), then the layers
    * it went through are called directly, again with a first-seen
    * `top_k` so no call reads citations cached by an earlier one. */
  private def traced(ctx: Ctx, tracer: Tracer, served: Served, reqs: IndexedSeq[Request],
                     ranking: IndexedSeq[Expect.Hit], logged: Boolean,
                     cachedMb: Double, countProblems: Seq[String]): Outcome = {
    val spark = ctx.spark
    val port = served.handle.port
    val corpus = served.corpus
    val qv = vecColumn(served.queryVec)
    val sinkDir = Paths.get(ctx.path("trace_sinks"))
    val untracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gc0 = Run.gcMs()
    tracer.install()
    val replies = tracer.span("serve.pass") {
      reqs.zipWithIndex.map { case (r, i) =>
        val id = s"r$i"
        def untraced(): Unit = {
          tracer.uninstall()
          val twin = r.copy(topK = r.topK + 2 * Gen.TopKRange)
          untracedMs += Tracer.seconds(post(port, "/query", twin.json))._2 * 1000
          tracer.install()
        }
        if (i % 2 == 0) untraced()
        val (status, body) = tracer.span("server.http", id)(post(port, "/query", r.json))
        if (i % 2 == 1) untraced()
        val k = r.topK + Gen.TopKRange
        val res = tracer.span("agent.run", id)(Agent.run(corpus, r.question, qv, topK = k))
        if (r.graph) tracer.span("tools.search_kg", id) {
          Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges, r.question, k).count()
        }
        tracer.span("tools.search_papers", id) {
          Tools.searchPapers(corpus.chunksV, qv, k).collect()
        }
        tracer.span("tools.summarize", id)(Tools.summarizeContext(res.citations).head())
        if (logged) {
          val (h, e) = tracer.span("agent.sink_rows", id)(
            (Agent.historyRecord(spark, r.question, res), Agent.evalMetricsRow(spark, r.question, res)))
          val (files0, bytes0) = (Run.filesIn(sinkDir), Run.sizeOf(sinkDir))
          tracer.span("sources.append", id) {
            Sources.appendJsonl(h, s"$sinkDir/history")
            Sources.appendJsonl(e, s"$sinkDir/eval_metrics")
          }
          tracer.named("sources.append").last.counters ++= Seq(
            "files" -> (Run.filesIn(sinkDir) - files0).toDouble,
            "bytes" -> (Run.sizeOf(sinkDir) - bytes0).toDouble)
        }
        Reply(r, status, body, 0.0)
      }
    }
    tracer.uninstall()
    val gcMs = Run.gcMs() - gc0
    tracer.write(Paths.get(ctx.path("spans.jsonl")))

    val ids = reqs.indices.map(i => s"r$i")
    val graphIds = reqs.indices.collect { case i if reqs(i).graph => s"r$i" }.toSet
    def ms(name: String, id: String): Double =
      tracer.named(name).find(_.req == id).map(_.ms).getOrElse(0.0)
    def mean(name: String, f: Span => Double): Double = Stats.mean(tracer.named(name).map(f))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // Agent.run's own timer, as the server reported it for that request
    val agentMsInRequest = replies.map(r =>
      Option(Json.parse(r.body).get("latency_ms")).map(_.asDouble).getOrElse(0.0))
    val serverSelf = ids.zip(agentMsInRequest).map { case (id, agentMs) =>
      ms("server.http", id) - agentMs - ms("agent.sink_rows", id) - ms("sources.append", id)
    }
    val runs = tracer.named("agent.run")
    val (graphRuns, plainRuns) = runs.partition(s => graphIds(s.req))
    val appends = tracer.named("sources.append")
    val httpMs = ids.map(ms("server.http", _))
    val values = Map(
      "server.self_ms" -> Stats.mean(serverSelf),
      "server.http_ms" -> Stats.mean(httpMs),
      "agent.run_ms" -> Stats.mean(runs.map(_.ms)),
      "agent.self_ms" -> mean("agent.run", _.driverMs),
      "agent.sink_rows_ms" -> mean("agent.sink_rows", _.ms),
      "tools.search_papers_ms" -> mean("tools.search_papers", _.ms),
      "tools.summarize_ms" -> mean("tools.summarize", _.ms),
      "tools.search_kg_ms" -> mean("tools.search_kg", _.ms),
      "sources.append_ms" -> mean("sources.append", _.ms),
      "agent.spark_jobs_plain" -> med(plainRuns.map(_("jobs"))),
      "agent.spark_jobs_graph" -> med(graphRuns.map(_("jobs"))),
      "agent.stages_plain" -> med(plainRuns.map(_("stages"))),
      "agent.stages_graph" -> med(graphRuns.map(_("stages"))),
      "tools.search_papers_jobs" -> med(tracer.named("tools.search_papers").map(_("jobs"))),
      // per citation: the agent keeps 5 hits of a search with top_k > 5
      "tools.search_papers_rows_per_hit" -> mean("tools.search_papers", _("scan_rows") / 5),
      "tools.summarize_jobs" -> med(tracer.named("tools.summarize").map(_("jobs"))),
      "tools.search_kg_jobs" -> med(tracer.named("tools.search_kg").map(_("jobs"))),
      "tools.search_kg_shuffle_bytes" -> mean("tools.search_kg", _("shuffle_write_bytes")),
      "tools.search_kg_edges_read" -> mean("tools.search_kg", _("scan_rows")),
      "sources.append_jobs" -> med(appends.map(_("jobs"))),
      "sources.files_per_append" -> med(appends.map(_("files") / 2)),
      "sources.bytes_per_row" -> Stats.mean(appends.map(_("bytes") / 2)),
      "trace.overhead_pct" -> (Stats.mean(httpMs) / Stats.mean(untracedMs.toSeq) - 1) * 100
    ) ++ IngestBench.stageMetrics(tracer, served.counts, inputBytes = 0L) ++
      Run.engine(tracer.named("serve.pass").head, gcMs, cachedMb)
    val checked = replies.map(r =>
      Checks.response(r.req, r.status, r.body, Expect.citations(ranking, r.req.topK)))
    val (listed, others) = Run.perLayer(values)
    Outcome(
      attempted = reqs.size + 1,
      failed = checked.count(_.nonEmpty) + (if (countProblems.nonEmpty) 1 else 0),
      problems = countProblems ++ checked.flatten,
      metrics = listed,
      detail = ListMap(
        "layers" -> others,
        "untraced_http_ms" -> Stats.mean(untracedMs.toSeq),
        "traced_http_ms" -> Stats.mean(httpMs)))
  }
}
