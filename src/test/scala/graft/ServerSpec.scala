package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{HashJoin, ShuffledHashJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.pipeline.Ingest
import graft.query.{Agent, Server, Tools}

/** End-to-end HTTP surface: a real com.sun.net.httpserver instance on
  * an ephemeral port, driven with the JDK HTTP client — request JSON
  * in, Agent.run under the hood, response JSON out (the reference's
  * backend/app.py contract).
  */
class ServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val corpus: Agent.Corpus = {
    val docs = Tables.load(spark, Sf0001, "documents")
    val embs = Tables.load(spark, Sf0001, "embeddings")
    val papers = Ingest.papers(docs).cache()
    val chunks = Ingest.chunks(papers, size = 20, overlap = 5, minWords = 5)
    val chunksV = Ingest.withEmbeddings(chunks, embs)
      .join(papers.select("paper_id", "title"), "paper_id").cache()
    val emap = Ingest.entityMap(chunks).cache()
    Agent.Corpus(chunksV, papers, Ingest.nodes(emap), Ingest.edges(emap))
  }

  private lazy val queryVec = {
    val e = Tables.load(spark, Sf0001, "embeddings")
      .filter(col("vec_id") === 0).select("embedding").head
    array(e.getSeq[Float](0).map(v => lit(v)): _*)
  }

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer(historyDir: Option[String] = None)(f: Int => Unit): Unit = {
    val h = Server.start(corpus, queryVec, port = 0, historyDir = historyDir)
    try f(h.port) finally h.stop()
  }

  test("POST /query returns answer, capped citations, rounded confidence") {
    withServer() { port =>
      val resp = post(port, "/query",
        """{"question": "what is a spark query", "top_k": 5}""")
      assert(resp.statusCode() == 200)
      val node = mapper.readTree(resp.body())
      assert(node.get("answer").asText.startsWith("[1] "))
      assert(node.get("retrieval_mode").asText == "agentic")
      val cits = node.get("citations")
      assert(cits.isArray && cits.size > 0 && cits.size <= 5)
      val top = cits.get(0)
      for (fld <- Seq("chunk_id", "paper_id", "title", "score"))
        assert(top.has(fld), s"citation missing $fld")
      // confidence = round(top citation score, 3)
      val expected = math.round(top.get("score").asDouble * 1000) / 1000.0
      assert(node.get("confidence").asDouble == expected)
      assert(node.get("latency_ms").asLong >= 0)
    }
  }

  test("POST /query validates its input") {
    withServer() { port =>
      assert(post(port, "/query", """{"top_k": 3}""").statusCode() == 400)
      assert(post(port, "/query", "not json").statusCode() == 400)
      assert(get(port, "/query").statusCode() == 405)
      // top_k must be a positive integer — not a planner 500, not a
      // silently-ignored float
      assert(post(port, "/query",
        """{"question": "x", "top_k": -1}""").statusCode() == 400)
      assert(post(port, "/query",
        """{"question": "x", "top_k": 2.5}""").statusCode() == 400)
    }
  }

  test("GET /papers dumps the papers table") {
    withServer() { port =>
      val resp = get(port, "/papers")
      assert(resp.statusCode() == 200)
      val arr = mapper.readTree(resp.body())
      assert(arr.isArray && arr.size.toLong == corpus.papers.count())
      assert(arr.get(0).has("paper_id") && arr.get(0).has("title"))
    }
  }

  test("GET /papers is limit-guarded and paginates on a stable order") {
    withServer() { port =>
      val total = corpus.papers.count().toInt
      assert(total >= 3, "fixture must have enough papers to paginate")
      // limit caps the dump; a huge requested limit clamps to 1000
      val p1 = mapper.readTree(get(port, "/papers?limit=2").body())
      assert(p1.size == 2)
      assert(mapper.readTree(
        get(port, "/papers?limit=999999").body()).size == total,
        "requested limits clamp to the 1k corpus contract")
      // offset walks a deterministic paper_id order with no overlap
      val p2 = mapper.readTree(get(port, "/papers?limit=2&offset=2").body())
      val ids = (0 until p1.size).map(p1.get(_).get("paper_id").asText()) ++
        (0 until p2.size).map(p2.get(_).get("paper_id").asText())
      assert(ids == ids.sorted && ids.distinct.size == ids.size,
        "pages must be disjoint slices of one stable order")
      // garbage params fall back to defaults rather than erroring
      assert(get(port, "/papers?limit=abc&offset=-5").statusCode() == 200)
      // KEYSET pagination (the scale path — bounded collect at any
      // depth): ?after=<last paper_id> resumes past that id with no
      // overlap, same stable order
      val last1 = p1.get(p1.size - 1).get("paper_id").asText()
      val k2 = mapper.readTree(
        get(port, s"/papers?limit=2&after=$last1").body())
      val kids = (0 until k2.size).map(k2.get(_).get("paper_id").asText())
      assert(kids.forall(_ > last1) && kids == kids.sorted,
        "keyset page must start strictly after the cursor, in order")
      // a deep offset REFUSES with a 400 naming the keyset cursor —
      // silent clamping would re-serve the cap page and corrupt any
      // offset-walking client with undetectable duplicates
      val deep = get(port, s"/papers?limit=2&offset=${Int.MaxValue - 1}")
      assert(deep.statusCode() == 400 && deep.body().contains("after"))
    }
  }

  test("concurrent /query requests all land their history and eval_metrics rows") {
    // each append writes its own file, renamed into place; compute and
    // appends stay concurrent, but no request's record may be lost or
    // torn, and no temp file may be left behind
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_conc").toString
    val questions = (1 to 8).map(i => s"question number $i")
    withServer(historyDir = Some(dir)) { port =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val posts = questions.map(q => Future {
        post(port, "/query", s"""{"question": "$q"}""").statusCode()
      })
      assert(Await.result(Future.sequence(posts), 120.seconds).forall(_ == 200))
      val history = spark.read.json(s"$dir/history")
      assert(history.count() == 8)
      assert(history.select("query").collect().map(_.getString(0)).toSet ==
        questions.toSet)
      // read under the full APP.EVAL_METRICS schema: a torn or
      // interleaved line would surface as nulls in always-set columns
      val evalSchema = Agent.EvalMetricsSchema
      assert(evalSchema.size == 10)
      val evals = spark.read.schema(evalSchema).json(s"$dir/eval_metrics").collect()
      assert(evals.length == 8)
      val alwaysSet = evalSchema.fieldNames.filterNot(_.endsWith("_score"))
      assert(alwaysSet.length == 8)
      for (r <- evals; f <- alwaysSet)
        assert(!r.isNullAt(r.fieldIndex(f)), s"eval_metrics row without $f: $r")
      assert(evals.map(_.getAs[String]("question")).toSet == questions.toSet)
      for (sink <- Seq("history", "eval_metrics")) {
        val names = new java.io.File(dir, sink).list.toSeq
        assert(names.count(n => n.startsWith("part-") && n.endsWith(".json")) == 8)
        assert(!names.exists(_.contains(".tmp")), s"temp file left in $sink: $names")
      }
    }
  }

  test("a plain /query runs one Spark job; a graph-cue one adds only the graph tool's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_jobs").toString
    val plain = "what is a spark query"
    val graph = "what is related to spark"
    withServer(historyDir = Some(dir)) { port =>
      def query(q: String): Unit =
        assert(post(port, "/query", s"""{"question": "$q"}""").statusCode() == 200)
      // the corpus caches and the graph adjacency build on first use;
      // count warm requests only
      query(plain); query(graph)
      assert(jobsDuring(query(plain)) == 1,
        "search only: citations, answer, response and sinks come from one collect")
      assert(jobsDuring(query(graph)) == 2,
        "the citation collect plus one graph lookup over the pinned adjacency")
      val kg = Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges, graph, 5)
      assert(jobsDuring(kg.collect()) == 1)
      val plan = kg.queryExecution.executedPlan
      val aqe = new AdaptiveSparkPlanHelper {}
      assert(aqe.collect(plan) { case e: Exchange => e }.isEmpty, plan.toString)
      val scans = aqe.collect(plan) { case s: InMemoryTableScanExec => s }
      assert(scans.map(_.output.map(_.name)) ==
        Seq(Seq("seed", "neighbor_id", "total_weight")), plan.toString)
      // the cached copy is cut from its build plan: a lookup's plan (and
      // what Spark keeps of it per request) holds no nested build plan
      val cached = scans.head.relation.cachedPlan
      assert(aqe.collect(cached) {
        case p @ (_: Exchange | _: InMemoryTableScanExec) => p }.isEmpty, cached.toString)
      // and it joins nodes by shuffle: a broadcast relation's driver
      // copy would live as long as the cache
      val nodeJoins = aqe.collect(Ingest.adjacency(corpus.nodes, corpus.edges)
          .queryExecution.executedPlan) {
        case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "node_id")) => j
      }
      assert(nodeJoins.nonEmpty && nodeJoins.forall(_.isInstanceOf[ShuffledHashJoinExec]),
        nodeJoins.mkString("\n"))
    }
  }

  /** Spark jobs started by `body`. */
  private def jobsDuring(body: => Unit): Int =
    eventsDuring(body).count(_.isLeft)

  /** SQL executions started by `body`, in start order. */
  private def sqlExecutionsDuring(body: => Unit): Seq[SparkListenerSQLExecutionStart] =
    eventsDuring(body).collect { case Right(e) => e }

  /** Job starts (Left) and SQL execution starts (Right) posted by
    * `body`. Listener delivery is FIFO, so the events between a marked
    * canary run before `body` and one run after it are exactly the
    * ones `body` started. A canary's execution and jobs carry its mark
    * as their description. */
  private def eventsDuring(body: => Unit)
      : Seq[Either[SparkListenerJobStart, SparkListenerSQLExecutionStart]] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Either[SparkListenerJobStart, SparkListenerSQLExecutionStart])]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        events.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("") -> Left(j)); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => events.add(x.description -> Right(x)); ()
        case _ =>
      }
    }
    // a canary's execution start is posted before its jobs start
    def arrived(mark: String) = events.stream().anyMatch(e => e._1 == mark && e._2.isLeft)
    def canary(mark: String): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(mark)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis + 30000
      while (!arrived(mark) && System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(arrived(mark), s"canary '$mark' never arrived")
    }
    spark.sparkContext.addSparkListener(l)
    try {
      canary("eventsDuring:before")
      body
      canary("eventsDuring:after")
      events.toArray(Array.empty[(String, Either[SparkListenerJobStart, SparkListenerSQLExecutionStart])])
        .toSeq.dropWhile(_._1 != "eventsDuring:before").dropWhile(_._1 == "eventsDuring:before")
        .takeWhile(_._1 != "eventsDuring:after").map(_._2)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a warm plain /query is one SQL execution over a lineage-free scan of the cached chunks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_execs").toString
    val plain = "what is a spark query"
    val graph = "what is related to spark"
    withServer(historyDir = Some(dir)) { port =>
      def query(q: String): Unit =
        assert(post(port, "/query", s"""{"question": "$q"}""").statusCode() == 200)
      query(plain); query(graph)
      val view = corpus.chunksScan
      val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      def cacheEntries: Int = {
        val f = cacheManager.getClass.getDeclaredField("cachedData")
        f.setAccessible(true)
        f.get(cacheManager).asInstanceOf[IndexedSeq[_]].size
      }
      val entriesBefore = cacheEntries
      val persistedBefore = spark.sparkContext.getPersistentRDDs.size
      // the job counts of the same requests are pinned in the test above
      val searches = (1 to 2).map { _ =>
        val execs = sqlExecutionsDuring(query(plain))
        assert(execs.size == 1,
          "one SQL execution: the response and sink lines are written from the rows")
        execs.head
      }
      assert(sqlExecutionsDuring(query(graph)).size == 3,
        "the query's entity names, the graph lookup and the search")
      for (search <- searches) {
        val plan = search.physicalPlanDescription
        assert(plan.length <= 3000, plan)
        assert(plan.contains("Scan ExistingRDD") && !plan.contains("InMemoryRelation"), plan)
      }
      // every request reads the one view: the same scan, attribute ids included
      def scanLine(e: SparkListenerSQLExecutionStart) =
        e.physicalPlanDescription.linesIterator.find(_.contains("Scan ExistingRDD"))
      assert(scanLine(searches(0)).isDefined && scanLine(searches(0)) == scanLine(searches(1)))
      assert(corpus.chunksScan eq view)
      assert(cacheEntries == entriesBefore, "a request must not register a cache entry")
      assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore)
    }
  }

  test("POST /reset clears the history sinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv").toString
    withServer(historyDir = Some(dir)) { port =>
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      assert(new java.io.File(dir, "history").exists())
      val resp = post(port, "/reset", "")
      assert(resp.statusCode() == 200)
      assert(mapper.readTree(resp.body()).get("status").asText == "ok")
      assert(!new java.io.File(dir, "history").exists())
      assert(!new java.io.File(dir, "eval_metrics").exists())
      // the sink comes back on the next query
      assert(post(port, "/query", """{"question": "what is spark"}""").statusCode() == 200)
      assert(new java.io.File(dir, "history").exists())
    }
  }
}
