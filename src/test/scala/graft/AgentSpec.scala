package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.query.{Agent, Tools}
import graft.queries.KgQ
import graft.pipeline.Ingest

/** Orchestration-layer behavior: tool composition + the reference's
  * fallback rules (agent.py:179-214).
  */
class AgentSpec extends SparkSpec {

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
    val arr = e.getSeq[Float](0)
    array(arr.map(v => lit(v)): _*)
  }

  test("searchPapers returns k scored chunks, scores descending") {
    val hits = Tools.searchPapers(corpus.chunksV, queryVec, topK = 5).collect()
    assert(hits.length == 5)
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("paperDetails point lookup returns 0/1 row") {
    assert(Tools.paperDetails(corpus.papers, "doc_000001").count() <= 1)
    assert(Tools.paperDetails(corpus.papers, "no_such_id").count() == 0)
  }

  test("searchKnowledgeGraph seeds from query entities and ranks by weight") {
    val out = Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges,
      "how is spark related to query data", topK = 5).collect()
    assert(out.nonEmpty && out.length <= 5)
    val ws = out.map(_.getAs[Double]("total_weight"))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
  }

  test("agent run: summarize forced, citations capped at 5, metrics row valid") {
    val res = Agent.run(corpus, "what is a spark query", queryVec)
    assert(res.toolsUsed == Seq("search_papers", "summarize_context"))
    assert(res.citations.count() <= 5)
    assert(res.answer.startsWith("[1] "))
    val m = Agent.evalMetricsRow(spark, "what is a spark query", res)
    assert(m.count() == 1)
    assert(m.head.getAs[Double]("confidence") > 0.0)
  }

  test("every run appends the reference history record + eval metrics row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString
    Agent.run(corpus, "what is a spark query", queryVec, historyDir = Some(dir))
    Agent.run(corpus, "another question", queryVec, historyDir = Some(dir))
    // history: the reference's {timestamp, query, answer, chunks}
    // record (backend/app.py:51-56), one per run, append-only
    val hist = spark.read.json(s"$dir/history")
    assert(hist.count() == 2)
    assert(Seq("timestamp", "query", "answer", "chunks")
      .forall(hist.columns.contains))
    val row = hist.filter(col("query") === "what is a spark query").head
    assert(row.getAs[String]("answer").startsWith("[1] "))
    assert(row.getSeq[Any](row.fieldIndex("chunks")).nonEmpty)
    // eval_metrics: APP.EVAL_METRICS shape, one row per run
    val m = spark.read.json(s"$dir/eval_metrics")
    assert(m.count() == 2)
    assert(Seq("log_id", "question", "generated_response", "context_used",
      "retrieval_mode", "confidence", "latency_ms", "timestamp")
      .forall(m.columns.contains))
  }

  test("citations are driver-local rows: never cached, no cache growth across runs") {
    // the corpus caches build on first use; measure after a warm run
    Agent.run(corpus, "what is a spark query", queryVec)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val runs = (1 to 3).map(k => Agent.run(corpus, "what is a spark query", queryVec, topK = k))
    assert(runs.forall(_.citations.storageLevel == StorageLevel.NONE))
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
    assert(runs.map(_.citations.count()) == Seq(1L, 2L, 3L))
    val src = java.nio.file.Paths.get("src/main/scala/graft/query")
    val files = java.nio.file.Files.list(src).iterator().asScala.toSeq
    assert(files.nonEmpty)
    for (f <- files) {
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      assert(!text.contains(".cache()") && !text.contains(".persist("),
        s"${f.getFileName} caches a DataFrame on the served path")
    }
  }

  test("history chunks follow the citation order, ties included") {
    // three chunks with the query vector itself as embedding: equal
    // scores, so the response orders them by chunk_id ascending
    val tied = corpus.chunksV.orderBy("chunk_id").limit(3)
      .withColumn("embedding", queryVec)
    val dir = java.nio.file.Files.createTempDirectory("graft_hist_ties").toString
    val res = Agent.run(corpus.copy(chunksV = tied), "what is a spark query", queryVec,
      historyDir = Some(dir))
    val cited = res.citations.select("chunk_id").as[String](Encoders.STRING).collect().toSeq
    assert(cited.size == 3 && cited == cited.sorted)
    assert(res.citations.select("score").distinct().count() == 1)
    val hist = spark.read.json(s"$dir/history").select(col("chunks.chunk_id")).head
    assert(hist.getSeq[String](0) == cited)
  }

  test("callTool dispatches by name with argument-name tolerance") {
    val hits = Tools.callTool(corpus, queryVec, "search_papers",
      Map("top_k" -> "3")).toOption.get
    assert(hits.count() == 3)
    val hitsK = Tools.callTool(corpus, queryVec, "search_papers",
      Map("k" -> "2")).toOption.get
    assert(hitsK.count() == 2)
    val det = Tools.callTool(corpus, queryVec, "get_paper_details",
      Map("id" -> "doc_000001")).toOption.get
    assert(det.count() <= 1)
    val kg = Tools.callTool(corpus, queryVec, "search_knowledge_graph",
      Map("question" -> "how is spark related to data")).toOption.get
    assert(kg.count() > 0)
    // summarize falls back to prior citations (agent.py:85-86)
    val sum = Tools.callTool(corpus, queryVec, "summarize_context",
      lastCitations = Some(hits.limit(2)))
    assert(sum.isRight)
    assert(Tools.callTool(corpus, queryVec, "summarize_context").isLeft)
    // unknown tool -> error record, not an exception (agent.py:68-69)
    assert(Tools.callTool(corpus, queryVec, "no_such_tool") ==
      Left("Unknown tool: no_such_tool"))
  }

  test("graph-cue questions invoke the KG tool plus compensating search") {
    val res = Agent.run(corpus, "what is related to spark", queryVec)
    assert(res.toolsUsed ==
      Seq("search_knowledge_graph", "search_papers", "summarize_context"))
  }

  test("loop accounting: steps == tools_used length, bounded by MAX_ITERATIONS (agent.py:32,142,219-228)") {
    assert(Agent.MaxIterations == 6) // agent.py:32
    val plain = Agent.run(corpus, "what is a spark query", queryVec)
    // the reference returns steps (loop iterations) alongside
    // tools_used (agent.py:219-228); our planner runs one tool per
    // step, so the two agree and sit inside the loop bound
    assert(plain.steps == plain.toolsUsed.size)
    val graph = Agent.run(corpus, "what is related to spark", queryVec)
    assert(graph.steps == graph.toolsUsed.size)
    assert(graph.steps <= Agent.MaxIterations)
    // summarize_context is appended only when absent (agent.py:204-211)
    assert(graph.toolsUsed.count(_ == "summarize_context") == 1)
  }

  test("graph-cue question with ZERO graph hits: compensating search still cites (agent.py:185-188)") {
    // 'relationship' trips the KG cue, but no entity in the corpus
    // matches — the reference would get an empty KG result and, with
    // no citations yet, fall back to _fast_search (agent.py:185-188)
    val res = Agent.run(corpus,
      "relationship between zzzqqqzzz and xxyyzzxx", queryVec)
    assert(res.toolsUsed ==
      Seq("search_knowledge_graph", "search_papers", "summarize_context"))
    assert(res.citations.count() > 0) // compensating vector search cited
    assert(res.answer.startsWith("[1] ")) // summarize ran over them
    assert(res.steps <= Agent.MaxIterations)
  }

  test("empty corpus -> apology answer (agent.py:213-214)") {
    val empty = corpus.chunksV.filter(lit(false))
    val res = Agent.run(corpus.copy(chunksV = empty), "anything", queryVec)
    assert(res.answer.startsWith("I'm sorry"))
  }

  test("F3 divergence regression: uppercase-normalized lookups return empty") {
    // The reference backend normalizes query entities to UPPERCASE
    // (backend/retrieval.py:42-44) while ingestion stores lowercase
    // (data/ingestion.py:329-330) — a silent-empty-result bug
    // (docs/AGENT_ARCHITECTURE_ANALYSIS.md:38). We standardize on
    // lowercase; this pins the failure mode the divergence causes.
    import org.apache.spark.sql.functions.upper
    val upperSeeds = corpus.nodes
      .filter(col("name_normalized") === upper(col("name_normalized")) &&
        col("name_normalized").rlike("[a-z]"))
    assert(upperSeeds.count() == 0) // stored names are never uppercase
    val hits = corpus.nodes
      .filter(col("name_normalized") === "SPARK") // F3-style lookup
    assert(hits.count() == 0)
    assert(corpus.nodes.filter(col("name_normalized") === "spark").count() == 1)
  }

  test("summarizeContext formats blocks exactly as the reference") {
    import spark.implicits._
    val chunks = Seq(
      ("c1", "T1", "body", "text one", 0.9),
      ("c2", "T2", "body", "text two", 0.8))
      .toDF("chunk_id", "title", "section_name", "text_content", "score")
    val ctx = Tools.summarizeContext(chunks).head.getString(0)
    assert(ctx == "[1] T1 | body\ntext one\n\n[2] T2 | body\ntext two")
  }
}
