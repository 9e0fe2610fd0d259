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

  /** The reference's 2-hop CO_OCCURS lookup (tools.py:160-214) in plain
    * Scala over the collected tables: the query's entity names, seeds
    * matched on name_normalized, edges followed in both directions,
    * weights summed per (seed, neighbor), ordered by total_weight desc
    * then seed, neighbor_id, first k. */
  private def twoHop(question: String, k: Int): Seq[(String, String, Double)] = {
    val names = question.trim.split("\\s+").toSeq
      .map(_.replaceAll("^[^A-Za-z0-9]+|[^A-Za-z0-9]+$", ""))
      .filter(_.length >= 3)
      .map(_.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll("\\s+", " ").trim)
      .filter(n => n.nonEmpty && !graft.ops.Entities.stopwords.contains(n))
      .toSet
    val seeds = corpus.nodes.select("node_id", "name_normalized").collect()
      .collect { case r if names(r.getString(1)) => r.getString(0) -> r.getString(1) }
    val edges = corpus.edges.select("source_node_id", "target_node_id", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val hops = for {
      (id, seed) <- seeds.toSeq
      (src, tgt, w) <- edges.toSeq
      neighbor <- (if (src == id) Seq(tgt) else Nil) ++ (if (tgt == id) Seq(src) else Nil)
    } yield (seed, neighbor, w)
    hops.groupMapReduce(h => (h._1, h._2))(_._3)(_ + _).toSeq
      .map { case ((seed, neighbor), w) => (seed, neighbor, w) }
      .sortBy { case (seed, neighbor, w) => (-w, seed, neighbor) }
      .take(k)
  }

  test("searchKnowledgeGraph returns exactly the 2-hop rows of the collected graph") {
    val seeded = Seq(
      "How is SPARK related to Query, DATA?",
      "...spark!! (spark) data-- 'query'",
      "the and of is to an ML spark with data for are")
    val unseeded = "relationship between zzzqqqzzz and xxyyzzxx"
    for (q <- seeded :+ unseeded; k <- Seq(1, 5, 50)) {
      val df = Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges, q, k)
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("seed" -> "string", "neighbor_id" -> "string", "total_weight" -> "double"))
      val got = df.collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      val want = twoHop(q, k)
      assert(got == want, s"question '$q', k = $k")
      assert(want.nonEmpty == seeded.contains(q), s"question '$q' seeds nothing")
    }
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

  test("citation, history and eval_metrics lines are byte-equal to to_json(struct(*))") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.graft.Bridge
    val question = "what is \"spark\"\nquery — naïve 数据 ✓"
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val ran = Agent.run(corpus, question, queryVec)
      val schema = ran.citations.schema
      assert(ran.citationRows.size >= 2)
      // the top citation loses its score and section name
      val nulled = Set("score", "section_name")
      val first = Row.fromSeq(schema.fieldNames.toSeq.zip(ran.citationRows.head.toSeq)
        .map { case (f, v) => if (nulled(f)) null else v })
      val rows = first +: ran.citationRows.tail
      val res = ran.copy(citations = spark.createDataFrame(rows.asJava, schema),
        citationRows = rows)
      def toJson(df: DataFrame): Seq[String] =
        df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq
      def written(df: DataFrame): Seq[String] =
        Bridge.jsonLines(spark, df.schema, df.collect().toSeq)
      val cited = Bridge.jsonLines(spark, schema, rows)
      assert(cited == toJson(res.citations))
      assert(!cited.head.contains("\"score\"") && !cited.head.contains("section_name"))
      // the papers schema carries a null publication_year on every row
      val papers = corpus.papers.orderBy("paper_id").limit(3)
      assert(papers.filter(col("publication_year").isNull).count() == 3)
      assert(written(papers) == toJson(papers))
      for (df <- Seq(Agent.historyRecord(spark, question, res),
                     Agent.evalMetricsRow(spark, question, res))) {
        val lines = written(df)
        assert(lines == toJson(df) && lines.size == 1, df.schema.treeString)
        assert(lines.head.contains("naïve 数据 ✓") && lines.head.contains("\\\"spark\\\"\\nquery"))
      }
      // the eval timestamp is rendered in the session zone, as to_json does
      assert(written(Agent.evalMetricsRow(spark, question, res)).head
        .matches(".*\"timestamp\":\"[0-9T:.-]+-0[78]:00\".*"))
      // the sinks Agent.run writes read back under their schemas, with
      // both records stamped from one instant
      val dir = java.nio.file.Files.createTempDirectory("graft_sink_lines").toString
      val logged = Agent.run(corpus, question, queryVec, historyDir = Some(dir))
      val hist = spark.read.schema(Agent.historyRecord(spark, question, logged).schema)
        .json(s"$dir/history").head
      val eval = spark.read.schema(Agent.EvalMetricsSchema).json(s"$dir/eval_metrics").head
      val want = Agent.evalMetricsRow(spark, question, logged).head
      for (f <- Agent.EvalMetricsSchema.fieldNames.filter(_ != "timestamp"))
        assert(eval.get(eval.fieldIndex(f)) == want.get(want.fieldIndex(f)), f)
      assert(hist.getAs[String]("query") == question && hist.getAs[String]("answer") == logged.answer)
      assert(hist.getSeq[Row](hist.fieldIndex("chunks")).map(_.getAs[String]("chunk_id")) ==
        logged.citationRows.map(_.getAs[String]("chunk_id")))
      val stamped = spark.createDataFrame(java.util.List.of(Row(hist.getAs[String]("timestamp"))),
          org.apache.spark.sql.types.StructType.fromDDL("ts string"))
        .select(date_trunc("millisecond", col("ts").cast("timestamp"))).head.getTimestamp(0)
      assert(stamped == eval.getAs[java.sql.Timestamp]("timestamp"))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
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
    // a question with no entity name at all seeds nothing
    assert(Tools.callTool(corpus, queryVec, "search_knowledge_graph",
      Map("q" -> "is it ok?")).toOption.get.count() == 0)
    // a non-positive top_k is an error record, like the Server's 400 —
    // not a planner exception from limit(-3)
    for (tool <- Seq("search_papers", "search_knowledge_graph"); v <- Seq("0", "-3"))
      assert(Tools.callTool(corpus, queryVec, tool, Map("question" -> "spark", "top_k" -> v)) ==
        Left(s"invalid top_k: '$v'"))
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
    // the tool pinned one cached adjacency for the corpus, and pins it
    // again after the cache dropped it
    val adj = Ingest.pinnedAdjacency(corpus.nodes, corpus.edges)
    assert(adj.storageLevel != StorageLevel.NONE)
    adj.unpersist(blocking = true)
    assert(Ingest.pinnedAdjacency(corpus.nodes, corpus.edges) eq adj)
    assert(adj.storageLevel != StorageLevel.NONE)
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
