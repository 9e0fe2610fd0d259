package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import graft.sources.Sources

/** Deterministic replacement for the reference's LLM agent loop
  * (SURVEY.md §3.1, agent.py:127-228). The LLM chose tools from a
  * registry under a hard-coded plan (search → summarize) with
  * compensating rules; here the planner IS those rules, executed
  * deterministically:
  *
  *  - KG-looking queries (reference: tool choice) run the graph tool,
  *    then ALWAYS run a compensating vector search (agent.py:185-188);
  *  - summarize is force-invoked with the top citations if no
  *    summarize happened (agent.py:204-211);
  *  - citations capped at 5 (agent.py:210,223);
  *  - empty context → apology answer (agent.py:213-214);
  *  - every run appends an eval_metrics row
  *    (sql/01_create_schema.sql:97-108), confidence = top citation
  *    score (backend/app.py:96).
  */
object Agent {

  case class AgentResult(
      answer: String,
      citations: DataFrame,
      toolsUsed: Seq[String],
      steps: Int,
      latencyMs: Long)

  /** Tables the agent operates over (pre-built by the ingest pipeline). */
  case class Corpus(chunksV: DataFrame, papers: DataFrame,
                    nodes: DataFrame, edges: DataFrame)

  /** Hard cap on planner steps — the reference's loop bound
    * (agent.py:32 `MAX_ITERATIONS = 6`; the for-loop at agent.py:142).
    * Our deterministic plan uses at most 3 tools, so the cap is an
    * invariant (checked in [[run]]), not a truncation.
    */
  val MaxIterations = 6

  private val GraphCue = Seq("related", "relationship", "connected", "graph")

  def isGraphQuery(question: String): Boolean = {
    val q = question.toLowerCase
    GraphCue.exists(q.contains)
  }

  /** Run one question. `queryVec` stands in for the external encoder
    * (the engine contract is "a vector column", SURVEY.md §2.9 V1).
    *
    * Like the reference's `_prefetch_chunks`, the cited rows are
    * fetched once: the search's top 5 are collected — for a plain
    * question the run's only Spark job — and the answer, the returned
    * `citations` (a driver-local DataFrame, never cached) and both
    * sink records are built from them.
    *
    * When `historyDir` is set, every run appends — exactly like the
    * reference backend does per query (backend/app.py:42-71 +
    * sql/01_create_schema.sql:97-108) —
    *  - `$historyDir/history`: one `{timestamp, query, answer,
    *    chunks}` JSONL record ([[historyRecord]]);
    *  - `$historyDir/eval_metrics`: one APP.EVAL_METRICS row
    *    ([[evalMetricsRow]]).
    */
  def run(corpus: Corpus, question: String,
          queryVec: org.apache.spark.sql.Column, topK: Int = 5,
          historyDir: Option[String] = None): AgentResult = {
    val t0 = System.nanoTime()
    val spark = corpus.chunksV.sparkSession
    var tools = Vector.empty[String]

    val graphHits: Option[DataFrame] =
      if (isGraphQuery(question)) {
        tools :+= "search_knowledge_graph"
        Some(Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges, question, topK))
      } else None

    // KG-only queries trigger a compensating vector search
    // (agent.py:185-188); plain queries search directly.
    tools :+= "search_papers"
    val hits = Tools.searchPapers(corpus.chunksV, queryVec, topK).limit(5)
    val rows = hits.collect()
    val citations = spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema)

    // force-invoked, appended to tools_used only when absent
    // (agent.py:204-211) — with this planner that is always
    if (!tools.contains("summarize_context")) tools :+= "summarize_context"
    val answer =
      if (rows.isEmpty)
        "I'm sorry, I could not find relevant context to answer that."
      else
        Tools.summarize(rows.toSeq)

    // materialize graph hits (if any) so the tool actually executed
    graphHits.foreach(_.count())

    val latencyMs = (System.nanoTime() - t0) / 1000000
    // steps ≡ tool invocations (one tool per planner step here; the
    // reference counts loop iterations, agent.py:141-143) and can
    // never exceed the reference's MAX_ITERATIONS bound.
    assert(tools.size <= MaxIterations,
      s"planner exceeded MAX_ITERATIONS=$MaxIterations: $tools")
    val result = AgentResult(answer, citations, tools, steps = tools.size, latencyMs = latencyMs)

    historyDir.foreach(dir => appendSinks(spark, dir, sinkLines(spark, question, result)))
    result
  }

  /** A finished run's history and eval_metrics records as JSON lines,
    * keyed by their sink directory's name. */
  private[query] def sinkLines(spark: SparkSession, question: String,
                               result: AgentResult): Seq[(String, Seq[String])] =
    Seq("history" -> historyRecord(spark, question, result),
      "eval_metrics" -> evalMetricsRow(spark, question, result))
      .map { case (sink, df) => sink -> Sources.jsonLines(df) }

  /** Append [[sinkLines]] under `dir`, one new file per sink. */
  private[query] def appendSinks(spark: SparkSession, dir: String,
                                 lines: Seq[(String, Seq[String])]): Unit =
    lines.foreach { case (sink, ls) => Sources.appendJsonLines(spark, ls, s"$dir/$sink") }

  /** The reference's history entry (backend/app.py:51-56): timestamp
    * (ISO-8601), query, answer, and the citation chunk metadata as an
    * array of structs in citation order (score descending). Built on
    * the driver from the citation rows: a driver-local DataFrame.
    */
  def historyRecord(spark: SparkSession, question: String,
                    result: AgentResult): DataFrame = {
    val chunks = result.citations.select("score", "chunk_id", "paper_id", "title")
    spark.createDataFrame(
        java.util.List.of(Row(chunks.collect().toSeq)),
        StructType(Seq(StructField("chunks", ArrayType(chunks.schema)))))
      .withColumn("timestamp",
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
      .withColumn("query", lit(question))
      .withColumn("answer", lit(result.answer))
      .select("timestamp", "query", "answer", "chunks")
  }

  /** Append-only eval-metrics row for a finished run
    * (APP.EVAL_METRICS shape, sql/01_create_schema.sql:97-108),
    * confidence = top citation score. A driver-local DataFrame. */
  def evalMetricsRow(spark: SparkSession, question: String,
                     result: AgentResult, retrievalMode: String = "agentic"): DataFrame = {
    import spark.implicits._
    val confidence = result.citations.select("score").collect()
      .collect { case r if !r.isNullAt(0) => r.getDouble(0) }
      .maxOption.getOrElse(0.0)
    Seq((question, result.answer, result.toolsUsed.mkString(","), retrievalMode,
      confidence, result.latencyMs))
      .toDF("question", "generated_response", "context_used", "retrieval_mode",
        "confidence", "latency_ms")
      .withColumn("log_id",
        sha2(concat_ws("|", col("question"), col("latency_ms")), 256))
      .withColumn("faithfulness_score", lit(null).cast("double"))
      .withColumn("answer_relevance_score", lit(null).cast("double"))
      .withColumn("timestamp", current_timestamp())
      .select("log_id", "question", "generated_response", "context_used",
        "retrieval_mode", "faithfulness_score", "answer_relevance_score",
        "confidence", "latency_ms", "timestamp")
  }
}
