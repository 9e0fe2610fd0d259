package graft.query

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
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

  /** A finished run. `citations` is a driver-local DataFrame over
    * `citationRows`, the search's collected top rows. */
  case class AgentResult(
      answer: String,
      citations: DataFrame,
      citationRows: Seq[Row],
      toolsUsed: Seq[String],
      steps: Int,
      latencyMs: Long)

  /** Tables the agent operates over (pre-built by the ingest pipeline). */
  case class Corpus(chunksV: DataFrame, papers: DataFrame,
                    nodes: DataFrame, edges: DataFrame) {
    /** What the search scans: `chunksV`'s rows as one plan leaf over
      * the same cached blocks (no second copy), built once per corpus.
      * A search's plan, and what Spark's SQL status store keeps of it
      * per request, then shows a scan instead of the ingest lineage. */
    lazy val chunksScan: DataFrame = Bridge.scanOf(chunksV)
  }

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
    * fetched once: the search's top 5 over [[Corpus.chunksScan]] are
    * collected — for a plain question the run's only SQL execution
    * and only Spark job — and the answer, the returned `citations` (a
    * driver-local DataFrame, never cached) and both sink records are
    * built from them with no further SQL execution. A graph-cue
    * question adds the graph tool: one job, the top-k over the
    * corpus's adjacency, cached by the first graph-cue question
    * ([[Ingest.pinnedAdjacency]]).
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

    if (isGraphQuery(question)) {
      tools :+= "search_knowledge_graph"
      // the reference hands these rows to the LLM; no deterministic
      // step reads them, but the tool runs on every graph-cue request
      Tools.searchKnowledgeGraph(corpus.nodes, corpus.edges, question, topK).collect()
    }

    // KG-only queries trigger a compensating vector search
    // (agent.py:185-188); plain queries search directly.
    tools :+= "search_papers"
    val hits = Tools.searchPapers(corpus.chunksScan, queryVec, topK).limit(5)
    val rows = hits.collect().toSeq
    val citations = spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema)

    // force-invoked, appended to tools_used only when absent
    // (agent.py:204-211) — with this planner that is always
    if (!tools.contains("summarize_context")) tools :+= "summarize_context"
    val answer =
      if (rows.isEmpty)
        "I'm sorry, I could not find relevant context to answer that."
      else
        Tools.summarize(rows)

    val latencyMs = (System.nanoTime() - t0) / 1000000
    // steps ≡ tool invocations (one tool per planner step here; the
    // reference counts loop iterations, agent.py:141-143) and can
    // never exceed the reference's MAX_ITERATIONS bound.
    assert(tools.size <= MaxIterations,
      s"planner exceeded MAX_ITERATIONS=$MaxIterations: $tools")
    val result = AgentResult(answer, citations, rows, tools, steps = tools.size,
      latencyMs = latencyMs)

    historyDir.foreach(dir => appendSinks(spark, dir, sinkLines(spark, question, result)))
    result
  }

  /** A finished run's history and eval_metrics records as JSON lines,
    * keyed by their sink directory's name: written on the driver from
    * the citation rows by [[Bridge.jsonLines]], exactly as
    * `to_json(struct(*))` writes [[historyRecord]] and
    * [[evalMetricsRow]]. Both records carry one timestamp. */
  private[query] def sinkLines(spark: SparkSession, question: String,
                               result: AgentResult): Seq[(String, Seq[String])] = {
    val at = now()
    Seq("history" -> (historySchema(result), historyRow(spark, question, result, at)),
      "eval_metrics" -> (EvalMetricsSchema, evalMetricsRecord(question, result, at, "agentic")))
      .map { case (sink, (schema, row)) => sink -> Bridge.jsonLines(spark, schema, Seq(row)) }
  }

  /** Append [[sinkLines]] under `dir`, one new file per sink. */
  private[query] def appendSinks(spark: SparkSession, dir: String,
                                 lines: Seq[(String, Seq[String])]): Unit =
    lines.foreach { case (sink, ls) => Sources.appendJsonLines(spark, ls, s"$dir/$sink") }

  /** The citation fields a history entry keeps, in its order. */
  private val HistoryChunkFields = Seq("score", "chunk_id", "paper_id", "title")

  /** `date_format`'s pattern for the history timestamp. */
  private val HistoryTimestamp = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** The current instant at `current_timestamp()`'s precision. */
  private def now(): Instant = Instant.now().truncatedTo(ChronoUnit.MICROS)

  private def historySchema(result: AgentResult): StructType = {
    val cits = result.citations.schema
    StructType(Seq(
      StructField("timestamp", StringType), StructField("query", StringType),
      StructField("answer", StringType),
      StructField("chunks", ArrayType(StructType(HistoryChunkFields.map(cits(_)))))))
  }

  private def historyRow(spark: SparkSession, question: String,
                         result: AgentResult, at: Instant): Row = {
    val idx = HistoryChunkFields.map(result.citations.schema.fieldIndex)
    Row(Bridge.formatTimestamp(spark, HistoryTimestamp, at), question, result.answer,
      result.citationRows.map(r => Row.fromSeq(idx.map(r.get))))
  }

  /** The reference's history entry (backend/app.py:51-56): timestamp
    * (ISO-8601, the session's time zone), query, answer, and the
    * citation chunk metadata as an array of structs in citation order
    * (score descending). A driver-local DataFrame over the row
    * [[sinkLines]] writes.
    */
  def historyRecord(spark: SparkSession, question: String,
                    result: AgentResult): DataFrame =
    spark.createDataFrame(java.util.List.of(historyRow(spark, question, result, now())),
      historySchema(result))

  /** APP.EVAL_METRICS (sql/01_create_schema.sql:97-108), in column order. */
  val EvalMetricsSchema: StructType = StructType(Seq(
    StructField("log_id", StringType), StructField("question", StringType),
    StructField("generated_response", StringType), StructField("context_used", StringType),
    StructField("retrieval_mode", StringType),
    StructField("faithfulness_score", DoubleType),
    StructField("answer_relevance_score", DoubleType),
    StructField("confidence", DoubleType, nullable = false),
    StructField("latency_ms", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  /** The top citation score, 0 without a scored citation
    * (backend/app.py:96). */
  def confidence(result: AgentResult): Double = {
    val i = result.citations.schema.fieldIndex("score")
    result.citationRows.collect { case r if !r.isNullAt(i) => r.getDouble(i) }
      .maxOption.getOrElse(0.0)
  }

  /** `log_id` is `sha2(concat_ws('|', question, latency_ms), 256)`:
    * the SHA-256 hex of the UTF-8 text. */
  private def evalMetricsRecord(question: String, result: AgentResult, at: Instant,
                                retrievalMode: String): Row = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$question|${result.latencyMs}".getBytes(StandardCharsets.UTF_8))
    Row(java.util.HexFormat.of().formatHex(digest), question, result.answer,
      result.toolsUsed.mkString(","), retrievalMode, null, null, confidence(result),
      result.latencyMs, java.sql.Timestamp.from(at))
  }

  /** Append-only eval-metrics row for a finished run
    * ([[EvalMetricsSchema]]), confidence = top citation score. A
    * driver-local DataFrame over the row [[sinkLines]] writes. */
  def evalMetricsRow(spark: SparkSession, question: String,
                     result: AgentResult, retrievalMode: String = "agentic"): DataFrame =
    spark.createDataFrame(
      java.util.List.of(evalMetricsRecord(question, result, now(), retrievalMode)),
      EvalMetricsSchema)
}
