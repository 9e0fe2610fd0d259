package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{Entities, TextFns, VectorOps}

/** The reference's tool registry re-expressed as engine functions
  * (SURVEY.md §2.12; tool_schemas.py:11-118). Each tool is a query
  * over pre-built tables — the orchestration layer (Agent) composes
  * them with the reference's fallback rules.
  */
object Tools {

  /** search_papers (tools.py:45-92): V2 cosine scoring over the chunk
    * corpus + top-k + metadata projection. `chunksV` is the
    * chunks⋈papers view with an `embedding` column; `queryVec` is a
    * literal/broadcastable vector column.
    */
  def searchPapers(chunksV: DataFrame, queryVec: Column, topK: Int = 5): DataFrame = {
    chunksV
      .withColumn("score_raw", VectorOps.cosine(col("embedding"), queryVec))
      .orderBy(col("score_raw").desc, col("chunk_id"))
      .limit(topK)
      .withColumn("score", round(col("score_raw"), 4))
      .drop("score_raw", "embedding")
  }

  /** get_paper_details (tools.py:116-124): P2 point lookup, 0/1 row. */
  def paperDetails(papers: DataFrame, paperId: String): DataFrame =
    papers.filter(col("paper_id") === lit(paperId))

  /** search_knowledge_graph (tools.py:160-214): extract entities from
    * the query text, seed-match on name_normalized, follow CO_OCCURS
    * edges both directions (J2/J3), union (U1), rank by weight with a
    * LIMIT (T2 — the agent path applies the limit; the backend path's
    * unbounded variant is a documented reference divergence).
    */
  def searchKnowledgeGraph(nodes: DataFrame, edges: DataFrame,
                           queryText: String, topK: Int = 5): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val qEnts = Seq(queryText).toDF("text")
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .select(Entities.stripEdges(col("token")).as("name"))
      .filter(length(col("name")) >= 3)
      .select(TextFns.normalizeEntity(col("name")).as("name_normalized"))
      .filter(col("name_normalized") =!= "" &&
        !col("name_normalized").isin(Entities.stopwords: _*))
      .distinct()
    val seeds = nodes.join(broadcast(qEnts), Seq("name_normalized"), "left_semi")
      .select(col("node_id"), col("name_normalized"))
    val fwd = broadcast(seeds)
      .join(edges, col("node_id") === col("source_node_id"))
      .select(col("name_normalized").as("seed"),
        col("target_node_id").as("neighbor_id"), col("weight"))
    val rev = broadcast(seeds)
      .join(edges, col("node_id") === col("target_node_id"))
      .select(col("name_normalized").as("seed"),
        col("source_node_id").as("neighbor_id"), col("weight"))
    fwd.union(rev)
      .groupBy(col("seed"), col("neighbor_id"))
      .agg(sum(col("weight")).as("total_weight"))
      .orderBy(col("total_weight").desc, col("seed"), col("neighbor_id"))
      .limit(topK)
  }

  /** Tool names in the registry, in the reference's declaration order
    * (tool_schemas.py). */
  val toolNames: Seq[String] = Seq("search_papers", "get_paper_details",
    "search_knowledge_graph", "summarize_context")

  /** Dynamic name→tool dispatch — the reference's extensibility
    * surface (agent.py:65-92): tools are looked up by NAME at call
    * time, unknown names return an error record instead of throwing
    * (agent.py:68-69), and argument names are tolerated per the
    * reference's aliases (agent.py:79-86): `question|q`,
    * `query|question|q`, `top_k|k`, `paper_id|id`. summarize_context
    * falls back to `lastCitations` when no chunks argument is given
    * (agent.py:85-86's `_last_citations` compensation).
    */
  def callTool(corpus: Agent.Corpus, queryVec: Column,
               name: String, args: Map[String, String] = Map.empty,
               lastCitations: Option[DataFrame] = None): Either[String, DataFrame] = {
    def arg(keys: String*): Option[String] = keys.flatMap(args.get).headOption
    // tolerant like the rest of the dispatch contract: a malformed
    // top_k becomes an error record, never an exception
    def topK: Either[String, Int] = arg("top_k", "k") match {
      case None => Right(5)
      case Some(v) => v.toIntOption.toRight(s"invalid top_k: '$v'")
    }
    name match {
      case "search_papers" =>
        topK.map(k => searchPapers(corpus.chunksV, queryVec, k))
      case "get_paper_details" =>
        Right(paperDetails(corpus.papers, arg("paper_id", "id").getOrElse("")))
      case "search_knowledge_graph" =>
        topK.map(k => searchKnowledgeGraph(corpus.nodes, corpus.edges,
          arg("query", "question", "q").getOrElse(""), k))
      case "summarize_context" =>
        lastCitations.map(c => Right(summarizeContext(c)))
          .getOrElse(Left("summarize_context: no chunks argument and no prior citations"))
      case other =>
        Left(s"Unknown tool: $other")
    }
  }

  /** summarize_context (tools.py:239-258): the LLM call is external;
    * the deterministic engine work is the context assembly — exactly
    * the reference's `[i] Title | Section\ntext` block format, blocks
    * in (score desc, chunk_id) order joined by blank lines. Citations
    * are at most a handful of rows, so this runs on the driver over
    * rows the caller already collected.
    */
  def summarize(chunks: Seq[Row]): String =
    chunks.sortBy(r => (r.isNullAt(r.fieldIndex("score")),
        -r.getAs[Double]("score"), r.getAs[String]("chunk_id")))
      .zipWithIndex.map { case (r, i) =>
        s"[${i + 1}] ${r.getAs[String]("title")} | ${r.getAs[String]("section_name")}\n" +
          r.getAs[String]("text_content")
      }.mkString("\n\n")

  /** [[summarize]] as a tool over a citation DataFrame: one `context`
    * row. */
  def summarizeContext(chunks: DataFrame): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    Seq(summarize(chunks.collect().toSeq)).toDF("context")
  }
}
