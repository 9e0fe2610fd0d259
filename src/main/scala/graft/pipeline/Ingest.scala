package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.ops.{Chunker, Entities, TextFns}

/** The reference's 6-stage batch ingestion dataflow (SURVEY.md §3.3,
  * data/ingestion.py) re-expressed as a chain of narrow/shuffle Spark
  * transformations over the `documents` fixture table.
  *
  * Stage map (reference → here):
  *   load_and_clean  → [[papers]]       (S1, F1, P4)
  *   chunk_documents → [[chunks]]       (G1, G2, P4, F4, F5)
  *   generate_embeddings → join to the precomputed `embeddings` fixture
  *                      (V1 is an external model; SURVEY.md §2.9)
  *   extract_knowledge_graph → [[entityMap]], [[nodes]], [[edges]]
  *                      (V5, F2, A2-A5, G3, G4, A3); the served graph
  *                      tool's [[adjacency]] (J2/J3/U1 pre-aggregated)
  *   upload → parquet writes ([[runAll]]); verify → [[counts]] (S9, A1)
  *
  * Scale notes (100 TB): every stage is either a narrow map/explode or
  * a key-partitioned aggregation. The only global ordering is the
  * `chunk_index` audit column; [[chunks]] computes it per-paper
  * (partitioned window, no single-reducer bottleneck) — the global
  * variant the reference uses is only materialized by the small-SF
  * oracle queries.
  */
object Ingest {

  /** Chunking parameters (reference: data/config.py:25-27). */
  val ChunkSize = 200
  val ChunkOverlap = 30
  val MinChunkWords = 30

  /** Stage 1 — documents → papers with cleaned single `body` section.
    * Papers whose body has <`minBodyWords` words are dropped
    * (reference drops articles <50 words, data/ingestion.py:117-121).
    */
  def papers(documents: DataFrame, minBodyWords: Int = 30): DataFrame =
    documents
      .withColumn("paper_id", TextFns.paperId(col("doc_id")))
      .withColumn("body", TextFns.cleanText(col("text")))
      .filter(TextFns.wordCount(col("body")) >= minBodyWords)
      .select(
        col("paper_id"), col("doc_id"),
        concat(lit("Document "), col("doc_id")).as("title"),
        col("lang"), col("source"), col("body"),
        // RAW.PAPERS audit/metadata parity (sql/01_create_schema.sql:
        // 8-17): reference-ingest defaults for fields the corpus lacks
        // (data/ingestion.py:129) + the INGESTED_AT audit column.
        lit("").as("authors"),
        lit(null).cast("int").as("publication_year"),
        lit("").as("categories"),
        lit("").as("source_url"),
        current_timestamp().as("ingested_at"))

  /** Stage 2 — sliding-window chunks. One section ("body") per paper. */
  def chunks(papers: DataFrame,
             size: Int = ChunkSize, overlap: Int = ChunkOverlap,
             minWords: Int = MinChunkWords): DataFrame = {
    val sectioned = papers.withColumn("section_name", lit("body"))
    val chunked = Chunker.chunk(sectioned, "paper_id", "section_name", "body",
      size, overlap, minWords)
    // Per-paper chunk index: partitioned window, shuffle on paper_id
    // only — scales. (The reference's global counter is reproduced in
    // the oracle query by ordering on (paper_id, chunk_ord), which is
    // identical here because papers arrive in corpus order.)
    val w = Window.partitionBy(col("paper_id")).orderBy(col("chunk_ord"))
    chunked
      .withColumn("chunk_index", row_number().over(w) - 1)
      // RAW.CHUNKS.INGESTED_AT audit parity (sql/01_create_schema.sql:29)
      .withColumn("ingested_at", current_timestamp())
      .select("chunk_id", "paper_id", "chunk_index", "section_name",
        "text_content", "word_count", "ingested_at")
  }

  /** Stage 3 — attach vectors from the precomputed embeddings fixture
    * (vec_id == doc_id). The real encoder is an external model; the
    * engine contract is "a fixed-dim float array column".
    */
  def withEmbeddings(chunks: DataFrame, embeddings: DataFrame): DataFrame =
    chunks
      .withColumn("doc_id",
        regexp_extract(col("paper_id"), "^doc_(\\d+)$", 1).cast("long"))
      .join(embeddings.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"), "left")
      .drop("vec_id")

  /** Stage 4a — chunk→entity occurrence map (G3). One row per mention,
    * confidence fixed at 1.0 (reference: data/ingestion.py:348-353).
    * `map_id` is a deterministic sha2 surrogate for the reference's
    * uuid4 (FIXTURES.md).
    */
  def entityMap(chunks: DataFrame): DataFrame =
    Entities.occurrences(chunks, Seq("chunk_id", "paper_id", "chunk_index"), "text_content")
      .withColumn("map_id",
        sha2(concat_ws("|", col("chunk_id"), col("node_id"), col("ord")), 256))
      .withColumn("confidence", lit(1.0))

  /** Stage 4b — node registry (A2/A4): one row per normalized name;
    * `name` is the first surface form in corpus order (the reference's
    * dict-insertion-order semantics made explicit via min_by over a
    * deterministic occurrence key); `paper_count` = distinct papers.
    * Shuffles once on name_normalized.
    */
  def nodes(entityMap: DataFrame): DataFrame =
    entityMap
      .withColumn("_okey",
        format_string("%s_%06d", col("chunk_id"), col("ord")))
      .groupBy(col("name_normalized"))
      .agg(
        // node_id is functionally determined by the group key
        // (nodeId(name_normalized)); min makes that intent explicit.
        min(col("node_id")).as("node_id"),
        min_by(col("name"), col("_okey")).as("name"),
        countDistinct(col("paper_id")).as("paper_count"))
      .withColumn("label", lit("Entity"))
      // GRAPH.KNOWLEDGE_NODES.EMBEDDING (sql/01_create_schema.sql:50)
      // is written always-null by the reference ingest — schema parity.
      .withColumn("embedding", lit(null).cast("string"))
      .select("node_id", "label", "name", "name_normalized", "paper_count",
        "embedding")

  /** Stage 4c — CO_OCCURS edges (G4 + A3): per chunk, the ordered-
    * distinct entity list yields all unordered pairs; weight = pair
    * count per (src, tgt, paper).
    *
    * Implemented as a self equi-join of the *deduplicated* per-chunk
    * entity set on chunk_id with a `<` theta filter — the canonical
    * ordering (min,max) falls out of the join condition. The dedup
    * before the join keeps the quadratic blowup at C(distinct,2).
    * Scale hazards and mitigations (SURVEY.md §7.4.2): cap entities
    * per chunk via `maxEntitiesPerChunk` (drop the tail by first
    * occurrence, like a length-capped document), and pre-aggregate on
    * (src,tgt,paper) — one shuffle.
    */
  def edges(entityMap: DataFrame, maxEntitiesPerChunk: Int = 0): DataFrame = {
    val distinctPerChunk0 = entityMap
      .groupBy(col("chunk_id"), col("paper_id"), col("node_id"))
      .agg(min(col("ord")).as("first_ord"))
    val distinctPerChunk =
      if (maxEntitiesPerChunk <= 0) distinctPerChunk0
      else {
        val w = Window.partitionBy(col("chunk_id")).orderBy(col("first_ord"))
        distinctPerChunk0.withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= maxEntitiesPerChunk).drop("_rk")
      }
    val a = distinctPerChunk.select(
      col("chunk_id"), col("paper_id"), col("node_id").as("src"))
    val b = distinctPerChunk.select(
      col("chunk_id").as("chunk_id_b"), col("node_id").as("tgt"))
    a.join(b, col("chunk_id") === col("chunk_id_b") && col("src") < col("tgt"))
      .groupBy(col("src").as("source_node_id"), col("tgt").as("target_node_id"),
        col("paper_id"))
      .agg(count(lit(1)).cast("double").as("weight"))
      .withColumn("edge_id",
        sha2(concat_ws("|", col("source_node_id"), col("target_node_id"),
          col("paper_id")), 256))
      .withColumn("relation_type", lit("CO_OCCURS"))
      // GRAPH.KNOWLEDGE_EDGES.INGESTED_AT (sql/01_create_schema.sql:62)
      .withColumn("ingested_at", current_timestamp())
      .select("edge_id", "source_node_id", "target_node_id", "relation_type",
        "paper_id", "weight", "ingested_at")
  }

  /** Stage 4d — the symmetric seed adjacency the knowledge-graph tool
    * reads (tools.py:160-214's 2-hop CO_OCCURS lookup, pre-aggregated):
    * one row per (`seed` = a node's name_normalized, `neighbor_id`)
    * over `edges` ∪ reversed `edges`, with `total_weight` = the summed
    * edge weights. Filtering it on seed names gives exactly the rows of
    * a seed-first join, because the filter is on the grouping key, and
    * `weight` is an integer count, so no summation order changes a bit.
    * Seeds stay names, never [[TextFns.nodeId]] (it truncates, so it is
    * not injective).
    *
    * Scale note: a shuffled hash join on `node_id`, a shuffle for the
    * aggregate, then a hash repartition on `seed` sorted within
    * partitions (no single-reducer sort). Cached ([[pinnedAdjacency]]),
    * the sorted batches' min/max stats let an `IN` filter on `seed`
    * skip the batches it cannot match.
    */
  def adjacency(nodes: DataFrame, edges: DataFrame): DataFrame = {
    def directed(from: String, to: String): DataFrame =
      edges.select(col(from).as("node_id"), col(to).as("neighbor_id"), col("weight"))
    // a shuffle join, never a broadcast: the cached copy's lineage
    // would keep the broadcast relation's driver copy alive as long as
    // the cache (a whole 16 MB hash-map page for 29 nodes, measured)
    nodes.select(col("node_id"), col("name_normalized").as("seed")).hint("shuffle_hash")
      .join(directed("source_node_id", "target_node_id")
        .union(directed("target_node_id", "source_node_id")), "node_id")
      .groupBy(col("seed"), col("neighbor_id"))
      .agg(sum(col("weight")).as("total_weight"))
      .repartition(col("seed"))
      .sortWithinPartitions(col("seed"))
  }

  /** The pinned [[adjacency]] of each live `nodes` table, with the
    * `edges` it was built from. Weak keys: a dropped corpus's entry
    * goes with it. */
  private val pinned = new java.util.WeakHashMap[DataFrame, (DataFrame, DataFrame)]()

  /** [[adjacency]] cached once per (`nodes`, `edges`) pair: every call
    * with the same two tables returns the same cached copy, and re-pins
    * it if the cache was cleared. The first call runs the build's
    * shuffle stages; the cache fills on the first action over it.
    *
    * The copy is cached from a lineage cut (a DataFrame over the
    * adjacency's RDD), so a plan that reads it prints and keeps only a
    * scan, not the build plans of `nodes` and `edges` and of every
    * cached table under them. Uncut, each served lookup left a ~550 KB
    * plan description in Spark's SQL status store.
    */
  def pinnedAdjacency(nodes: DataFrame, edges: DataFrame): DataFrame = pinned.synchronized {
    val adj = Option(pinned.get(nodes)).collect { case (e, a) if e eq edges => a }.getOrElse {
      val built = adjacency(nodes, edges)
      val cut = nodes.sparkSession.createDataFrame(built.rdd, built.schema)
      pinned.put(nodes, (edges, cut))
      cut
    }
    if (adj.storageLevel == StorageLevel.NONE) adj.persist() else adj
  }

  /** Stage 6 — S9/A1 verification: one (table, row_count) row per
    * materialized output.
    */
  def counts(spark: SparkSession, tables: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    tables.toSeq.sortBy(_._1)
      .map { case (n, df) => (n, df.count()) }
      .toDF("table_name", "row_count")
  }

  /** Run the full pipeline from the fixture dir, materializing each
    * stage to parquet (the reference's checkpoint-per-stage shape,
    * data/config.py:13-17).
    *
    * With `resume = true`, a stage whose checkpoint already exists
    * (judged by Spark's `_SUCCESS` commit marker, so partial writes
    * are never trusted) is NOT recomputed — it is read back from
    * parquet and downstream stages build on it, mirroring the
    * reference's `--resume` stage-skip (data/ingestion.py:92-95,
    * 568-569). Every completed stage is read back from its checkpoint
    * before feeding the next one, which also truncates lineage: a
    * restart after stage k re-plans from k's files, not from raw
    * documents.
    */
  def runAll(spark: SparkSession, sfDir: String, outDir: String,
             resume: Boolean = false): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete(name: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/$name/_SUCCESS"))
    def stage(name: String)(build: => DataFrame): DataFrame = {
      if (!(resume && complete(name)))
        build.write.mode("overwrite").parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val embs = Tables.load(spark, sfDir, "embeddings")
    val p  = stage("papers")(papers(docs))
    val ce = stage("chunks")(withEmbeddings(chunks(p), embs))
    val m  = stage("chunk_entity_map")(entityMap(ce))
    val n  = stage("knowledge_nodes")(nodes(m))
    val e  = stage("knowledge_edges")(edges(m))
    val outputs = Map("papers" -> p, "chunks" -> ce, "chunk_entity_map" -> m,
      "knowledge_nodes" -> n, "knowledge_edges" -> e)
    outputs.map { case (name, df) => name -> df.count() }
  }
}
