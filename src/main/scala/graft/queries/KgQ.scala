package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Lineage.CutOps
import graft.ops.{Chunker, Entities, GlobalIndex, TextFns, VectorOps}
import graft.pipeline.Ingest

/** Reference-parity pipeline queries (SURVEY.md §2.10, §3.3): the
  * chunker, entity map, node registry, co-occurrence edges, the 2-hop
  * graph query, and the flagship chunk search — each with a DuckDB
  * oracle that re-derives the identical pipeline in SQL CTEs.
  *
  * Chunk params here are (size=20, overlap=5, min=5) — smaller than
  * the reference's (200, 30, 30) so the synthetic ~54-word documents
  * actually produce multi-chunk sliding windows and exercise the
  * stride/last-partial-window logic. The reference params are covered
  * by unit tests (ChunkerSpec).
  *
  * Scale note: the only global construct is the audit `chunk_index`
  * (reference keeps a global counter, data/ingestion.py:188); the
  * oracle queries reproduce it with a global row_number at small SF,
  * while the pipeline (graft.pipeline.Ingest) uses the per-paper
  * variant that scales.
  */
object KgQ {

  val Size = 20
  val Overlap = 5
  val MinWords = 5
  val Stride: Int = Size - Overlap

  /** Seed entity names for the 2-hop graph query (J2/J3/U1/T2,
    * reference tools.py:186-203). */
  val SeedNames = Seq("spark", "data", "query")

  /** k12 skew caps (SURVEY.md §7.4.2): an entity appearing in more
    * than EdgeMaxDfFrac of all distinct chunks is dropped (RELATIVE
    * hot-key cap — an absolute cap tuned at one SF keeps everything
    * or nothing at 100×), and each chunk contributes at most
    * EdgeCapPerChunk entities to the pair generator (C(cap,2) bound
    * per chunk). Both mirrored in the oracle. At sf0.01 both bind:
    * the fixture's hot tokens sit at ~43–50% chunk df, so 0.45 drops
    * the head; surviving chunks still carry more than 6 entities. */
  val EdgeCapPerChunk = 6
  val EdgeMaxDfFrac = 0.45

  /** Chunk table without the audit index: pure narrow explode, no
    * shuffle — the shape every downstream KG query uses.
    */
  def chunksNoIndex(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "chunks") {
      // documents.parquet is one row group → one input partition; the
      // chunk+extract pipeline would run single-threaded. One cheap
      // shuffle of the raw docs spreads the expensive narrow work
      // across all cores (and, on a cluster, all executors).
      val docs = Tables.load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val p = Ingest.papers(docs)
      val sectioned = p.withColumn("section_name", lit("body"))
      Chunker.chunk(sectioned, "paper_id", "section_name", "body", Size, Overlap, MinWords)
    }

  /** Reference-shaped chunk table with the GLOBAL chunk_index,
    * computed scale-safely: range-partition + per-partition counts +
    * cumulative offsets ([[graft.ops.GlobalIndex]]) instead of the
    * single-reducer `row_number().over(Window.orderBy(...))`. Same
    * values (rank in the (paper_id, chunk_ord) total order), no
    * global window anywhere in the plan.
    */
  def chunksDf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "chunks_indexed") {
      GlobalIndex.withGlobalIndex(chunksNoIndex(s, d),
          Seq(col("paper_id"), col("chunk_ord")), "_gidx")
        .withColumn("chunk_index", col("_gidx").cast("int"))
        .drop("_gidx")
    }

  /** Entity occurrences (V5 + G3). Keyed by chunk_id (+ord) only —
    * the occurrence key for first-wins naming doesn't need the global
    * chunk index. Memoized per session (the reference materializes
    * this table once at ingest; k3–k9 all read it).
    */
  def entsDf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "ents") {
      Entities.occurrences(chunksNoIndex(s, d),
        Seq("chunk_id", "paper_id"), "text_content")
    }

  /** Distinct per-chunk entity set WITH first occurrence —
    * (chunk_id, paper_id, node_id, first_ord). Feeds both sides of
    * the pair self-join in [[edgesFrom]] (k4) AND k12's capped
    * variant, so it is persisted once — otherwise the whole
    * chunk+extract pipeline runs per consumer (measured 2× on the
    * sf0.1 bench). Derived-managed so the persist shares the same
    * lifecycle (invalidate/clearCache) as every other cached
    * intermediate — no bare `.persist()` outside Derived.
    */
  private def distinctEntsDf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "ents_distinct") {
      entsDf(s, d)
        .groupBy(col("chunk_id"), col("paper_id"), col("node_id"))
        .agg(min(col("ord")).as("first_ord"))
    }

  /** CO_OCCURS edges from a distinct (chunk_id, paper_id, node_id)
    * per-chunk entity set (see [[distinctEntsDf]]).
    */
  def edgesFrom(dpc: DataFrame): DataFrame = {
    val a = dpc.select(col("chunk_id"), col("paper_id"), col("node_id").as("src"))
    val b = dpc.select(col("chunk_id").as("chunk_id_b"), col("node_id").as("tgt"))
    a.join(b, col("chunk_id") === col("chunk_id_b") && col("src") < col("tgt"))
      .groupBy(col("src"), col("tgt"), col("paper_id"))
      .agg(count(lit(1)).cast("double").as("weight"))
  }

  def edgesDf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "edges")(edgesFrom(distinctEntsDf(s, d)))

  /** Distinct undirected edge set (src < tgt canonical), shared by
    * the triangle family (k9 listing, k13 clustering coefficients). */
  private def triEdges(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "tri_edges")(
      edgesDf(s, d).select(col("src"), col("tgt")).distinct())

  /** k15/k24's shared frame: min-label components of the one-week
    * date-windowed bipartite graph, (node, component). */
  private def windowComponents(s: SparkSession, d: String): DataFrame =
    // shared by k15 (membership) and k24 (size distribution): the
    // propagation loop runs once per session, not once per consumer
    Derived.of(s, d, "window_components") {
      val eo = Tables.load(s, d, "orders")
        .filter(col("o_orderdate").between("1995-03-01", "1995-03-07"))
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = eo.join(
          Tables.load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("a_id"),
          (col("l_suppkey") + 1000000L).as("b_id"))
        .distinct()
      graft.ops.DedupCluster.clusters(edges)
        .select(col("doc_id").as("node"), col("rep_id").as("component"))
    }

  /** Full bipartite customer–supplier co-purchase graph: distinct
    * (o_custkey, l_suppkey + 1e6) pairs over ALL orders — the shared
    * input of the whole-graph analytics family (k11 PageRank, k14
    * label propagation, k16 (p,q)-core). Derived-persisted per
    * session, so the orders⋈lineitem join + distinct shuffle runs
    * once per session instead of once per query — the production
    * shape (materialize the graph, run the analytics suite on it).
    * k15/k18 use date-windowed subgraphs and k17 a capped raw-id
    * variant, so they build their own. */
  /** The static per-round edge side of an iterative graph loop
    * (k11/k19 read the SAME edge⋈degree frame every round).
    *
    * Round-19 measured and REJECTED the §2.4 loop-hoisted layout
    * (repartition(key)+persist so no round re-exchanges the edges):
    * the initial per-round plan does show `Exchange
    * hashpartitioning(src)` over the cut edge RDD
    * (plans/r19/k11_round_body_before.txt), and a persisted
    * repartitioned copy removes it from the planned shape (the
    * probe plan's edge side is Sort←Filter←InMemoryTableScan,
    * exchange-free) — but the A/B at sf0.1 local[32] was a LOSS:
    * k11 4.96→5.09 s warm (taskSec 52→66), k19 4.61→5.74 s
    * (taskSec 51→101). The round joins stream a ~26 MB edge frame
    * against a node-sized rank frame; the exchange the hoist
    * removes is cheaper than the per-round columnar decode of the
    * cached copy that replaces the localCheckpoint's deserialized
    * row scan. A lineage cut per round stays the right mechanism:
    * the loop's real cost is the per-round aggregation (r18's
    * finding), not the edge-side exchange. Revisit only on a
    * cluster where the rank side is too big to broadcast AND the
    * cached layout can be written pre-sorted (Sort also hoisted).
    */
  def prepRoundEdges(edges: DataFrame): DataFrame =
    edges.cutLineage(true)

  private def orderGraph(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "order_graph") {
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
        .distinct()
    }

  /** Degree-oriented edges: each undirected edge points from its
    * lower-degree endpoint to the higher-degree one (ties broken by
    * id — src < tgt by construction, so `<=` keeps the edge as-is on
    * a tie). Out-degree under this orientation is O(√m), so hub
    * entities never explode the wedge join as Σdeg². */
  private def triOriented(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "tri_oriented") {
      val e = triEdges(s, d)
      val deg = e.select(col("src").as("n"))
        .unionAll(e.select(col("tgt").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      e.join(deg.withColumnRenamed("n", "src").withColumnRenamed("deg", "ds"), Seq("src"))
        .join(deg.withColumnRenamed("n", "tgt").withColumnRenamed("deg", "dt"), Seq("tgt"))
        .select(
          when(col("ds") <= col("dt"), col("src")).otherwise(col("tgt")).as("u"),
          when(col("ds") <= col("dt"), col("tgt")).otherwise(col("src")).as("v"))
    }

  // ── DuckDB CTE prefix ──────────────────────────────────────────────
  // Plain (non-interpolated) string: `$` appears in regexes. Params are
  // patched in via @TOKENS@.

  /** k15/k24's shared oracle chain: recursive reachability over the
    * one-week windowed bipartite graph, min label per node, sizes. */
  private val compCtes: String =
    """WITH RECURSIVE eo AS (
      |  SELECT o_orderkey, o_custkey FROM orders
      |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-07'),
      |e0 AS (
      |  SELECT DISTINCT eo.o_custkey AS a, l.l_suppkey + 1000000 AS b
      |  FROM eo JOIN lineitem l ON l.l_orderkey = eo.o_orderkey),
      |edges AS (SELECT a AS s, b AS t FROM e0 UNION SELECT b, a FROM e0),
      |reach(node, r) AS (
      |  SELECT s, t FROM (SELECT s, t FROM edges
      |                    UNION SELECT s, s FROM edges) base
      |  UNION
      |  SELECT e.s, r.r FROM edges e JOIN reach r ON r.node = e.t),
      |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
      |sizes AS (SELECT component, COUNT(*) AS n_members FROM comp
      |          GROUP BY component)""".stripMargin

  private val ctePrefixTemplate =
    """WITH papers AS (
      |  SELECT printf('doc_%06d', doc_id) AS paper_id, doc_id,
      |    'Document ' || doc_id::VARCHAR AS title,
      |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      text, '(?s)\$\$.*?\$\$', ' ', 'g'), '\$.*?\$', ' ', 'g'),
      |      '\\[a-zA-Z]+\{.*?\}', ' ', 'g'), '\\[a-zA-Z]+', ' ', 'g'),
      |      'http\S+', ' ', 'g'), '\s+', ' ', 'g')) AS body
      |  FROM documents),
      |secs AS (
      |  SELECT paper_id, doc_id, title,
      |    string_split_regex(trim(body), '\s+') AS w,
      |    len(string_split_regex(trim(body), '\s+')) AS n
      |  FROM papers
      |  WHERE (CASE WHEN length(trim(body)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(body), '\s+')) END) >= 30),
      |starts AS (
      |  SELECT paper_id, doc_id, title, w, n,
      |    unnest(list_filter(generate_series(0, greatest(n - 1, 0), @STRIDE@),
      |      s -> s = 0 OR s + @OVR@ < n)) AS s
      |  FROM secs),
      |chunks0 AS (
      |  SELECT paper_id, doc_id, title,
      |    CAST(s // @STRIDE@ AS INT) AS chunk_ord,
      |    CAST(least(n - s, @SIZE@) AS INT) AS word_count,
      |    array_to_string(list_slice(w, s + 1, s + @SIZE@), ' ') AS text_content
      |  FROM starts),
      |chunksf AS (
      |  SELECT *, printf('%s_body_c%03d', paper_id, chunk_ord) AS chunk_id
      |  FROM chunks0 WHERE word_count >= @MIN@),
      |chunks AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY paper_id, chunk_ord) - 1 AS INT) AS chunk_index
      |  FROM chunksf),
      |toks AS (
      |  SELECT chunk_id, paper_id, chunk_index,
      |    generate_subscripts(string_split_regex(trim(text_content), '\s+'), 1) AS ord,
      |    unnest(string_split_regex(trim(text_content), '\s+')) AS token
      |  FROM chunks),
      |ents0 AS (
      |  SELECT chunk_id, paper_id, chunk_index, ord,
      |    regexp_replace(token, '^[^A-Za-z0-9]+|[^A-Za-z0-9]+$', '', 'g') AS name
      |  FROM toks),
      |ents1 AS (
      |  SELECT *, trim(regexp_replace(regexp_replace(lower(name), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS name_normalized
      |  FROM ents0 WHERE length(name) >= 3),
      |ents AS (
      |  SELECT *, 'node_' || substr(regexp_replace(name_normalized, '\s+', '_', 'g'), 1, 60) AS node_id
      |  FROM ents1
      |  WHERE name_normalized <> ''
      |    AND regexp_matches(name_normalized, '[a-z]')
      |    AND name_normalized NOT IN (@STOP@)),
      |dpc AS (SELECT DISTINCT chunk_id, paper_id, node_id FROM ents),
      |edges AS (
      |  SELECT a.node_id AS src, b.node_id AS tgt, a.paper_id,
      |    CAST(COUNT(*) AS DOUBLE) AS weight
      |  FROM dpc a JOIN dpc b
      |    ON a.chunk_id = b.chunk_id AND a.node_id < b.node_id
      |  GROUP BY a.node_id, b.node_id, a.paper_id)""".stripMargin

  val ctePrefix: String = ctePrefixTemplate
    .replace("@STRIDE@", Stride.toString)
    .replace("@SIZE@", Size.toString)
    .replace("@OVR@", Overlap.toString)
    .replace("@MIN@", MinWords.toString)
    .replace("@STOP@", Entities.stopwords.map(w => s"'$w'").mkString(", "))

  val defs: Map[String, Q] = Map(
    // k1 — G1/G2: the sliding-window chunk table itself.
    "k1_chunks" -> ((s, d) => {
      chunksDf(s, d)
        .select(col("chunk_id"), col("paper_id"), col("chunk_index"),
          col("chunk_ord"), col("word_count"), col("text_content"))
        .orderBy(col("chunk_id"))
    }),

    // k2 — A7: chunks-per-paper statistics.
    "k2_chunk_stats" -> ((s, d) => {
      chunksDf(s, d)
        .groupBy(col("paper_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("word_count")).as("sum_wc"),
          min(col("word_count")).as("min_wc"),
          max(col("word_count")).as("max_wc"))
        .orderBy(col("paper_id"))
    }),

    // k3 — A2/A4: the node registry. First-surface-form-wins made
    // deterministic via min_by over the (chunk_id, ord) occurrence key.
    "k3_kg_nodes" -> ((s, d) => {
      entsDf(s, d)
        .withColumn("okey", format_string("%s_%06d", col("chunk_id"), col("ord")))
        .groupBy(col("name_normalized"))
        .agg(min(col("node_id")).as("node_id"),
          min_by(col("name"), col("okey")).as("name"),
          countDistinct(col("paper_id")).as("paper_count"))
        .select(col("node_id"), col("name"), col("name_normalized"), col("paper_count"))
        .orderBy(col("name_normalized"))
    }),

    // k4 — G4/A3: CO_OCCURS edge table.
    "k4_kg_edges" -> ((s, d) => {
      edgesDf(s, d)
        .select(col("src").as("source_node_id"), col("tgt").as("target_node_id"),
          col("paper_id"), col("weight"))
        .orderBy(col("source_node_id"), col("target_node_id"), col("paper_id"))
    }),

    // k12 — k4's 100 TB shape: the G4 co-occurrence generator under
    // its SKEW CONTROLS (SURVEY.md §7.4.2 — 25M edges from 35k chunks
    // is the reference's named blowup). Two deterministic caps, both
    // mirrored term for term in the oracle: Skew.withRelativeDfCap
    // drops entities appearing in more than EdgeMaxDfFrac of all
    // chunks (a stopword-like entity otherwise lands all its C(n,2)
    // pairs on one reducer), then Ingest.edges' maxEntitiesPerChunk window
    // (partitioned by chunk — never global) bounds each chunk's
    // contribution at C(cap,2) pairs.
    "k12_kg_edges_capped" -> ((s, d) => {
      // reuse the Derived per-chunk entity set k4 already persists
      // (first_ord ≡ min(ord), so Ingest.edges' own min is a no-op
      // over these already-distinct rows — same result, one shared
      // derivation instead of a second chunk+extract pipeline run)
      val capped = graft.ops.Skew.withRelativeDfCap(
        distinctEntsDf(s, d).withColumnRenamed("first_ord", "ord"),
        "node_id", "chunk_id", EdgeMaxDfFrac)
      Ingest.edges(capped, maxEntitiesPerChunk = EdgeCapPerChunk)
        .select(col("source_node_id"), col("target_node_id"),
          col("paper_id"), col("weight"))
        .orderBy(col("source_node_id"), col("target_node_id"), col("paper_id"))
    }),

    // k5 — G3: chunk-entity map statistics per node.
    "k5_entity_map" -> ((s, d) => {
      entsDf(s, d)
        .groupBy(col("node_id"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("chunk_id")).as("n_chunks"))
        .orderBy(col("node_id"))
    }),

    // k6 — J2/J3/U1/T2: seed by entity name, follow outgoing and
    // incoming CO_OCCURS edges, merge, rank by total weight. Seeds are
    // tiny → broadcast hash joins on both directions.
    "k6_graph_2hop" -> ((s, d) => {
      // ents and edges are session-memoized persisted tables (Derived):
      // seeds + both edge directions read them without recompute.
      val ents = entsDf(s, d)
      val edges = edgesDf(s, d)
      val seeds = ents.filter(col("name_normalized").isin(SeedNames: _*))
        .select(col("node_id"), col("name_normalized")).distinct()
      val fwd = broadcast(seeds).join(edges, col("node_id") === col("src"))
        .select(col("name_normalized").as("seed"), col("tgt").as("neighbor_id"), col("weight"))
      val rev = broadcast(seeds).join(edges, col("node_id") === col("tgt"))
        .select(col("name_normalized").as("seed"), col("src").as("neighbor_id"), col("weight"))
      fwd.union(rev)
        .groupBy(col("seed"), col("neighbor_id"))
        .agg(sum(col("weight")).as("total_weight"))
        .orderBy(col("total_weight").desc, col("seed"), col("neighbor_id"))
        .limit(20)
    }),

    // k8 — the APP.CHUNKS_V view contract (sql/01_create_schema.sql:
    // 78-93): chunks ⋈ papers projecting the 12 view columns.
    // Reference-ingest defaults for the fields our corpus lacks:
    // authors='' (data/ingestion.py:129), publication_year=null,
    // categories='', source_url=''. The embedding column is exposed
    // as its dimension (array payloads aren't hash-comparable).
    "k8_chunks_v" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      chunksDf(s, d)
        .join(emb, col("vec_id") === col("doc_id"), "left")
        .select(
          col("chunk_id"), col("paper_id"), col("chunk_index"),
          col("section_name"), col("text_content"), col("word_count"),
          col("title"),
          lit("").as("authors"),
          lit(null).cast("int").as("publication_year"),
          lit("").as("categories"),
          lit("").as("source_url"),
          size(col("embedding")).cast("long").as("emb_dim"))
        .orderBy(col("chunk_id"))
    }),

    // k9 — triangle motifs in the co-occurrence graph, via DEGREE
    // ORIENTATION: each undirected edge points from its lower-degree
    // endpoint to the higher-degree one (ties broken by id), wedges
    // are enumerated only at the orientation-minimum vertex, and the
    // closing edge is probed in the undirected set. Out-degree under
    // this orientation is O(√m), so hub entities in a co-occurrence
    // graph no longer explode the wedge join as Σdeg² — the standard
    // scalable triangle-listing shape. Output is identical to the
    // naive a<b<c three-way join (each triangle listed once, sorted).
    "k9_triangles" -> ((s, d) => {
      val e = triEdges(s, d)
      val x = triOriented(s, d).select(col("u"), col("v").as("p"))
      val y = triOriented(s, d).select(col("u").as("u2"), col("v").as("q"))
      x.join(y, col("u") === col("u2") && col("p") < col("q"))
        .join(e, col("p") === col("src") && col("q") === col("tgt"))
        .withColumn("t", array_sort(array(col("u"), col("p"), col("q"))))
        .select(element_at(col("t"), 1).as("a"),
          element_at(col("t"), 2).as("b"),
          element_at(col("t"), 3).as("c"))
        .orderBy(col("a"), col("b"), col("c"))
    }),

    // k10 — the MULTI-SECTION ingest path (G2, reference
    // data/ingestion.py:190-205): per paper, parallel arrays of
    // section names and section texts are zipped positionally
    // (arrays_zip + posexplode — the reference's zip(section_names,
    // sections)) and each section is chunked, with the `abstract`
    // special case (always exactly one whole-section chunk, :176-178)
    // exercised end-to-end. Sections are cut deterministically at
    // word-count quartiles so the DuckDB oracle can derive the
    // identical corpus.
    "k10_sections" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("paper_id", TextFns.paperId(col("doc_id")))
        .withColumn("w", TextFns.tokens(col("text")))
        .withColumn("n", size(col("w")))
        .withColumn("ae", ceil(col("n") / 4.0).cast("int"))
        .withColumn("be", ceil(col("n") * 3.0 / 4.0).cast("int"))
      val sectioned = docs
        .withColumn("section_names",
          array(lit("abstract"), lit("body"), lit("conclusion")))
        .withColumn("section_texts", array(
          array_join(slice(col("w"), lit(1), col("ae")), " "),
          array_join(slice(col("w"), col("ae") + 1, col("be") - col("ae")), " "),
          array_join(slice(col("w"), col("be") + 1, col("n") - col("be")), " ")))
        .select(col("paper_id"),
          posexplode(arrays_zip(col("section_names"), col("section_texts")))
            .as(Seq("spos", "z")))
        .select(col("paper_id"),
          col("z.section_names").as("section_name"),
          col("z.section_texts").as("section_text"))
      Chunker.chunk(sectioned, "paper_id", "section_name", "section_text",
          Size, Overlap, MinWords)
        .select(col("chunk_id"), col("paper_id"), col("section_name"),
          col("chunk_ord"), col("word_count"), col("text_content"))
        .orderBy(col("chunk_id"))
    }),

    // k7 — the flagship search_papers query (V2+V3+T1+J1, reference
    // tools.py:45-92): score chunks against a query vector, top-5,
    // project chunk + paper metadata.
    "k7_search_chunks" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val ce = chunksNoIndex(s, d)
        .join(emb.select(col("vec_id"), col("embedding")),
          col("vec_id") === col("doc_id"))
      ce.crossJoin(broadcast(q))
        .withColumn("raw", VectorOps.dot(col("embedding"), col("qe")) /
          (VectorOps.l2norm(col("embedding")) * VectorOps.l2norm(col("qe"))))
        .orderBy(col("raw").desc, col("chunk_id"))
        .limit(5)
        .select(col("chunk_id"), col("paper_id"), col("title"),
          round(col("raw"), 4).as("score"))
    }),

    // k11 — PageRank (10 fixed power iterations, damping 0.85) over
    // the symmetrized customer–supplier graph from orders⋈lineitem.
    // The iterative-graph-analytics staple on top of the same
    // machinery as d6's connected components: per round ONE edge⋈rank
    // join + ONE sum shuffle, ranks localCheckpoint'ed so lineage
    // stays flat; the driver holds only the node-count scalar. The
    // per-edge math is rank/od (not rank·(1/od)) so every IEEE
    // operation matches the oracle's unrolled 10-step CTE chain
    // bit-for-bit before the final round(4).
    "k11_pagerank" -> ((s, d) => {
      val damp = PrDamping
      val ed = orderGraph(s, d)
      // symmetrize, then bake the out-degree onto each edge ONCE —
      // the per-round loop touches only (src, dst, od) + the rank.
      val edges = ed.select(col("a").as("src"), col("b").as("dst"))
        .union(ed.select(col("b").as("src"), col("a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      // static across all rounds (loop-hoisted layout measured a loss
      // at sf0.1 — see prepRoundEdges; cut stays)
      val ew = prepRoundEdges(edges.join(deg, "src"))
      val nodes = deg.select(col("src").as("node")).cutLineage(true)
      val n = nodes.count()
      var ranks = nodes.withColumn("rank", lit(1.0 / n))
      for (i <- 1 to PrIters) {
        // The graph is SYMMETRIZED, so every ranked node (= every node
        // with an out-edge) also has an in-edge: inflow covers the full
        // node set and the dangling-node outer join the general
        // algorithm needs is provably a no-op here — one join per
        // round, not two.
        ranks = ew
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg((lit((1 - damp) / n) +
            lit(damp) * sum(col("rank") / col("od"))).as("rank"))
        // lineage cut every SECOND round (and at the end): each
        // eager localCheckpoint is a full job, and a 2-round plan is
        // still small — halves the materialization count vs cutting
        // every round (measured ~7s → ~5s at sf0.1) while keeping
        // plan growth bounded.
        if (i % 2 == 0 || i == PrIters) ranks = ranks.cutLineage(true)
      }
      // normalized rank (mean 1.0) so round(4) carries real precision
      ranks.select(col("node"), round(col("rank") * n, 4).as("rank_norm"))
        .orderBy(col("node"))
    }),

    // k19 — PERSONALIZED PAGERANK (random walk with restart, Haveliwala
    // 2002): k11's power iteration with the teleport mass restricted
    // to a SEED set (every [[PprSeedMod]]-th customer node) — the
    // "similar items to THESE" primitive behind related-document
    // recommendation and local community scoring. Same per-round
    // shape as k11 (ONE edge⋈rank join + ONE sum shuffle; the node-
    // sized seed join is broadcast-scale) and the same unrolled-CTE
    // oracle; non-seed nodes start at 0 and receive mass only
    // through the graph, so the hash also checks the propagation
    // frontier round by round. At 100 TB: identical scaling story to
    // k11 — the seed set is a filter on the node table, never a
    // driver-side list.
    "k19_personalized_pagerank" -> ((s, d) => {
      val damp = PrDamping
      val ed = orderGraph(s, d)
      val edges = ed.select(col("a").as("src"), col("b").as("dst"))
        .union(ed.select(col("b").as("src"), col("a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      // k11's static edge side (see prepRoundEdges)
      val ew = prepRoundEdges(edges.join(deg, "src"))
      val nodes = deg.select(col("src").as("node"),
          (col("src") < 1000000L && col("src") % PprSeedMod === 0).as("is_seed"))
        .cutLineage(true)
      val n = nodes.count()
      val nSeeds = nodes.filter(col("is_seed")).count()
      require(nSeeds > 0, s"no PPR seeds at mod $PprSeedMod")
      var ranks = nodes.select(col("node"),
        when(col("is_seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("rank"))
      for (i <- 1 to PrIters) {
        // the symmetrized graph gives every node an in-edge and ranks
        // covers every node each round (zeros included), so the
        // inflow group-by reaches the full node set — k11's one-join
        // invariant holds with restart mass handled by the seed join
        val inflow = ew
          .join(ranks.select(col("node").as("src"), col("rank")), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") / col("od")).as("inflow"))
        ranks = nodes.join(inflow, Seq("node"))
          .select(col("node"),
            (when(col("is_seed"), lit((1 - damp) / nSeeds)).otherwise(lit(0.0)) +
              lit(damp) * col("inflow")).as("rank"))
        if (i % 2 == 0 || i == PrIters) ranks = ranks.cutLineage(true)
      }
      ranks.select(col("node"), round(col("rank") * n, 4).as("ppr_norm"))
        .orderBy(col("node"))
    }),

    // k20 — CO-OCCURRENCE LIFT (association strength over the KG
    // edges): k4's co-occurrence counts weighted by how SURPRISING
    // the pairing is — lift(a,b) = co(a,b)·N / (df(a)·df(b)), the
    // PMI family's ratio with the log left off so every value is an
    // exact quotient of exact integers (IEEE division of integers is
    // correctly rounded in any engine — no libm-log parity bet, no
    // rounding of a half-way digit). Chunk-frequent entity pairs
    // score ~1 (independent); genuinely associated pairs score ≫1 —
    // the edge-weighting step between raw co-occurrence (k4) and
    // similarity/community analytics (k17/k14). Plan: n_co comes
    // from the SHARED k4 edge aggregate (Derived "edges") — its
    // weight is the pair's per-paper chunk count, so one further
    // (src,tgt) groupBy over the paper-grained edges IS the corpus
    // co-occurrence count. The C(n,2)-per-chunk pair join therefore
    // materializes ONCE per session and k4/k12/k20 all read it —
    // round 8's form regenerated it here and was the engine's
    // heaviest operator at 20× (82.9 s); the marginals (node-keyed
    // df) and the 1-row corpus scalar are linear passes over the
    // distinct per-chunk set. At 100 TB the expensive shuffle exists
    // once, amortized across the edge-consuming family.
    "k20_edge_lift" -> ((s, d) => {
      val dpc = distinctEntsDf(s, d).select(col("chunk_id"), col("node_id"))
      val nChunks = dpc.agg(countDistinct(col("chunk_id")).as("n_chunks"))
      val dfm = dpc.groupBy(col("node_id")).agg(count(lit(1)).as("df"))
      // per-(pair, paper) chunk counts are small exact integers in a
      // double; their sum is far below 2^53, so the long cast is exact
      val co = edgesDf(s, d)
        .groupBy(col("src"), col("tgt"))
        .agg(sum(col("weight")).cast("long").as("n_co"))
        .filter(col("n_co") >= LiftMinCo)
        .select(col("src").as("a_id"), col("tgt").as("b_id"), col("n_co"))
      co.join(dfm.select(col("node_id").as("a_id"), col("df").as("df_a")), Seq("a_id"))
        .join(dfm.select(col("node_id").as("b_id"), col("df").as("df_b")), Seq("b_id"))
        .crossJoin(broadcast(nChunks)) // 1-row corpus scalar
        .select(col("a_id"), col("b_id"), col("n_co"), col("df_a"), col("df_b"),
          ((col("n_co") * col("n_chunks")).cast("double") /
            (col("df_a") * col("df_b"))).as("lift"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // k13 — LOCAL CLUSTERING COEFFICIENTS: per node, its undirected
    // degree, triangle membership count, and cc = 2·Δ/(deg·(deg−1)) —
    // the community-structure metric on top of k9's listing (k9
    // answers "which triangles", k13 answers "how clustered is each
    // entity's neighborhood"). Reuses the SAME Derived tri_edges /
    // tri_oriented intermediates as k9 — the degree-ordered wedge
    // join (out-degree O(√m), no hub blowup) exists once; this query
    // adds only a corner explode + one count shuffle + the degree
    // join. Oracle is the naive a<b<c three-way self-join aggregated
    // the same way (triangle sets are provably identical).
    "k13_clustering_coeff" -> ((s, d) => {
      val e = triEdges(s, d)
      val deg = e.select(col("src").as("n"))
        .unionAll(e.select(col("tgt").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      val x = triOriented(s, d).select(col("u"), col("v").as("p"))
      val y = triOriented(s, d).select(col("u").as("u2"), col("v").as("q"))
      val tri = x.join(y, col("u") === col("u2") && col("p") < col("q"))
        .join(e, col("p") === col("src") && col("q") === col("tgt"))
        .select(col("u"), col("p"), col("q"))
      val perNode = tri.select(explode(array(col("u"), col("p"), col("q"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
      deg.join(perNode, Seq("n"), "left")
        .select(col("n").as("node_id"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          when(col("degree") >= 2,
            round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)), 4))
            .otherwise(lit(0.0)).as("clustering_coeff"))
        .orderBy(col("node_id"))
    }),

    // k14 — LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007) on
    // the customer⋈supplier graph from k11. The graph is BIPARTITE,
    // and fully-synchronous LPA on a bipartite graph famously
    // oscillates (the two sides swap labels forever), so the rounds
    // are SEMI-SYNCHRONOUS by bipartite class — each round updates
    // the supplier side from customer labels, then the customer side
    // from the fresh supplier labels (tie → smallest label), for a
    // fixed [[LpIters]] rounds so the oracle can unroll it. The
    // complement of d6's connected components: CC merges everything
    // reachable; LPA finds dense sub-communities inside a component.
    // Per half-round: one equi join (neighbor labels) + one
    // (node,label) count + one struct-max argmax — all shuffled on
    // the same key, NO window/sort buffer (the argmax is an
    // aggregate, d10's canonical-selection pattern), lineage cut once
    // per full round (k11's cadence). At 100 TB rounds are
    // fixed-count edge-sized shuffles — the shape GraphX/Pregel would
    // produce, without leaving DataFrames. (Pre-partitioning two
    // checkpointed edge copies by join key was A/B-measured neutral
    // at sf0.1 — 8.1 s either way; the vote's two aggregations, not
    // the edge-side exchange, dominate each half-round.)
    "k14_label_prop" -> ((s, d) => {
      val ed = orderGraph(s, d)
      // argmax by (count desc, label asc) as a struct-max aggregate.
      // A/B'd against the one-exchange alternative mode(lbl, true)
      // (whose lowest-value tie-break matches this contract exactly):
      // fresh-JVM sf0.1 measured 8.4 s (this form) vs 10.2 s (mode) —
      // the ObjectHashAggregate label-count maps cost more than the
      // second codegen'd exchange on this dense graph, so the
      // two-step HashAggregate pair stays.
      // r19 also A/B'd the distinctPairsByA-style single-exchange vote
      // (repartition(node) feeding both aggregations): 6.32 → 5.64/5.96 s
      // warm, jobs 52 → 40 — but taskSec unchanged (~22), i.e. the win
      // is pure local stage-job scheduling, and the form trades away
      // the first aggregation's MAP-SIDE partials: at scale a node's
      // neighbor labels concentrate as LPA converges, so the
      // partial-agg'd (node,lbl,count) exchange is far smaller than
      // the raw pair exchange the rewrite ships. §2.3 (aggregate
      // before you shuffle) wins over one fewer exchange — rejected.
      def vote(pairs: DataFrame): DataFrame = pairs
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      var cl = ed.select(col("a").as("node")).distinct().withColumn("lbl", col("node"))
      var sl = ed.select(col("b").as("node")).distinct().withColumn("lbl", col("node"))
      for (i <- 1 to LpIters) {
        sl = vote(ed.join(cl.withColumnRenamed("node", "a"), "a")
          .select(col("b").as("node"), col("lbl")))
        cl = vote(ed.join(sl.withColumnRenamed("node", "b"), "b")
          .select(col("a").as("node"), col("lbl")))
        if (i % 2 == 0 || i == LpIters) {
          sl = sl.cutLineage(true); cl = cl.cutLineage(true)
        }
      }
      val labels = cl.unionAll(sl)
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
      labels.join(sizes, "lbl")
        .select(col("node"), col("lbl").as("community"), col("n_members"))
        .orderBy(col("node"))
    }),

    // k15 — CONNECTED COMPONENTS over the customer⋈supplier order
    // graph, sliced to one order week (the "which trading communities
    // existed this week" cut; the slice predicate is the natural
    // partition-pruning column at scale). d6 proves ops.DedupCluster
    // on near-dup doc pairs; k15 runs the SAME min-label propagation
    // with path halving over KG-shaped edges, so the contract carries
    // over unchanged: component id = min node id, O(log diameter)
    // rounds, each round a bounded (node,label)-keyed shuffle, no
    // driver-side graph state. Complements k14: LPA finds dense
    // sub-communities, CC finds reachability classes — run on the
    // same week the two answer different questions. The oracle
    // replays reachability as a recursive-CTE transitive closure, so
    // the hash match is exact, not approximate.
    "k15_components" -> ((s, d) => {
      val comp = windowComponents(s, d)
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
      comp.join(sizes, "component")
        .select(col("node"), col("component"), col("n_members"))
        .orderBy(col("node"))
    }),

    // k24 — COMPONENT SIZE DISTRIBUTION (the connectivity summary
    // next to k23's degree histogram: one giant component or
    // fragments?): k15's min-label components rolled to (size,
    // n_components, n_nodes) — two component-cardinality-sized
    // groupBys over the SAME clusters frame; output is bounded by
    // distinct sizes at any corpus, never nodes.
    "k24_component_sizes" -> ((s, d) =>
      windowComponents(s, d)
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
        .select(col("size"), col("n_components"),
          (col("size") * col("n_components")).cast("long").as("n_nodes"))
        .orderBy(col("size"))),

    // k16 — (p,q)-CORE DECOMPOSITION of the bipartite customer⋈
    // supplier graph (the bipartite generalization of k-core, Ahmed
    // et al.; one threshold per side since the two sides' degree
    // scales differ by orders of magnitude — customers ~30,
    // suppliers ~480 at sf0.01). [[KcoreRounds]] fixed peeling
    // rounds so the oracle can unroll them: each round computes
    // degrees on the surviving subgraph, keeps nodes at/above their
    // side's threshold, and restricts edges to kept×kept. The
    // constants produce a real cascade on the fixture (84.7k → 77.6k
    // → 72.8k → 35.5k edges), not a one-round fixpoint. Per round:
    // one degree aggregation + two semi-shaped joins, all keyed by
    // node, lineage cut eagerly — k11's iterative shape. Driver
    // state: the loop counter. Degrees are exact integers, so the
    // oracle hash match is exact at any parallelism.
    "k16_kcore" -> ((s, d) => {
      val ed = orderGraph(s, d)
      var e = ed.select(col("a").as("s"), col("b").as("t"))
        .unionAll(ed.select(col("b").as("s"), col("a").as("t")))
        .cutLineage(true)
      val thresh = when(col("s") >= 1000000L, lit(KcoreQ)).otherwise(lit(KcoreP))
      for (_ <- 1 to KcoreRounds) {
        val keep = e.groupBy(col("s")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= thresh)
          .select(col("s").as("n"))
        e = e.join(keep.withColumnRenamed("n", "s"), "s")
          .join(keep.withColumnRenamed("n", "t"), "t")
          .select(col("s"), col("t"))
          .cutLineage(true)
      }
      e.groupBy(col("s").as("node")).agg(count(lit(1)).as("degree"))
        .orderBy(col("node"))
    }),

    // k17 — NODE SIMILARITY (link prediction): Jaccard overlap of two
    // suppliers' customer neighborhoods, the item-item similarity
    // join every co-purchase recommender runs. The wedge join routes
    // every candidate pair through a shared customer, so wedge count
    // is Σ_a deg(a)² — bounded by [[WedgeCap]]² per customer because
    // hub customers (degree > cap) are EXCLUDED up front: d2's df-cap
    // move, and like there it is semantic, not an approximation —
    // degrees and intersections are both computed over the SAME
    // capped universe, so the Jaccard is exact for the declared
    // denominator. Plan: one capped-edge derivation (broadcast-able
    // hot-key list), one self-join keyed by customer, one pair
    // count + degree join-back — no windows, nothing global.
    "k17_node_similarity" -> ((s, d) => {
      val ed = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("a"), col("l_suppkey").as("b"))
        .distinct()
      val small = ed.groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") <= WedgeCap).select(col("a"))
      val capped = ed.join(small, "a").cutLineage(true)
      val deg = capped.groupBy(col("b")).agg(count(lit(1)).as("dg"))
      val inter = capped.select(col("a"), col("b").as("b1"))
        .join(capped.select(col("a"), col("b").as("b2")), "a")
        .filter(col("b1") < col("b2"))
        .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("n_common"))
      inter
        .join(deg.select(col("b").as("b1"), col("dg").as("deg1")), "b1")
        .join(deg.select(col("b").as("b2"), col("dg").as("deg2")), "b2")
        .withColumn("jac_raw",
          col("n_common") / (col("deg1") + col("deg2") - col("n_common")))
        .filter(col("jac_raw") >= JacMin)
        .select(col("b1").as("supp_a"), col("b2").as("supp_b"),
          col("n_common"), col("deg1"), col("deg2"),
          round(col("jac_raw"), 4).as("jaccard"))
        .orderBy(col("supp_a"), col("supp_b"))
    }),

    // k18 — BFS SHORTEST PATHS (multi-source hop distance): min hops
    // from a seed set over the k15-style date-windowed
    // customer–supplier graph, [[BfsRounds]] synchronous relaxation
    // rounds. Per round ONE equi join (frontier ⋈ edges on src) and
    // ONE min aggregate — the Pregel/Bellman-Ford shape: state is
    // |reached nodes| rows, never |walks|; at 1000 executors both
    // sides shuffle on the node key and nothing is quadratic. The
    // round count is fixed so the oracle can cap its recursive CTE
    // at the same depth (the k15/k16 unrolling trick); nodes farther
    // than [[BfsRounds]] hops are absent from both sides by
    // construction.
    "k18_shortest_paths" -> ((s, d) => {
      val (edges, seeds) = bfsGraph(s, d)
      var dist = seeds.withColumn("d", lit(0))
      for (_ <- 1 to BfsRounds) {
        val nxt = dist.as("t")
          .join(edges.as("e"), col("t.node") === col("e.src"))
          .select(col("e.dst").as("node"), (col("t.d") + 1).as("d"))
        dist = dist.union(nxt).groupBy(col("node")).agg(min(col("d")).as("d"))
      }
      dist.select(col("node"), col("d").cast("int").as("hops"))
        .orderBy(col("node"))
    }),

    // k21 — SEED-SET HARMONIC CLOSENESS (the Eppstein–Wang sampled
    // estimator's exact inner computation): per (seed, node) the min
    // hop distance over k18's graph, aggregated per node to
    // Σ floor(1e6/d) — k20's exact-integer-quotient trick applied to
    // 1/d, so no libm parity bet and the hash is exact. State is
    // (seeds × reached) pairs, so the seed set MUST be CONSTANT-SIZE
    // for the published estimator's k·n linear state claim to hold
    // (a fixed-fraction rule like k18's `% 3` would make it n²/3 —
    // the v21 fixed-k-at-scale trap, caught in round 9): seeds are
    // the [[HcSeedK]] customer nodes with the smallest Lehmer hash
    // rank ([[hcSeeds]] — integer-only, oracle-replayed verbatim, a
    // TakeOrdered top-K, never a data-sized sort). Per round the
    // shape is k18's one-join one-min-shuffle Pregel with a seed key
    // added to the state; the round cap is the oracle's
    // recursive-CTE depth (k15/k16's unrolling trick).
    "k21_harmonic_closeness" -> ((s, d) =>
      hcDistances(s, d)
        .filter(col("d") > 0)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_seeds_reaching"),
          sum(floor(lit(1000000) / col("d")).cast("long"))
            .as("harmonic_micro"))
        .orderBy(col("node"))),

    // k23 — DEGREE DISTRIBUTION over the shared undirected edge set
    // (the first thing anyone plots about a graph, and the input to
    // every power-law / hub-detection decision): node degrees from
    // ONE union-all + groupBy over the session-shared Derived edges
    // (k4/k12/k20's amortized pair join — k23's marginal cost is two
    // key shuffles, the second degree-cardinality-sized, never a new
    // edge materialization). Exact (degree, n_nodes) pairs — tiny at
    // any corpus because distinct degrees grow ~log-ish while nodes
    // grow linearly.
    "k23_degree_histogram" -> ((s, d) => {
      val e = edgesDf(s, d).select(col("src"), col("tgt")).distinct()
      e.select(col("src").as("node"))
        .unionAll(e.select(col("tgt").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // k22 — EFFECTIVE DIAMETER via the seed-sampled NEIGHBORHOOD
    // FUNCTION (HyperANF's published quantity, computed exactly on
    // k21's Eppstein–Wang seed sample): N(h) = #(seed, node) pairs
    // within h hops, h = 0..[[BfsRounds]]; the effective diameter is
    // the smallest h whose N(h) covers ≥ 90% of N(cap) — the
    // standard 90th-percentile rule, in EXACT integers (×10 vs ×9,
    // never a float share). The data-sized work is the SAME shared
    // distance frame k21 aggregates (one BFS, two consumers — the
    // k20/v23 pattern); everything after it is a [[BfsRounds]]+1-row
    // hop table: the cumulative sum is a ≤5×5 triangular self-join
    // and the verdict two broadcast scalars — deliberately NOT a
    // window (the global-window single-reducer ban holds even on
    // 5 rows; the plan shape must stay exemplary). At 100 TB the
    // full-graph N(h) needs per-node HLL counters (HyperANF); the
    // seed-sampled variant keeps K·n state and integer-exact values,
    // which is precisely what the published estimator reports.
    "k22_effective_diameter" -> ((s, d) => {
      val sp = hcDistances(s, d)
      val byHop = sp.groupBy(col("d").cast("int").as("h"))
        .agg(count(lit(1)).as("n_at_hop"))
      val total = sp.agg(count(lit(1)).as("n_total"))
      val cum = byHop.as("a")
        .join(byHop.select(col("h").as("h2"), col("n_at_hop").as("n2")),
          col("h2") <= col("h"))
        .groupBy(col("h"), col("n_at_hop"))
        .agg(sum(col("n2")).as("n_within"))
      val eff = cum.crossJoin(broadcast(total))
        .withColumn("reaches90",
          col("n_within") * 10 >= col("n_total") * 9)
      val diam = eff.filter(col("reaches90"))
        .agg(min(col("h")).as("eff_diameter"))
      eff.crossJoin(broadcast(diam))
        .select(col("h"), col("n_at_hop"), col("n_within"),
          col("n_total"), col("reaches90"), col("eff_diameter"))
        .orderBy(col("h"))
    })
  )

  /** k21/k22 shared oracle CTE (use after `WITH RECURSIVE`): the
    * seed-sampled BFS distances `sp(seed, node, d)` — graph, Lehmer
    * seed sample, and depth cap replayed verbatim. Lazy: it reads
    * [[HcSeedK]]/[[BfsRounds]], which initialize later in the
    * object body. */
  private lazy val HcDistCte: String =
    s"""eo AS (
       |  SELECT o_orderkey, o_custkey FROM orders
       |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-14'),
       |e0 AS (
       |  SELECT DISTINCT eo.o_custkey AS a, l.l_suppkey + 1000000 AS b
       |  FROM eo JOIN lineitem l ON l.l_orderkey = eo.o_orderkey),
       |edges AS (SELECT a AS src, b AS dst FROM e0
       |          UNION SELECT b, a FROM e0),
       |seeds AS (SELECT node FROM (
       |    SELECT DISTINCT src AS node FROM edges WHERE src < 1000000)
       |  ORDER BY (node % 100003) * 48271 % 100003, node LIMIT $HcSeedK),
       |bfs(seed, node, d) AS (
       |  SELECT node, node, 0 FROM seeds
       |  UNION
       |  SELECT b.seed, e.dst, b.d + 1 FROM bfs b
       |  JOIN edges e ON e.src = b.node WHERE b.d < ${BfsRounds}),
       |sp AS (SELECT seed, node, MIN(d) AS d FROM bfs GROUP BY 1, 2)""".stripMargin

  /** k21/k22 shared frame: per-(seed, node) min hop distance over the
    * date-windowed graph — the Eppstein–Wang seed-sampled BFS (K·n
    * state; per round one equi join + one (seed,node) min shuffle,
    * k18's Pregel shape with the seed key in the state). ONE
    * definition feeds both the harmonic aggregate and the
    * neighborhood function, so the two can never disagree on the
    * distances — and it is Derived-persisted so a session running
    * both pays for the BFS ONCE (the k4/k12/k20 amortization
    * lesson: a shared frame that silently recomputes per consumer
    * is the r8 k20 bug shape). */
  private def hcDistances(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "hc_distances") {
      val (edges, _) = bfsGraph(s, d)
      var dist = hcSeeds(edges).select(col("node").as("seed"), col("node"),
        lit(0).as("d"))
      for (_ <- 1 to BfsRounds) {
        val nxt = dist.as("t")
          .join(edges.as("e"), col("t.node") === col("e.src"))
          .select(col("t.seed"), col("e.dst").as("node"),
            (col("t.d") + 1).as("d"))
        dist = dist.union(nxt)
          .groupBy(col("seed"), col("node")).agg(min(col("d")).as("d"))
      }
      dist
    }

  /** The k18/k21 date-windowed bipartite graph + seed set: ONE
    * definition (edges eagerly checkpointed once per call site), so
    * the two traversals can never disagree on the graph. */
  private[graft] def bfsGraph(s: SparkSession, d: String) = {
    val eo = Tables.load(s, d, "orders")
      .filter(col("o_orderdate").between("1995-03-01", "1995-03-14"))
      .select(col("o_orderkey"), col("o_custkey"))
    val e0 = eo.join(
        Tables.load(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"),
        (col("l_suppkey") + 1000000L).as("b"))
      .distinct()
    val edges = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .cutLineage(true)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") < 1000000L && col("node") % 3 === 0)
    (edges, seeds)
  }

  /** k21's CONSTANT-SIZE seed sample: the [[HcSeedK]] customer nodes
    * with the smallest Lehmer hash rank `(node % 100003) · 48271 %
    * 100003` (node-tie-broken) — pure int64 arithmetic with no
    * overflow (< 100003 · 48271 ≈ 4.8e9), so the oracle replays the
    * selection verbatim, and a deterministic pseudo-random sample
    * independent of the id layout (a plain `ORDER BY node LIMIT K`
    * would sample the lowest ids — correlated with fixture age). The
    * plan is orderBy+limit = TakeOrderedAndProject over the distinct
    * customer nodes: per-partition top-K heaps, never a global sort,
    * and |seeds| stays K as the corpus grows — BFS state is K·n. */
  private[graft] def hcSeeds(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.select(col("src").as("node")).distinct()
      .filter(col("node") < 1000000L)
      .orderBy((col("node") % 100003L) * 48271L % 100003L, col("node"))
      .limit(HcSeedK)
      .select(col("node"))

  /** k21 seed-sample size — FIXED as the corpus grows (the
    * Eppstein–Wang estimator's k), shared with the oracle's LIMIT. */
  val HcSeedK = 32

  /** PageRank constants, shared with the oracle builder. */
  val PrDamping = 0.85
  val PrIters = 10

  /** k19: every PprSeedMod-th customer node seeds the restart set —
    * scale-free (3 seeds at sf0.001, 30 at sf0.01, 300 at sf0.1). */
  val PprSeedMod = 50L

  /** k20: minimum co-occurring chunks for a pair to be reported. */
  val LiftMinCo = 2L

  /** k14 label-propagation round count, shared with the oracle. */
  val LpIters = 4

  /** k16 (p,q)-core: per-side degree thresholds + fixed peeling
    * rounds, shared with the unrolled oracle. */
  val KcoreP = 25
  val KcoreQ = 400
  val KcoreRounds = 4

  /** k18 BFS relaxation rounds (= max reported hop distance), shared
    * with the oracle's recursive-CTE depth cap. */
  val BfsRounds = 4

  /** k17 similarity: hub-customer degree cap (the wedge-count bound)
    * and the reported Jaccard floor, shared with the oracle. */
  val WedgeCap = 40
  val JacMin = 0.2

  /** The k16 oracle: the same fixed peeling rounds unrolled as a CTE
    * chain (k11's pattern) — degree filter per side, then edge
    * restriction to kept×kept, repeated [[KcoreRounds]] times. */
  private def kcoreOracle: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""k$i AS (
         |  SELECT s AS n FROM e${i - 1} GROUP BY s
         |  HAVING COUNT(*) >= CASE WHEN s >= 1000000 THEN $KcoreQ
         |                          ELSE $KcoreP END),
         |e$i AS (
         |  SELECT e.s, e.t FROM e${i - 1} e
         |  JOIN k$i x ON e.s = x.n JOIN k$i y ON e.t = y.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS (SELECT a AS s, b AS t FROM ed
       |       UNION ALL SELECT b, a FROM ed),
       |$rounds
       |SELECT s AS node, COUNT(*) AS degree
       |FROM e$KcoreRounds GROUP BY s
       |ORDER BY node""".stripMargin
  }

  /** The k11 oracle: the same 10 power iterations UNROLLED as a CTE
    * chain (standard SQL forbids aggregates in a recursive term, so
    * the fixed-depth chain is the portable form). Built by a loop so
    * the per-iteration SQL is written once. All literals are cast to
    * DOUBLE — DuckDB would otherwise read 0.85 as DECIMAL(3,2) and
    * diverge from the engine's double math.
    */
  private def pagerankOracle: String = {
    val d = PrDamping
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT g.src AS node,
         |    (1 - $d::DOUBLE) / n.n + $d::DOUBLE * COALESCE(s.inflow, 0::DOUBLE) AS rank
         |  FROM deg g CROSS JOIN n
         |  LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank / e.od) AS inflow
         |    FROM ew e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY e.dst) s ON g.src = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b AS src, a AS dst FROM ed),
       |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |ew AS (SELECT e.src, e.dst, deg.od FROM e JOIN deg ON e.src = deg.src),
       |n AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, 1::DOUBLE / n.n AS rank FROM deg CROSS JOIN n),
       |$steps
       |SELECT node, round(rank * n.n, 4) AS rank_norm
       |FROM r$PrIters CROSS JOIN n
       |ORDER BY node""".stripMargin
  }

  /** The k14 oracle: [[LpIters]] semi-synchronous LPA rounds unrolled
    * as a CTE chain (k11's pattern) — supplier half-step from c{i-1},
    * customer half-step from the fresh s{i}; the argmax is a
    * row_number window with the same (count desc, label asc) total
    * order as the struct-max. */
  private def labelPropOracle: String = {
    def voteSql(out: String, joinKey: String, groupKey: String, prev: String) =
      s"""$out AS (
         |  SELECT node, lbl FROM (
         |    SELECT e.$groupKey AS node, l.lbl, COUNT(*) AS c,
         |      row_number() OVER (PARTITION BY e.$groupKey
         |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |    FROM ed e JOIN $prev l ON e.$joinKey = l.node
         |    GROUP BY e.$groupKey, l.lbl) t
         |  WHERE rn = 1)""".stripMargin
    val steps = (1 to LpIters).map { i =>
      voteSql(s"s$i", "a", "b", s"c${i - 1}") + ",\n" +
        voteSql(s"c$i", "b", "a", s"s$i")
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |c0 AS (SELECT DISTINCT a AS node, a AS lbl FROM ed),
       |$steps,
       |fin AS (SELECT node, lbl FROM c$LpIters
       |        UNION ALL SELECT node, lbl FROM s$LpIters)
       |SELECT f.node, f.lbl AS community, s.n_members
       |FROM fin f JOIN (
       |  SELECT lbl, COUNT(*) AS n_members FROM fin GROUP BY lbl) s
       |  USING (lbl)
       |ORDER BY node""".stripMargin
  }

  /** The k19 oracle: [[pagerankOracle]]'s unrolled chain with the
    * teleport term gated on seed membership — the identical IEEE
    * operation sequence as the engine (base + d·inflow per node). */
  private def pprOracle: String = {
    val d = PrDamping
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT s.node,
         |    (CASE WHEN s.is_seed THEN (1 - $d::DOUBLE) / ns.ns
         |          ELSE 0::DOUBLE END)
         |      + $d::DOUBLE * COALESCE(f.inflow, 0::DOUBLE) AS rank
         |  FROM seeds s CROSS JOIN ns
         |  LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank / e.od) AS inflow
         |    FROM ew e JOIN r${i - 1} r ON e.src = r.node
         |    GROUP BY e.dst) f ON s.node = f.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b AS src, a AS dst FROM ed),
       |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |ew AS (SELECT e.src, e.dst, deg.od FROM e JOIN deg ON e.src = deg.src),
       |seeds AS (SELECT src AS node,
       |            (src < 1000000 AND src % $PprSeedMod = 0) AS is_seed
       |          FROM deg),
       |n AS (SELECT COUNT(*) AS n FROM seeds),
       |ns AS (SELECT COUNT(*) AS ns FROM seeds WHERE is_seed),
       |r0 AS (SELECT node,
       |         CASE WHEN is_seed THEN 1::DOUBLE / ns.ns
       |              ELSE 0::DOUBLE END AS rank
       |       FROM seeds CROSS JOIN ns),
       |$steps
       |SELECT node, round(rank * n.n, 4) AS ppr_norm
       |FROM r$PrIters CROSS JOIN n
       |ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "k11_pagerank" -> pagerankOracle,
    "k19_personalized_pagerank" -> pprOracle,

    // k20: dpc is the same distinct per-chunk entity set the edges
    // CTE pairs; lift is a raw double quotient of exact integers —
    // engine-identical with no rounding
    "k20_edge_lift" ->
      s"""$ctePrefix,
         |n AS (SELECT COUNT(DISTINCT chunk_id) AS n_chunks FROM dpc),
         |dfm AS (SELECT node_id, COUNT(*) AS df FROM dpc GROUP BY node_id),
         |co AS (
         |  SELECT a.node_id AS a_id, b.node_id AS b_id, COUNT(*) AS n_co
         |  FROM dpc a JOIN dpc b
         |    ON a.chunk_id = b.chunk_id AND a.node_id < b.node_id
         |  GROUP BY a.node_id, b.node_id
         |  HAVING COUNT(*) >= $LiftMinCo)
         |SELECT co.a_id, co.b_id, co.n_co, da.df AS df_a, db.df AS df_b,
         |  CAST(co.n_co * n.n_chunks AS DOUBLE) / (da.df * db.df) AS lift
         |FROM co CROSS JOIN n
         |JOIN dfm da ON co.a_id = da.node_id
         |JOIN dfm db ON co.b_id = db.node_id
         |ORDER BY a_id, b_id""".stripMargin,
    "k14_label_prop" -> labelPropOracle,

    // reachability as transitive closure (d6's oracle pattern): the
    // component of a node is min over everything it can reach
    "k15_components" ->
      s"""$compCtes
        |SELECT c.node, c.component, s.n_members
        |FROM comp c JOIN sizes s USING (component)
        |ORDER BY node""".stripMargin,

    // k24: the same recursive-reach chain, sizes rolled to the
    // distribution — size arithmetic exact integers both engines.
    "k24_component_sizes" ->
      s"""$compCtes
        |SELECT n_members AS size, COUNT(*) AS n_components,
        |  CAST(n_members * COUNT(*) AS BIGINT) AS n_nodes
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    "k16_kcore" -> kcoreOracle,

    // same capped universe on both sides of the Jaccard: hub
    // customers are excluded before degrees AND intersections
    "k17_node_similarity" ->
      s"""WITH ed AS (
         |  SELECT DISTINCT o_custkey AS a, l_suppkey AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |capped AS (
         |  SELECT a, b FROM ed WHERE a IN (
         |    SELECT a FROM ed GROUP BY a HAVING COUNT(*) <= $WedgeCap)),
         |deg AS (SELECT b, COUNT(*) AS dg FROM capped GROUP BY b),
         |inter AS (
         |  SELECT x.b AS b1, y.b AS b2, COUNT(*) AS n_common
         |  FROM capped x JOIN capped y ON x.a = y.a AND x.b < y.b
         |  GROUP BY x.b, y.b)
         |SELECT b1 AS supp_a, b2 AS supp_b, n_common,
         |  d1.dg AS deg1, d2.dg AS deg2,
         |  round(n_common * 1.0 / (d1.dg + d2.dg - n_common), 4) AS jaccard
         |FROM inter
         |JOIN deg d1 ON b1 = d1.b JOIN deg d2 ON b2 = d2.b
         |WHERE n_common * 1.0 / (d1.dg + d2.dg - n_common) >= $JacMin
         |ORDER BY supp_a, supp_b""".stripMargin,

    // recursive CTE with UNION (dedup on (node, d) pairs) and a depth
    // cap mirroring BfsRounds: the walk-length MIN per node equals
    // the Spark side's synchronous relaxation fixpoint for all nodes
    // within BfsRounds hops
    "k18_shortest_paths" ->
      s"""WITH RECURSIVE eo AS (
         |  SELECT o_orderkey, o_custkey FROM orders
         |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-14'),
         |e0 AS (
         |  SELECT DISTINCT eo.o_custkey AS a, l.l_suppkey + 1000000 AS b
         |  FROM eo JOIN lineitem l ON l.l_orderkey = eo.o_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM e0
         |          UNION SELECT b, a FROM e0),
         |seeds AS (SELECT DISTINCT src AS node FROM edges
         |          WHERE src < 1000000 AND src % 3 = 0),
         |bfs(node, d) AS (
         |  SELECT node, 0 FROM seeds
         |  UNION
         |  SELECT e.dst, b.d + 1 FROM bfs b
         |  JOIN edges e ON e.src = b.node WHERE b.d < ${BfsRounds})
         |SELECT node, CAST(MIN(d) AS INT) AS hops
         |FROM bfs GROUP BY node ORDER BY node""".stripMargin,

    // k21: the per-seed BFS unrolled as a (seed, node, d) recursion
    // over the identical graph; the CONSTANT-SIZE seed sample is the
    // same Lehmer-rank top-K the plan takes, and 1/d rides the exact
    // integer quotient floor(1e6/d), so the harmonic sum carries no
    // float at all
    "k21_harmonic_closeness" ->
      s"""WITH RECURSIVE $HcDistCte
         |SELECT node, COUNT(*) AS n_seeds_reaching,
         |  CAST(SUM(CAST(FLOOR(1000000.0 / d) AS BIGINT)) AS BIGINT)
         |    AS harmonic_micro
         |FROM sp WHERE d > 0
         |GROUP BY node ORDER BY node""".stripMargin,

    // k22: the SAME distance CTE, aggregated to the hop table; the
    // cumulative join, the ×10/×9 rule, and the min-hop verdict are
    // integer-exact on both engines.
    "k22_effective_diameter" ->
      s"""WITH RECURSIVE $HcDistCte,
         |hop AS (SELECT CAST(d AS INT) AS h, COUNT(*) AS n_at_hop
         |        FROM sp GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM sp),
         |cum AS (SELECT a.h, a.n_at_hop,
         |          CAST(SUM(b.n_at_hop) AS BIGINT) AS n_within
         |        FROM hop a JOIN hop b ON b.h <= a.h
         |        GROUP BY a.h, a.n_at_hop)
         |SELECT c.h, c.n_at_hop, c.n_within, t.n_total,
         |  c.n_within * 10 >= t.n_total * 9 AS reaches90,
         |  (SELECT CAST(MIN(h) AS INT) FROM cum CROSS JOIN tot
         |   WHERE n_within * 10 >= n_total * 9) AS eff_diameter
         |FROM cum c CROSS JOIN tot t ORDER BY c.h""".stripMargin,

    // naive closed-wedge triangle enumeration: src<tgt is already the
    // canonical order, so a.src<a.tgt=b.src<b.tgt gives each triangle
    // {x<y<z} exactly once; corners attribute it to all three nodes
    "k13_clustering_coeff" ->
      s"""$ctePrefix,
         |ue AS (SELECT DISTINCT src, tgt FROM edges),
         |deg AS (SELECT n, COUNT(*) AS degree FROM (
         |  SELECT src AS n FROM ue UNION ALL SELECT tgt FROM ue) t GROUP BY n),
         |tri AS (
         |  SELECT a.src AS x, a.tgt AS y, b.tgt AS z
         |  FROM ue a
         |  JOIN ue b ON b.src = a.tgt
         |  JOIN ue c ON c.src = a.src AND c.tgt = b.tgt),
         |pern AS (SELECT n, COUNT(*) AS n_triangles FROM (
         |  SELECT x AS n FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri) t GROUP BY n)
         |SELECT d.n AS node_id, d.degree,
         |  COALESCE(p.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |       THEN round(2.0 * COALESCE(p.n_triangles, 0) /
         |            (d.degree * (d.degree - 1)), 4)
         |       ELSE 0.0 END AS clustering_coeff
         |FROM deg d LEFT JOIN pern p USING (n)
         |ORDER BY node_id""".stripMargin,

    "k1_chunks" ->
      s"""$ctePrefix
         |SELECT chunk_id, paper_id, chunk_index, chunk_ord, word_count, text_content
         |FROM chunks
         |ORDER BY chunk_id""".stripMargin,

    "k2_chunk_stats" ->
      s"""$ctePrefix
         |SELECT paper_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(word_count) AS BIGINT) AS sum_wc,
         |  min(word_count) AS min_wc, max(word_count) AS max_wc
         |FROM chunks
         |GROUP BY paper_id
         |ORDER BY paper_id""".stripMargin,

    "k3_kg_nodes" ->
      s"""$ctePrefix
         |SELECT min(node_id) AS node_id,
         |  arg_min(name, chunk_id || printf('_%06d', ord)) AS name,
         |  name_normalized,
         |  COUNT(DISTINCT paper_id) AS paper_count
         |FROM ents
         |GROUP BY name_normalized
         |ORDER BY name_normalized""".stripMargin,

    "k4_kg_edges" ->
      s"""$ctePrefix
         |SELECT src AS source_node_id, tgt AS target_node_id, paper_id, weight
         |FROM edges
         |ORDER BY source_node_id, target_node_id, paper_id""".stripMargin,

    // k23: degrees restated over the same distinct edge set.
    "k23_degree_histogram" ->
      s"""$ctePrefix,
         |uedges AS (SELECT DISTINCT src, tgt FROM edges),
         |deg AS (
         |  SELECT node, COUNT(*) AS degree FROM (
         |    SELECT src AS node FROM uedges
         |    UNION ALL SELECT tgt AS node FROM uedges)
         |  GROUP BY node)
         |SELECT degree, COUNT(*) AS n_nodes FROM deg
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // df-cap before the per-chunk rank, rank by first occurrence
    // (unique within a chunk: each ord is one occurrence), C(cap,2)
    // pair join — Ingest.edges(cap) term for term.
    "k12_kg_edges_capped" ->
      s"""$ctePrefix,
         |dpcf AS (
         |  SELECT chunk_id, paper_id, node_id, MIN(ord) AS first_ord
         |  FROM ents GROUP BY chunk_id, paper_id, node_id),
         |keep AS (
         |  SELECT node_id FROM dpcf GROUP BY node_id
         |  HAVING COUNT(DISTINCT chunk_id)
         |    <= (SELECT COUNT(DISTINCT chunk_id) FROM dpcf) * $EdgeMaxDfFrac),
         |capped AS (
         |  SELECT chunk_id, paper_id, node_id FROM (
         |    SELECT d.chunk_id, d.paper_id, d.node_id,
         |      row_number() OVER (PARTITION BY d.chunk_id
         |        ORDER BY d.first_ord) AS rk
         |    FROM dpcf d JOIN keep USING (node_id)) t
         |  WHERE rk <= $EdgeCapPerChunk)
         |SELECT * FROM (
         |  SELECT a.node_id AS source_node_id, b.node_id AS target_node_id,
         |    a.paper_id AS paper_id, CAST(COUNT(*) AS DOUBLE) AS weight
         |  FROM capped a JOIN capped b
         |    ON a.chunk_id = b.chunk_id AND a.node_id < b.node_id
         |  GROUP BY a.node_id, b.node_id, a.paper_id) e
         |ORDER BY source_node_id, target_node_id, paper_id""".stripMargin,

    "k5_entity_map" ->
      s"""$ctePrefix
         |SELECT node_id, COUNT(*) AS n_mentions,
         |  COUNT(DISTINCT chunk_id) AS n_chunks
         |FROM ents
         |GROUP BY node_id
         |ORDER BY node_id""".stripMargin,

    "k6_graph_2hop" -> {
      val seedList = SeedNames.map(n => s"'$n'").mkString(", ")
      s"""$ctePrefix,
         |seeds AS (
         |  SELECT DISTINCT node_id, name_normalized FROM ents
         |  WHERE name_normalized IN ($seedList)),
         |rel AS (
         |  SELECT s.name_normalized AS seed, e.tgt AS neighbor_id, e.weight
         |  FROM seeds s JOIN edges e ON e.src = s.node_id
         |  UNION ALL
         |  SELECT s.name_normalized AS seed, e.src AS neighbor_id, e.weight
         |  FROM seeds s JOIN edges e ON e.tgt = s.node_id)
         |SELECT seed, neighbor_id, SUM(weight) AS total_weight
         |FROM rel
         |GROUP BY seed, neighbor_id
         |ORDER BY total_weight DESC, seed, neighbor_id
         |LIMIT 20""".stripMargin
    },

    "k9_triangles" ->
      s"""$ctePrefix,
         |ue AS (SELECT DISTINCT src, tgt FROM edges)
         |SELECT e1.src AS a, e1.tgt AS b, e2.tgt AS c
         |FROM ue e1
         |JOIN ue e2 ON e2.src = e1.tgt
         |JOIN ue e3 ON e3.src = e1.src AND e3.tgt = e2.tgt
         |ORDER BY a, b, c""".stripMargin,

    "k8_chunks_v" ->
      s"""$ctePrefix
         |SELECT c.chunk_id, c.paper_id, c.chunk_index,
         |  'body' AS section_name, c.text_content, c.word_count,
         |  c.title, '' AS authors, CAST(NULL AS INT) AS publication_year,
         |  '' AS categories, '' AS source_url,
         |  len(e.embedding) AS emb_dim
         |FROM chunks c LEFT JOIN embeddings e ON e.vec_id = c.doc_id
         |ORDER BY c.chunk_id""".stripMargin,

    "k10_sections" ->
      s"""WITH docs AS (
         |  SELECT printf('doc_%06d', doc_id) AS paper_id,
         |    string_split_regex(trim(text), '\\s+') AS w,
         |    len(string_split_regex(trim(text), '\\s+')) AS n
         |  FROM documents),
         |cut AS (
         |  SELECT *, CAST(ceil(n / 4.0) AS INT) AS ae,
         |    CAST(ceil(n * 3.0 / 4.0) AS INT) AS be
         |  FROM docs),
         |zipped AS (
         |  SELECT paper_id,
         |    unnest(['abstract', 'body', 'conclusion']) AS section_name,
         |    unnest([array_to_string(list_slice(w, 1, ae), ' '),
         |            array_to_string(list_slice(w, ae + 1, be), ' '),
         |            array_to_string(list_slice(w, be + 1, n), ' ')]) AS stext
         |  FROM cut),
         |secs AS (
         |  SELECT paper_id, section_name,
         |    string_split_regex(trim(stext), '\\s+') AS sw,
         |    len(string_split_regex(trim(stext), '\\s+')) AS sn
         |  FROM zipped
         |  WHERE (CASE WHEN length(trim(stext)) = 0 THEN 0
         |              ELSE len(string_split_regex(trim(stext), '\\s+')) END) >= $MinWords),
         |starts AS (
         |  SELECT paper_id, section_name, sw, sn,
         |    unnest(CASE WHEN section_name = 'abstract' THEN [0]
         |      ELSE list_filter(generate_series(0, greatest(sn - 1, 0), $Stride),
         |             s -> s = 0 OR s + $Overlap < sn) END) AS s
         |  FROM secs),
         |chunks0 AS (
         |  SELECT paper_id, section_name,
         |    CAST(CASE WHEN section_name = 'abstract' THEN 0
         |              ELSE s // $Stride END AS INT) AS chunk_ord,
         |    CAST(CASE WHEN section_name = 'abstract' THEN sn
         |              ELSE least(sn - s, $Size) END AS INT) AS word_count,
         |    CASE WHEN section_name = 'abstract' THEN array_to_string(sw, ' ')
         |         ELSE array_to_string(list_slice(sw, s + 1, s + $Size), ' ') END
         |      AS text_content
         |  FROM starts)
         |SELECT printf('%s_%s_c%03d', paper_id, section_name, chunk_ord) AS chunk_id,
         |  paper_id, section_name, chunk_ord, word_count, text_content
         |FROM chunks0
         |WHERE word_count >= $MinWords
         |ORDER BY chunk_id""".stripMargin,

    "k7_search_chunks" ->
      s"""$ctePrefix,
         |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |ce AS (
         |  SELECT c.chunk_id, c.paper_id, c.title, e.embedding::DOUBLE[] AS emb
         |  FROM chunks c JOIN embeddings e ON e.vec_id = c.doc_id)
         |SELECT chunk_id, paper_id, title,
         |  round(list_dot_product(emb, qe) /
         |    (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))), 4) AS score
         |FROM ce, q
         |ORDER BY list_dot_product(emb, qe) /
         |    (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))) DESC,
         |  chunk_id
         |LIMIT 5""".stripMargin
  )

  /** Scale-smoke diagnostics (SCALE.md evidence — the graph analogue
    * of DedupQ.candidateDiagnostics): node/edge counts of the shared
    * co-purchase graph and k17's wedge-join fan-in over the capped
    * universe. The iterative family's per-round shuffle volume is a
    * fixed multiple of `graph_edges` by construction (k11: one rank
    * message per edge; k14/k15: 2m candidate rows over the
    * symmetrized graph; k18: ≤ m frontier messages), so a ~linear
    * edge curve at growing SF is the no-blowup proof for the whole
    * family. Wedges are the one super-linear hazard — Σ_a deg(a)·
    * (deg(a)−1)/2 with hub customers (deg > [[WedgeCap]]) excluded —
    * bounded per customer by cap²/2. */
  def graphDiagnostics(s: SparkSession, d: String): Map[String, Long] = {
    val g = orderGraph(s, d)
    val m = g.count()
    val n = g.select(col("a").as("v")).unionByName(g.select(col("b").as("v")))
      .distinct().count()
    val ed = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"), col("l_suppkey").as("b"))
      .distinct()
    val wedges = ed.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") <= WedgeCap)
      .agg(coalesce(sum((col("dg") * (col("dg") - 1) / 2).cast("long")), lit(0L)))
      .head.getLong(0)
    Map("graph_nodes" -> n, "graph_edges" -> m, "k17_wedges" -> wedges)
  }
}
