package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.VectorOps
import graft.ops.Lineage.CutOps

/** Vector / similarity-search operators (SURVEY.md §2.9 V2–V4 + the
  * ANN extensions): cosine top-k, norms, JSON round-trip parity,
  * brute-force k-NN, and an IVF-style (centroid-bucketed) k-NN.
  *
  * All dot products fold left-to-right (graft.functions.DotProduct),
  * matching DuckDB's `list_dot_product`, so raw double scores are
  * bitwise identical across engines — rankings agree exactly and the
  * rounded scores hash-match.
  */
object VectorQ {

  /** Learned-centroid IVF (v7/v8) parameters: coarse-quantizer size
    * and Lloyd's iterations for [[graft.ops.Ivf.build]]. */
  val IvfClusters = 8
  val IvfIters = 3

  /** Fixture embedding dimensionality (TESTDATA.md). */
  val EmbDim = 64

  /** v10 LSH: number of random hyperplanes (2^planes buckets). */
  val LshPlanes = 4
  val PqM = 4
  val PqK = 16
  val PqIters = 3

  /** v9 exact-PQ training: total assignment passes (updates between
    * them) — mirrored pass for pass by the unrolled oracle CTEs. */
  val PqPasses = 3

  /** v22 filtered search: the metadata predicate (label equality)
    * and the post-filter overfetch multiple (global top-(k·m) is
    * filtered AFTER ranking — the recall-losing strategy the query
    * quantifies against the exact pre-filter path). */
  val V22Label = 3
  val V22Overfetch = 2

  /** v23 hybrid retrieval: RRF constant (Cormack et al. 2009's
    * k=60), per-leg candidate depth, and the integer scale that keeps
    * the fused score exact — each leg contributes
    * floor(RrfMicro / (RrfK + rank)), all-integer on both engines. */
  val RrfK = 60
  /** v28 refine shortlist depth: the ADC stage keeps R ≫ k
    * candidates; the exact re-rank reads only these R per query. */
  val RefineR = 10

  val RrfLegDepth = 20
  val RrfMicro = 1000000L

  /** v30 graph-ANN parameters: candidate blocks per vector (nearest
    * centroids), graph out-degree, NN-descent rounds, search beam
    * width, beam-walk rounds. Small fixed budgets keep the whole
    * build+search chain unrollable into oracle SQL. */
  val NswBlocks = 2
  val NswM = 4
  val NswRounds = 2
  val NswBeam = 4
  val NswWalk = 3
  // v38 HNSW hierarchy: 2 upper layers (expected 1/4, 1/16 of the
  // corpus), narrow upper walks, 1 descent round per upper build
  val NswMaxLevel = 2
  val NswUpperBeam = 2
  val NswUpperWalk = 1
  val NswUpperRounds = 1

  private def emb(s: SparkSession, d: String) =
    Tables.load(s, d, "embeddings").select(col("vec_id"), col("embedding"))

  /** Session-shared exact brute-force truth set (qid, nb_id): the
    * recall denominators of the whole eval/graph family (v17, v29,
    * v30–v35). Each consumer used to re-run the v4 plan (~0.3–0.6 s
    * per call); Derived-caching it the same way the family shares
    * `nsw_edges` removes the redundant corpus scans. */
  private def knnTruth(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "knn_truth") {
      defs("v4_knn_bruteforce")(s, d).select(col("qid"), col("nb_id"))
    }

  /** Session-memoized learned IVF index: v7 and v8 probe the SAME
    * trained index (one KMeans run per session, Derived-managed
    * persists for both index tables — the production shape, where the
    * index is built once and every query probes it). Trained with
    * [[graft.ops.Ivf.buildExact]] (decimal-explode centroid means) so
    * the model reproduces in SQL: v7 keeps its brute-force oracle
    * (nprobe = k is exact under ANY training), and v8's nprobe = 2
    * result gains a FULL hash oracle (ivfProbe2Oracle unrolls the
    * same training, x11-style). Ivf.build stays the float scale
    * path, pinned by IvfSpec.
    */
  /** v20 split: vectors with vec_id % [[AppendSplitMod]] <
    * [[AppendHistMax]] are the STORED corpus (the index is trained
    * and built on them); the rest are the nightly batch admitted via
    * [[graft.ops.Ivf.append]] without retraining or a corpus rescan. */
  val AppendSplitMod = 10
  val AppendHistMax = 8

  /** v25: a cluster whose batch share moved more than this many
    * parts-per-256 (= 12.5 percentage points) from its stored share
    * marks the partitioner stale. The verdict is REPLAYED by the
    * oracle from the same integer quotients, so the hash pins
    * whatever the data says at each SF; IvfSpec drives a
    * deliberately biased batch over the line. */
  val DriftMax256 = 32

  /** Session-memoized history-split index for v20 (same
    * Derived-paired pattern as [[learnedIndex]]): exact-trained on
    * the stored 80%, so the whole append-then-probe path replays in
    * SQL. */
  private def historyIndex(s: SparkSession, d: String): graft.ops.Ivf.Index = {
    val cached = for {
      c <- Derived.peek(s, d, "ivf_hist_centroids")
      a <- Derived.peek(s, d, "ivf_hist_assigned")
    } yield graft.ops.Ivf.Index(c, a, "vec_id")
    cached.getOrElse {
      val hist = emb(s, d).filter(col("vec_id") % AppendSplitMod < AppendHistMax)
      val b = graft.ops.Ivf.buildExact(hist, "vec_id", "embedding",
        k = IvfClusters, assignPasses = IvfIters)
      val Seq(cents, assigned) = Derived.ofAll(s, d,
        Seq("ivf_hist_centroids" -> b.centroids,
          "ivf_hist_assigned" -> b.assigned))
      graft.ops.Ivf.Index(cents, assigned, "vec_id")
    }
  }

  /** x25 composition hooks: the v20 machinery exposed for the
    * composed lakehouse-pipeline query (ExtQ x25) — the
    * session-memoized history index and the appended
    * (history ∪ batch) index built by [[graft.ops.Ivf.append]]. */
  private[queries] def x25HistoryIndex(s: SparkSession, d: String): graft.ops.Ivf.Index =
    historyIndex(s, d)

  private[queries] def x25AppendedIndex(s: SparkSession, d: String): graft.ops.Ivf.Index = {
    val batch = emb(s, d).filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
    graft.ops.Ivf.append(historyIndex(s, d), batch, "embedding")
  }

  private def learnedIndex(s: SparkSession, d: String): graft.ops.Ivf.Index = {
    // KMeans training runs Spark jobs — peek first and train OUTSIDE
    // Derived's lock (Derived.peek doc); a lost race wastes one
    // training run but Derived.of keeps the first entry.
    val cached = for {
      c <- Derived.peek(s, d, "ivf_centroids")
      a <- Derived.peek(s, d, "ivf_assigned")
    } yield graft.ops.Ivf.Index(c, a, "vec_id")
    cached.getOrElse {
      val b = graft.ops.Ivf.buildExact(emb(s, d), "vec_id", "embedding",
        k = IvfClusters, assignPasses = IvfIters)
      // atomic paired insert: centroids and assignments must come from
      // the SAME training run (Derived.ofAll), never a torn mix of two
      // racing builds
      val Seq(cents, assigned) = Derived.ofAll(s, d,
        Seq("ivf_centroids" -> b.centroids, "ivf_assigned" -> b.assigned))
      graft.ops.Ivf.Index(cents, assigned, "vec_id")
    }
  }

  /** Session-memoized PQ index (same pattern as [[learnedIndex]]):
    * codebooks + codes trained once, every query ADC-scans them.
    * v9 uses the ORACLE-EXACT trainer ([[graft.ops.Pq.buildExact]],
    * decimal-explode centroid means) so the whole index — and every
    * ADC score — is reproducible in the DuckDB twin; Pq.build stays
    * the scale path, pinned by PqSpec. */
  private def pqIndex(s: SparkSession, d: String): graft.ops.Pq.Index = {
    val cached = for {
      cb <- Derived.peek(s, d, "pq_codebooks")
      enc <- Derived.peek(s, d, "pq_encoded")
    } yield graft.ops.Pq.Index(PqM, EmbDim / PqM, cb, enc, "vec_id")
    cached.getOrElse {
      val b = graft.ops.Pq.buildExact(emb(s, d), "vec_id", "embedding",
        dim = EmbDim, m = PqM, k = PqK, assignPasses = PqPasses)
      val Seq(cb, enc) = Derived.ofAll(s, d,
        Seq("pq_codebooks" -> b.codebooks, "pq_encoded" -> b.encoded))
      graft.ops.Pq.Index(PqM, EmbDim / PqM, cb, enc, "vec_id")
    }
  }

  /** v10's sign-bit-bucketed corpus (vec_id, embedding, bucket) —
    * shared by the query and the scale diagnostics. Planes are
    * hash-derived (reconstructible in SQL); they fold to literals at
    * plan time. */
  private def lshBucketedOf(s: SparkSession, d: String): DataFrame = {
    def plane(p: Int) = transform(sequence(lit(0), lit(EmbDim - 1)),
      dd => (graft.ops.TextFns.hash60(
        concat(lit(s"lsh|$p|"), dd.cast("string"))) % 2001 - 1000) / lit(1000.0))
    def bucketOf(v: org.apache.spark.sql.Column) =
      (0 until LshPlanes).map(p =>
        when(VectorOps.dot(v, plane(p)) >= 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
    emb(s, d)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("bucket", bucketOf(col("ed")))
      .select(col("vec_id"), col("embedding"), col("bucket"))
  }

  /** Scale-smoke diagnostics (SCALE.md evidence): the candidate rows
    * the ANN paths scan for the standard 5-query set — must track
    * bucket density (corpus/2^planes, nprobe/k·corpus), never the
    * corpus squared. */
  def annCandidateDiagnostics(s: SparkSession, d: String): Map[String, Long] = {
    val e = lshBucketedOf(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("bucket").as("qbucket"))
    val v10 = e.join(broadcast(q),
      col("bucket") === col("qbucket") && col("vec_id") =!= col("qid")).count()
    val queries = emb(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val v8 = graft.ops.Ivf.probeCandidateCount(
      learnedIndex(s, d), queries, nprobe = 2)
    // v14's within-cluster pair count Σ C(n_c, 2), measured twice:
    // with the fixture k (what the declared query uses — quadratic in
    // corpus size when k stays fixed) and with k scaled to the corpus
    // (the SemDeDup contract: clusters ∝ n keeps per-cluster blocks —
    // and with them the candidate total — growing linearly).
    def semPairs(k: Int): Long = {
      val (_, asg) = graft.ops.KMeans.fit(
        emb(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = k, maxIters = 3)
      asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2).cast("long"))
        .head.getLong(0)
    }
    val n = emb(s, d).count()
    val kFixed = graft.queries.ExtQ.KmK
    // the DECLARED v21/k-scaled blocking: max(KmK, n / KnnBlockRows)
    // — pairs should track ~n·KnnBlockRows (linear), while the fixed-k
    // column shows the n²/k curve the scale-aware plan avoids
    val kScaled = graft.queries.ExtQ.knnJoinClusters(n)
    // v30's build pair join, measured at the fixture's fixed block
    // count AND at the v21 scale rule (blocks ∝ n): same linear-vs-
    // quadratic contrast as v14's columns — at 100 TB the graph build
    // blocks at knnJoinClusters-scale counts, and the walk's touched
    // set stays beam·m·rounds per query regardless of corpus size.
    def nswPairs(k: Int): Long = {
      val (cents, _) = graft.ops.KMeans.fit(
        emb(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = k, maxIters = 3)
      val asgB = graft.ops.Nsw.blockAssign(
        emb(s, d), "vec_id", "embedding", cents, NswBlocks)
      asgB.select(col("vec_id").as("a"), col("cluster_id"))
        .join(asgB.select(col("vec_id").as("b"), col("cluster_id")), "cluster_id")
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b")).distinct().count()
    }
    val e2 = emb(s, d)
    val idx = learnedIndex(s, d)
    val walkTouched = graft.ops.Nsw.searchCandidateCount(
      Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e2, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      },
      e2, "vec_id", "embedding",
      graft.ops.Nsw.entries(idx.assigned, "vec_id"),
      e2.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      NswBeam, NswWalk)
    Map(
      "corpus_vectors" -> n,
      "knn_join_k" -> kScaled.toLong,
      "v10_candidates" -> v10,
      "v8_candidates" -> v8,
      "v14_pairs_k_fixed" -> semPairs(kFixed),
      "v14_pairs_k_scaled" -> semPairs(kScaled),
      "v30_pairs_k_fixed" -> nswPairs(IvfClusters),
      "v30_pairs_k_scaled" -> nswPairs(kScaled),
      "v30_walk_touched" -> walkTouched)
  }

  /** The cosine expression shared by v1/d5: dot/(|a||b|). */
  private def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    VectorOps.dot(a, b) / (VectorOps.l2norm(a) * VectorOps.l2norm(b))

  /** DuckDB twin of [[cos]]. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  val defs: Map[String, Q] = Map(
    // v1 — V2+V3+T1: flagship vector top-k. Query vector = embedding
    // of vec_id 0 (broadcast, one row); corpus scan scored by the
    // codegen'd dot product; TakeOrderedAndProject for the top-k.
    "v1_cosine_topk" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("raw", cos(col("embedding"), col("qe")))
        .orderBy(col("raw").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("raw"), 4).as("score"))
    }),

    // v19 — RANGE (radius) similarity search: every corpus vector
    // with cosine >= [[RadiusTau]] against the query vector —
    // set-valued semantics (result size is data-dependent), the other
    // half of the retrieval API next to v1's top-k. Same scale shape
    // as v1: broadcast single-row query, narrow codegen'd scoring
    // scan, and the threshold filter runs BEFORE any ordering, so
    // the distributed stage is a pure filter-scan (no TakeOrdered
    // heap needed, no global sort of the corpus — the final orderBy
    // sorts only the matching set). Both engines compute the cosine
    // with the identical left-to-right fold, so the >= boundary
    // decision is bitwise-identical (the property v1's ORDER BY
    // already relies on).
    "v19_radius_search" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("raw", cos(col("embedding"), col("qe")))
        .filter(col("raw") >= RadiusTau)
        .select(col("vec_id"), round(col("raw"), 4).as("score"))
        .orderBy(col("vec_id"))
    }),

    // v23 — HYBRID retrieval (BM25 ⊕ cosine via reciprocal-rank
    // fusion): the query every production RAG engine actually runs —
    // lexical and vector legs retrieved independently, fused by rank,
    // not by incomparable raw scores (RRF, Cormack et al. 2009). The
    // lexical leg IS t10's scoring frame (TextQ.bm25Frame — one
    // definition, zero drift) ranked to depth L; the vector leg is
    // v1's broadcast-query cosine scan ranked to depth L; both legs
    // end in TakeOrderedAndProject (distributed top-L heaps), and
    // leg ranks come from the GlobalIndex operator over the ≤L-row
    // survivors — never an unpartitioned window (the single-reducer
    // anti-pattern PlanShapeSpec bans repo-wide). Fusion is a
    // full-outer join of two ≤L-row sets with the all-integer score
    // floor(1e6/(60+r_lex)) + floor(1e6/(60+r_vec)) — exact on both
    // engines, so the fused ordering hash-checks with no float
    // tolerance argument. The query document (doc 0, whose embedding
    // is the vector-leg query) is excluded from both legs. At 100 TB
    // the legs are the scale story (t10's pre-shuffle term filter,
    // v1's broadcast query); fusion cost is O(L), corpus-independent.
    "v23_hybrid_rrf" -> ((s, d) => {
      val lexTop = graft.queries.TextQ.bm25Frame(s, d)
        .filter(col("doc_id") =!= 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(RrfLegDepth)
      val lex = graft.ops.GlobalIndex
        .withGlobalIndex(lexTop, Seq(col("bm25").desc, col("doc_id")), "rl0")
        .select(col("doc_id"), (col("rl0") + 1).cast("int").as("rank_lex"))
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val vecTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("raw", cos(col("embedding"), col("qe")))
        .orderBy(col("raw").desc, col("vec_id"))
        .limit(RrfLegDepth)
      val vec = graft.ops.GlobalIndex
        .withGlobalIndex(vecTop, Seq(col("raw").desc, col("vec_id")), "rv0")
        .select(col("vec_id").as("doc_id"), (col("rv0") + 1).cast("int").as("rank_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(floor(lit(RrfMicro) / (lit(RrfK) + col("rank_lex"))).cast("long"), lit(0L)) +
            coalesce(floor(lit(RrfMicro) / (lit(RrfK) + col("rank_vec"))).cast("long"), lit(0L)))
        .select(col("doc_id"),
          coalesce(col("rank_lex"), lit(0)).cast("int").as("rank_lex"),
          coalesce(col("rank_vec"), lit(0)).cast("int").as("rank_vec"),
          col("rrf_micro"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
        .limit(10)
    }),

    // v2 — V4: L2 norm + dimension audit of every vector.
    "v2_vector_norms" -> ((s, d) => {
      emb(s, d)
        .select(col("vec_id"),
          round(VectorOps.l2norm(col("embedding")), 4).as("l2_norm"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    }),

    // v3 — F9: embeddings-as-JSON round trip (the reference stores
    // vectors as JSON-in-VARCHAR, data/ingestion.py:471-473). Parse
    // back as float and prove dot(parsed, orig) == dot(orig, orig).
    "v3_json_roundtrip" -> ((s, d) => {
      emb(s, d)
        .withColumn("parsed",
          from_json(to_json(col("embedding")), "array<float>",
            Map.empty[String, String]))
        .select(col("vec_id"),
          size(col("parsed")).cast("long").as("dim"),
          round(VectorOps.dot(col("parsed"), col("embedding")), 4).as("self_dot"))
        .orderBy(col("vec_id"))
    }),

    // v4 — ANN baseline: brute-force k-NN for a small query set.
    // Broadcast the queries; one scored pass over the corpus; the
    // top-3 per query via the HEAP operator (graft.plans.TopK —
    // O(n log k) with k-row state, no per-query sort of all n
    // scores), then rank numbers assigned by a window over only the
    // ≤3 surviving rows per query. Select-then-rank is the scalable
    // decomposition: the expensive reduction never sorts, the cheap
    // window touches k rows per group.
    // v10 — LSH-BUCKETED ANN: the training-free scale path (contrast
    // IVF's learned centroids — LSH needs no fit, so it works on a
    // streaming corpus from row one). LshPlanes deterministic random
    // hyperplanes are derived from hash60 of ("lsh|plane|dim"), so
    // the SAME planes are reconstructible in plain SQL and the oracle
    // is a full hash check. A vector's bucket is its sign-bit
    // signature; candidates only form inside a bucket (2^planes
    // partitions of the corpus — at scale the bucket is the shuffle/
    // storage key and a query touches 1/2^planes of the data), ranked
    // by exact dot product. The plane arrays fold to literals at plan
    // time (hash60 of literal args is foldable).
    "v10_knn_lsh" -> ((s, d) => {
      val e = lshBucketedOf(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket").as("qbucket"))
      val scored = e.join(broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
        .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
      val top = graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq(col("raw").desc, col("vec_id")), 3)
      val w = Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("vec_id"))
      top.withColumn("nb_rank", row_number().over(w))
        .select(col("qid"), col("qbucket").as("bucket"), col("vec_id").as("nb_id"),
          col("nb_rank"), round(col("raw"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    "v4_knn_bruteforce" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
      val top = graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq(col("raw").desc, col("vec_id")), 3)
      val w = Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("vec_id"))
      top.withColumn("nb_rank", row_number().over(w))
        .select(col("qid"), col("vec_id").as("nb_id"), col("nb_rank"),
          round(col("raw"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v22 — FILTERED VECTOR SEARCH (metadata predicate + top-k): the
    // design axis every production ANN system must choose on. The
    // PRE-FILTER path restricts candidates to the predicate first and
    // ranks inside it — exact, always k results if they exist; at
    // scale it composes with the IVF family as per-bucket filtered
    // probes (the predicate pushes into the bucket scan — selective
    // filters make brute-force-within-filter CHEAPER than ANN over
    // everything). The POST-FILTER path ranks globally, takes
    // k·overfetch, then filters — the common bolt-on that silently
    // loses recall when the predicate is selective: the output
    // carries each query's post-filter survivor count next to the
    // exact pre-filter top-k, so the recall loss is a hash-pinned
    // MEASUREMENT (n_postfilter < k = the trap, quantified). Both
    // paths broadcast the query set and keep the fact scan pruned.
    "v22_filtered_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val pre = {
        val scored = e.filter(col("label") === V22Label)
          .join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
        val top = graft.plans.TopK.perKey(scored, Seq("qid"),
          Seq(col("raw").desc, col("vec_id")), 3)
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("raw").desc, col("vec_id"))
        top.withColumn("nb_rank", row_number().over(w))
      }
      val nPost = {
        val scoredAll = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
        graft.plans.TopK.perKey(scoredAll, Seq("qid"),
            Seq(col("raw").desc, col("vec_id")), 3 * V22Overfetch)
          .filter(col("label") === V22Label)
          .groupBy(col("qid")).agg(count(lit(1)).as("n_postfilter"))
      }
      pre.join(nPost, Seq("qid"), "left")
        .select(col("qid"), col("vec_id").as("nb_id"), col("nb_rank"),
          round(col("raw"), 4).as("score"),
          coalesce(col("n_postfilter"), lit(0L)).as("n_postfilter"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v5 — ANN scale path: IVF-style search. Centroids = per-label
    // element-wise mean (decimal-exact, so both engines agree
    // bitwise); each query probes only its nearest centroid's bucket.
    // At scale this is the coarse-quantizer pattern: candidate set
    // shrinks by ~n_labels×, the buckets are co-partitioned by label.
    "v5_knn_ivf" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val dims = e.select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      val cent = dims.groupBy(col("label"), col("dim"))
        .agg((sum(col("v").cast("double").cast("decimal(25,10)")).cast("double") /
          count(lit(1))).as("cv"))
      val cvecs = cent.groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dc"))
        .select(col("label").as("clabel"),
          transform(col("dc"), x => x.getField("cv")).as("cvec"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wAssign = Window.partitionBy(col("qid"))
        .orderBy(col("craw").desc, col("clabel"))
      val assigned = q.crossJoin(broadcast(cvecs))
        .withColumn("craw", VectorOps.dot(col("qe").cast("array<double>"), col("cvec")))
        .withColumn("crn", row_number().over(wAssign))
        .filter(col("crn") === 1)
        .select(col("qid"), col("qe"), col("clabel"))
      val wRank = Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("vec_id"))
      assigned.join(e, col("label") === col("clabel") && col("vec_id") =!= col("qid"))
        .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
        .withColumn("nb_rank", row_number().over(wRank))
        .filter(col("nb_rank") <= 3)
        .select(col("qid"), col("clabel").as("probe_label"), col("vec_id").as("nb_id"),
          col("nb_rank"), round(col("raw"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v7 — the SELF-CONTAINED learned-centroid IVF index
    // (graft.ops.Ivf: KMeans-trained coarse quantizer, bucketed
    // assignment, nprobe probing) driven end to end, probed with
    // nprobe = IvfClusters. Probing EVERY bucket makes the result
    // exact by construction — the answer is independent of where the
    // (float-sum-order-sensitive) trained centroids landed — so the
    // full brute-force DuckDB oracle applies while the query still
    // exercises the real index path: train → assign → per-query
    // bucket ranking → candidate scan → bounded-heap top-k. Runs its
    // training jobs at DataFrame construction (iterative), like x5.
    "v7_knn_ivf_learned" -> ((s, d) => {
      val e = emb(s, d)
      val idx = learnedIndex(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(idx, q, nprobe = IvfClusters, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v8 — the same learned index in its production configuration:
    // nprobe = 2 of IvfClusters buckets, candidate set ~2/k of the
    // corpus. Still approximate RETRIEVAL (that's the point of
    // nprobe < k), but with the exact-trained index the bucket
    // choices and scores are deterministic arithmetic — the oracle
    // reproduces training + bucket ranking + candidate scan in SQL
    // and the result is a full hash check.
    "v8_knn_ivf_probe2" -> ((s, d) => {
      val e = emb(s, d)
      val idx = learnedIndex(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(idx, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v27 — FILTERED ANN (metadata predicate + vector search — the
    // filtered-search shape every production vector store serves:
    // "nearest neighbors among label-1 vectors"). The predicate
    // restricts the CANDIDATE SET before top-k — post-filtering a
    // finished top-k under-fills k whenever the predicate is
    // selective (at ~10% selectivity a post-filtered top-3 is
    // usually empty) and mis-ranks what survives. The allowed-id
    // set joins the bucket-partitioned assignment table (at 100 TB
    // the label column lives ON the assignment rows, so this is a
    // pushed filter with zero extra shuffle); centroid ranking and
    // probe budget are unchanged, so the scan still reads nprobe/k
    // of the (filtered) corpus. Exact-trained index ⇒ the same
    // unrolled-training hash oracle with the predicate in the
    // candidate stage.
    "v27_filtered_knn" -> ((s, d) => {
      val idx = learnedIndex(s, d)
      val allowed = Tables.load(s, d, "embeddings")
        .filter(col("label") === 1).select(col("vec_id"))
      val fidx = graft.ops.Ivf.Index(idx.centroids,
        idx.assigned.join(allowed, "vec_id"), "vec_id")
      val q = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(fidx, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v24 — PERSISTED VECTOR INDEX (index-as-a-table): the trained
    // IVF index committed to the snapshot log — centroids and
    // assignments as TWO lakehouse tables landed in ONE x45
    // transaction (a torn index pair silently serves wrong
    // neighbors; the decision marker makes torn impossible, and the
    // query hash-pins the invisibility-then-atomic-landing probe) —
    // then SEARCHED from the committed versions, not from session
    // memory. Parquet round-trips doubles bit-exactly, so the
    // persisted probe must reproduce v8's in-session result row for
    // row (the oracle is v8's unrolled-training twin plus the
    // atomicity flag). This is the production contract of every
    // vector store on a lakehouse (LanceDB / FAISS-on-object-store):
    // the index OUTLIVES the process that trained it, versioned and
    // vacuum-managed like any table, and a searcher is a cold
    // process that reads the log — at 100 TB the model-sized
    // centroids broadcast from one small version read while the
    // bucket scan prunes to nprobe/k of the corpus table.
    "v24_index_persist" -> ((s, d) => {
      import graft.sources.Snapshots
      val centDir = freshSnapDir(s, d, "v24_cents")
      val asgDir = freshSnapDir(s, d, "v24_asg")
      val txnDir = freshSnapDir(s, d, "v24_txn")
      val idx = learnedIndex(s, d)
      val t = java.util.UUID.randomUUID().toString
      Snapshots.txnStage(idx.centroids, centDir, txnDir, t)
      Snapshots.txnStage(idx.assigned, asgDir, txnDir, t)
      val invisibleStaged = Snapshots.versions(s, centDir).isEmpty &&
        Snapshots.versions(s, asgDir).isEmpty
      Snapshots.txnCommit(s, txnDir, t, Seq(centDir, asgDir))
      val landedAtomic = Snapshots.versions(s, centDir) == Seq(1) &&
        Snapshots.versions(s, asgDir) == Seq(1)
      // a cold searcher: the index is whatever the log serves
      val loaded = graft.ops.Ivf.Index(
        Snapshots.read(s, centDir), Snapshots.read(s, asgDir), "vec_id")
      val q = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(loaded, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          lit(invisibleStaged && landedAtomic).as("index_atomic"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v25 — IVF INDEX DRIFT MONITOR (the maintenance POLICY between
    // v20's append and a rebuild): an IVF partitioner trained on
    // yesterday's distribution decays as the corpus drifts — recall
    // erodes because new vectors crowd into clusters the probe
    // budget under-visits. Measuring recall directly needs
    // ground-truth brute-force probes (v17 — expensive); the
    // OPERATIONAL signal is free: compare the BATCH's cluster-share
    // distribution against the stored corpus's, both read from the
    // assignment metadata (cluster-count frames — model-sized, no
    // vector math beyond the append's own assignment). Shares and
    // their drift are exact integers in parts-per-256; the rebuild
    // verdict fires when any cluster's share shifted more than
    // [[DriftMax256]]/256 — hash-pinned per cluster AND as the
    // global decision, with the oracle replaying the same unrolled
    // assignment chain (v20's CTEs) and the same integer quotients.
    // At 100 TB this is how an index fleet schedules retrains:
    // from metadata-sized counts per append, not from probe jobs.
    "v25_index_drift" -> ((s, d) =>
      graft.ops.Ivf.shareDrift(x25AppendedIndex(s, d).assigned,
          col("vec_id") % AppendSplitMod < AppendHistMax, DriftMax256)
        .orderBy(col("cluster_id"))),

    // v26 — DRIFT-TRIGGERED RETRAIN LOOP (v25's verdict finally gets
    // its consumer — the index fleet's full maintenance cycle in one
    // declared query): a DRIFTED nightly batch (every vector
    // collapsed toward a far corner: x·0.1 + 3.0 per dimension —
    // deterministic double math both engines replay) is admitted by
    // v20's append; the drift monitor reads the appended assignment
    // METADATA and fires the rebuild verdict (the blob crowds one
    // gen-1 bucket, so max drift blows the threshold at any SF);
    // the verdict — and only the verdict — gates an exact retrain
    // over the post-drift corpus, the new generation lands as
    // centroids + assignments in ONE x45 txn (v24's torn-index
    // discipline), and a COLD searcher resumes v20 appends against
    // the committed generation (two fresh vectors assigned at gen-2
    // centroids with no retrain) before serving v8's probe. The
    // oracle replays the whole loop: drifted corpus CTE → unrolled
    // gen-2 training → append assignment → nprobe-2 probe —
    // rebuild_fired and index_atomic ride the hash next to the
    // neighbor rows, so a verdict that failed to fire, a torn
    // landing, or a mis-assigned resumed append each breaks it.
    "v26_retrain_loop" -> ((s, d) => {
      import graft.sources.Snapshots
      val e = emb(s, d)
      val hist = e.filter(col("vec_id") % AppendSplitMod < AppendHistMax)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val drifted = e.filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
        .select(col("vec_id"), transform(col("embedding").cast("array<double>"),
          x => x * lit(0.1) + lit(3.0)).as("embedding"))
      // 1. admit the drifted batch the cheap way first (v20's append)
      val appended = graft.ops.Ivf.append(historyIndex(s, d), drifted, "embedding")
      // 2. the monitor's verdict, read from assignment metadata only
      val rebuild = graft.ops.Ivf.shareDrift(appended.assigned,
          col("vec_id") % AppendSplitMod < AppendHistMax, DriftMax256)
        .select(col("rebuild")).limit(1).collect().head.getBoolean(0)
      // 3. verdict-gated retrain over the post-drift corpus; an
      // unfired verdict keeps serving the appended gen-1 (and flips
      // the hash-pinned flag)
      val gen2 =
        if (rebuild) graft.ops.Ivf.buildExact(hist.unionByName(drifted),
          "vec_id", "embedding", k = IvfClusters, assignPasses = IvfIters)
        else appended
      // 4. the new generation lands atomically (v24's txn shape)
      val centDir = freshSnapDir(s, d, "v26_cents")
      val asgDir = freshSnapDir(s, d, "v26_asg")
      val txnDir = freshSnapDir(s, d, "v26_txn")
      val t = java.util.UUID.randomUUID().toString
      Snapshots.txnStage(gen2.centroids, centDir, txnDir, t)
      Snapshots.txnStage(gen2.assigned, asgDir, txnDir, t)
      val invisibleStaged = Snapshots.versions(s, centDir).isEmpty &&
        Snapshots.versions(s, asgDir).isEmpty
      Snapshots.txnCommit(s, txnDir, t, Seq(centDir, asgDir))
      val landedAtomic = Snapshots.versions(s, centDir) == Seq(1) &&
        Snapshots.versions(s, asgDir) == Seq(1)
      // 5. a cold searcher resumes v20 appends against gen 2 —
      // assignment at the COMMITTED centroids, no retrain
      val loaded = graft.ops.Ivf.Index(
        Snapshots.read(s, centDir), Snapshots.read(s, asgDir), "vec_id")
      val resumedBatch = e.filter(col("vec_id") < 2)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x * lit(0.5)).as("embedding"))
      val resumed = graft.ops.Ivf.append(loaded, resumedBatch, "embedding")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(resumed, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          lit(rebuild).as("rebuild_fired"),
          lit(invisibleStaged && landedAtomic).as("index_atomic"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v11 — ANN over SCALAR-QUANTIZED codes (ops.Sq): float32 →
    // int8 + one scale per vector, 4× compression with NO training
    // (contrast v9's PQ codebooks) — encode is a narrow map, so it
    // works on a streaming corpus and the scored scan reads 1/4 the
    // bytes. Quantization math is floor-based (engine-identical), so
    // unlike trained indexes the full pipeline — encode, asymmetric
    // score, rank — carries a plain hash oracle with no unrolled
    // training CTEs.
    "v11_knn_sq8" -> ((s, d) => {
      val e = emb(s, d)
      val enc = graft.ops.Sq.encode(e, "vec_id", "embedding")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = enc.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score_raw",
          graft.ops.Sq.score(col("qe"), col("scale"), col("codes")))
      val top = graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq(col("score_raw").desc, col("vec_id")), 3)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score_raw").desc, col("vec_id"))
      top.withColumn("nb_rank", row_number().over(w))
        .select(col("qid"), col("vec_id").as("nb_id"), col("nb_rank"),
          round(col("score_raw"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v12 — IVF-PQ, the COMPOSED index real ANN systems deploy: the
    // exact-trained coarse quantizer (v7/v8's learnedIndex) bounds
    // WHICH (query, vector) pairs are considered — nprobe=2 buckets,
    // ~2/k of the corpus — and the exact-trained PQ codes (v9's
    // pqIndex) price each considered pair at m LUT lookups over
    // 1/128th the bytes. Both stages reuse the session-memoized
    // indexes, so the query itself is pure probe work. Because both
    // trainers are decimal-exact, the composition carries a FULL
    // hash oracle (ivfPqOracle: both CTE chains composed with
    // disjoint prefixes).
    "v12_knn_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      val ivf = learnedIndex(s, d)
      val pq = pqIndex(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cands = graft.ops.Ivf.probeCandidatePairs(ivf, q, nprobe = 2)
      graft.ops.Pq.searchAmong(pq, q, cands, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v28 — TWO-STAGE REFINE (FAISS's IndexRefine / the re-rank
    // stage every compressed-index deployment runs): the ADC scan is
    // cheap but QUANTIZED — its scores carry codebook error, so its
    // top-3 can misorder near-ties. Production shape: take a WIDER
    // ADC shortlist (R=10 ≫ k=3, still candidate-bounded), then
    // re-rank just those R rows with FULL-WIDTH vectors — exact
    // scores for a 10-row-per-query join against the corpus (id
    // lookups, never a scan), so the served top-3 has exact ranks at
    // compressed-scan cost. Both trainers are decimal-exact, so the
    // whole composition — coarse probe, ADC shortlist, exact
    // re-rank — carries a full hash oracle.
    "v28_pq_refine" -> ((s, d) => {
      val e = emb(s, d)
      val ivf = learnedIndex(s, d)
      val pq = pqIndex(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cands = graft.ops.Ivf.probeCandidatePairs(ivf, q, nprobe = 2)
      val shortlist = graft.ops.Pq.searchAmong(pq, q, cands, topK = RefineR)
        .select(col("qid"), col("nb_id"))
      val scored = shortlist
        .join(e.select(col("vec_id").as("nb_id"),
          col("embedding").cast("array<double>").as("_nv")), "nb_id")
        .join(broadcast(q.select(col("qid"),
          col("qvec").cast("array<double>").as("_q"))), "qid")
        .withColumn("score", VectorOps.dot(col("_q"), col("_nv")))
      val top = graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq(col("score").desc, col("nb_id")), 3)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("nb_id"))
      top.withColumn("nb_rank", row_number().over(w))
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v9 — ANN over PRODUCT-QUANTIZED codes (ops.Pq): 64-dim float
    // vectors compressed to 4 codes of 4 bits; queries score
    // candidates via a broadcast (m × k) lookup table — m array
    // lookups + adds per row, no decompression, no join on the data
    // path. The index trains with Pq.buildExact (decimal-explode
    // centroid means — bit-identical on any engine/partitioning), so
    // the codebooks, codes, and every quantized ADC score reproduce
    // in SQL and the query carries a FULL hash oracle (pqOracle
    // unrolls the training passes as CTEs, x11-style). Pq.build is
    // the float scale path, pinned by PqSpec.
    "v9_knn_pq" -> ((s, d) => {
      val e = emb(s, d)
      val idx = pqIndex(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Pq.search(idx, q, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v13 — PER-CLASS EMBEDDING CENTROID (mean pooling): the
    // class-prototype / cluster-based data-selection primitive (mean
    // vector per label, e.g. for DSIR-style domain matching or
    // nearest-prototype filtering). Emitted in long form (label, dim,
    // cv): the posexplode is a narrow ×d map, and the partial
    // aggregate combines map-side, so the one shuffle moves only
    // (partitions × labels × d) pre-aggregated rows — never the
    // vectors themselves. Decimal(25,10) sums make the mean
    // bit-identical on any engine/partitioning (the x11 trainer
    // pattern), so the query carries a full hash oracle.
    "v13_label_centroid" -> ((s, d) => {
      Tables.load(s, d, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("_v"))
        .select(col("label"), posexplode(col("_v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(
          round(sum(col("x").cast("decimal(25,10)")).cast("double") /
            count(lit(1)), 6).as("cv"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("dim"), col("cv"), col("n_vecs"))
        .orderBy(col("label"), col("dim"))
    }),

    // v15 — PER-DIMENSION FEATURE STANDARDIZATION (z-score): the
    // embedding-preprocessing staple before clustering / PQ / linear
    // probes (whitened dims make Euclidean quantizers behave). Stats
    // are decimal-exact sums (the v13 pattern: Σx and Σx² accumulate
    // as DECIMAL(25,10), order-independent on any partitioning), so
    // mean/std — and with them every z — are bit-identical across
    // engines and the query carries a full hash oracle. At 100 TB:
    // the stats aggregate moves only (partitions × d) pre-aggregated
    // buffers through one shuffle, the d-row stats table broadcasts
    // back, and the z computation is a narrow map. Output bounded to
    // the first [[ZsampleIds]] vectors (stats still use the corpus).
    "v15_standardize" -> ((s, d) => {
      val dims = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("_v"))
        .select(col("vec_id"), posexplode(col("_v")).as(Seq("dim", "x")))
      val stats = dims.groupBy(col("dim"))
        .agg(
          (sum(col("x").cast("decimal(25,10)")).cast("double") /
            count(lit(1))).as("mu"),
          (sum((col("x") * col("x")).cast("decimal(25,10)")).cast("double") /
            count(lit(1))).as("ex2"),
          count(lit(1)).as("n"))
        .withColumn("sigma", sqrt(col("ex2") - col("mu") * col("mu")))
      dims.filter(col("vec_id") < ZsampleIds)
        .join(broadcast(stats), Seq("dim"))
        .select(col("vec_id"), col("dim"),
          round(col("mu"), 6).as("mu"),
          round(col("sigma"), 6).as("sigma"),
          round((col("x") - col("mu")) / col("sigma"), 4).as("z"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // v16 — TRUNCATED-PREFILTER RERANK ANN (the Matryoshka /
    // adaptive-retrieval two-stage pattern): stage 1 scores every
    // candidate on only the first [[PrefDims]] dimensions — at scale,
    // with dimension-sliced columnar layout, that is 1/4 the bytes
    // READ, not just 1/4 the FLOPs — and keeps a [[ShortK]]-deep
    // shortlist per query in a bounded TopK heap; stage 2 reranks
    // just the shortlist with the exact full-dimension dot. Training-
    // free (contrast IVF/PQ), recall tuned by shortlist depth
    // (ShortK = n degenerates to v4 exactly). Both stages are
    // deterministic double math ⇒ full hash oracle.
    "v16_knn_truncated" -> ((s, d) => truncatedRerank(s, d, PrefDims, ShortK)),

    // v17 — ANN RECALL EVALUATION: recall@3 of the LSH index (v10)
    // against the exact brute-force answer (v4), per query — the
    // acceptance report any ANN deployment needs before swapping an
    // index into production (tune planes/probes until recall clears
    // the bar). Composes the two declared plans at call time, so it
    // measures exactly what v4/v10 ship. Ground truth is k=3 per
    // query (n_bf); hits = inner join on (qid, nb_id). At 100 TB the
    // eval runs on a sampled query set — both sides are per-query
    // top-k tables, so the compare is query-set-sized, not corpus-
    // sized.
    "v17_recall_eval" -> ((s, d) => {
      val bf = knnTruth(s, d)
      val ann = defs("v10_knn_lsh")(s, d).select(col("qid"), col("nb_id"))
      val nBf = bf.groupBy(col("qid")).agg(count(lit(1)).as("n_bf"))
      val nAnn = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_ann"))
      val hits = bf.join(ann, Seq("qid", "nb_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      nBf.join(nAnn, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .na.fill(0L, Seq("n_ann", "n_hits"))
        .select(col("qid"), col("n_bf"), col("n_ann"), col("n_hits"),
          round(col("n_hits") / col("n_bf"), 4).as("recall"))
        .orderBy(col("qid"))
    }),

    // v20 — INCREMENTAL ANN INDEX MAINTENANCE (x14 for vectors): the
    // stored 80% of the corpus carries an exact-trained IVF index
    // (Derived-persisted, built once per session — the production
    // "index on disk" stand-in); the remaining 20% arrives as a new
    // batch and is admitted via Ivf.append — centroids FIXED, batch
    // assigned by a narrow map against the model-sized centroid
    // broadcast, stored bucket rows untouched (no retraining, no
    // corpus rescan, no stored-side shuffle; PlanShapeSpec pins the
    // plan). The oracle replays the FULL REBUILD at the same fixed
    // centroids — training on the history split, assigning history ∪
    // batch, probing nprobe=2 — so the hash match IS the proof that
    // append ≡ rebuild.
    // v29 — NPROBE AUTO-TUNING (v17's recall eval composed into the
    // knob it exists to set): an IVF fleet trades recall for probe
    // cost through ONE number, nprobe — and production systems pick
    // it empirically on a validation sample (FAISS's
    // autotune/OperatingPoints shape), not by guessing. The tuner
    // measures exact recall@3 against the brute-force truth for
    // EVERY candidate nprobe (k probes over the same session-shared
    // index — each probe scans nprobe/k of the corpus, the sample
    // stays validation-sized) and serves the SMALLEST setting whose
    // micro-averaged recall clears 90%. nprobe = k is exact, so the
    // threshold is always reachable and the tuner total. Hit counts
    // are exact integers; the verdict is hash-pinned per candidate
    // next to them — at 100 TB this runs once per retrain
    // generation, never per query.
    "v29_nprobe_tuning" -> ((s, d) => {
      import s.implicits._
      val idx = learnedIndex(s, d)
      val q = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = knnTruth(s, d)
      val nTruth = truth.count()
      val evals = (1 to IvfClusters).map { np =>
        val ann = graft.ops.Ivf.probe(idx, q, nprobe = np, topK = 3)
          .select(col("qid"), col("nb_id"))
        (np, truth.join(ann, Seq("qid", "nb_id")).count(), nTruth)
      }
      val chosen = evals.find(e => e._2 * 10 >= e._3 * 9)
        .map(_._1).getOrElse(IvfClusters)
      evals.toDF("nprobe", "n_hits", "n_truth")
        .select(col("nprobe"), col("n_hits"), col("n_truth"),
          (col("nprobe") === lit(chosen)).as("chosen"))
        .orderBy(col("nprobe"))
    }),

    // v30 — GRAPH-BASED ANN (NSW/HNSW-class, ops.Nsw): the one
    // production index family IVF/PQ/SQ/LSH don't cover — FAISS /
    // vector-DB deployments increasingly default to graph indexes.
    // BUILD: deterministic k-NN-descent — candidates cluster-blocked
    // (each vector pairs only inside its NswBlocks nearest trained
    // centroids' blocks, v21's blocked self-join, never n²), keep
    // the best NswM out-edges, then NswRounds rounds of
    // neighbors-of-neighbors refinement (k14's fixed-round cadence,
    // so the whole build unrolls into oracle CTEs). SEARCH: a beam
    // walk from one fixed entry node per coarse cluster — each round
    // expands the beam's out-edges and scores ONLY touched
    // candidates (beam·m per query per round, no corpus scan).
    // EVAL rides in the output (v17's harness idea): hits_at_3
    // counts the overlap with the exact brute-force top-3, so the
    // hash pins build, walk, AND achieved recall at once. Exact
    // training + (score DESC, id) ranking everywhere make the chain
    // bit-deterministic; the oracle replays block assignment →
    // descent rounds → entry layer → beam rounds → top-k → recall
    // from the embeddings table alone. The adjacency is Derived-
    // shared (built once per session — the production shape).
    "v30_graph_ann" -> ((s, d) => {
      val idx = learnedIndex(s, d)
      val e = emb(s, d)
      val edges = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val res = graft.ops.Nsw.search(edges, e, "vec_id", "embedding",
        graft.ops.Nsw.entries(idx.assigned, "vec_id"), q,
        NswBeam, NswWalk, topK = 3)
      val brute = knnTruth(s, d)
      val hits = res.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      res.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v38 — HNSW LAYER HIERARCHY (v30's flat NSW gains the piece
    // that makes the family log-scale: the per-cluster entry table
    // sits a corpus-dependent distance from a query's neighborhood,
    // and the flat walk pays that distance in rounds at FULL beam
    // over the FULL adjacency). Levels are HASH-DERIVED (trailing
    // 4-adic zeros of hash60("nswlvl|"+id), capped at NswMaxLevel) —
    // HNSW's geometric layer sizes with the RNG replaced by a pure
    // function of the ids, so the hierarchy is stable across inserts
    // and the whole assignment replays in oracle SQL. Each upper
    // layer is the SAME cluster-blocked NN-descent over its level-≥ℓ
    // members (expected 4^-ℓ of the corpus — the blocked pair join
    // shrinks quadratically per level); search is GREEDY DESCENT:
    // the top layer's min-id node seeds a narrow walk (NswUpperBeam,
    // NswUpperWalk) whose beam seeds the next layer down, with each
    // layer's min-id guard keeping hash-emptied layers total, and
    // only layer 0 runs the full (NswBeam, NswWalk) walk — long hops
    // over tiny graphs, then a short full-width finish. recall@3 vs
    // brute force rides the hash (v17's acceptance), and the two
    // layer populations are pinned so the assignment itself is
    // checked. NswSpec pins the touched-candidate bound.
    "v38_hnsw_descent" -> ((s, d) => {
      val idx = learnedIndex(s, d)
      val e = emb(s, d)
      val layer0 = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val layers = layer0 +: (1 to NswMaxLevel).map { l =>
        Derived.of(s, d, s"nsw_l${l}_edges") {
          graft.ops.Nsw.build(
            e.filter(graft.ops.Nsw.levelOf(col("vec_id"), NswMaxLevel) >= l),
            "vec_id", "embedding", idx.centroids, NswBlocks, NswM,
            NswUpperRounds)
        }
      }
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the in-session descent over the warm layers is Derived-shared
      // with v39 (whose cold_equal witness replays the SAME warm
      // descent): one walk per session, both queries read it
      val res = Derived.of(s, d, "hnsw_warm_descent") {
        graft.ops.Nsw.searchLayered(layers, e, "vec_id", "embedding",
          q, NswUpperBeam, NswUpperWalk, NswBeam, NswWalk, topK = 3)
      }
      val brute = knnTruth(s, d)
      val hits = res.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      val nLayer = (1 to NswMaxLevel).map(l => e.filter(
        graft.ops.Nsw.levelOf(col("vec_id"), NswMaxLevel) >= l).count())
      res.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
          lit(nLayer(0)).cast("int").as("n_layer1"),
          lit(nLayer(1)).cast("int").as("n_layer2"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v39 — PERSISTED LAYER HIERARCHY (v38 gains v24/v31's serving
    // story): the whole hierarchy commits as ONE lakehouse table —
    // (layer, a, b, score), every layer in one atomic commit, so a
    // torn index (layer 0 without its upper layers) can never be
    // observed — and a COLD searcher (a fresh process reading the
    // committed table, splitting it back into layers by the column)
    // must reproduce the in-session descent ROW FOR ROW (cold_equal
    // in the hash). The part HNSW deployments get wrong is persisted
    // ENTRY STATE: here there is none to persist — levels and every
    // per-layer guard are pure functions of the ids
    // (layers_pure_function pins that the committed layer
    // populations equal the hash-derived levels), so a restored
    // index can never disagree with its own entry metadata. Recall@3
    // and the layer populations ride the hash exactly as v38. At
    // 100 TB: the index is one (m·N + m·N/4 + …)-row table — serve
    // it anywhere the log reaches, no sidecar state, no RNG seed to
    // lose.
    "v39_hnsw_persisted" -> ((s, d) => {
      import graft.sources.Snapshots
      val idx = learnedIndex(s, d)
      val e = emb(s, d)
      val layer0 = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val warmLayers = layer0 +: (1 to NswMaxLevel).map { l =>
        Derived.of(s, d, s"nsw_l${l}_edges") {
          graft.ops.Nsw.build(
            e.filter(graft.ops.Nsw.levelOf(col("vec_id"), NswMaxLevel) >= l),
            "vec_id", "embedding", idx.centroids, NswBlocks, NswM,
            NswUpperRounds)
        }
      }
      // ONE table, one atomic commit — no torn hierarchy
      val dir = freshSnapDir(s, d, "v39_adj")
      Snapshots.commit(
        warmLayers.zipWithIndex.map { case (df, l) =>
          df.select(lit(l).as("layer"), col("a"), col("b"), col("score"))
        }.reduce(_ unionByName _), dir)
      // the committed layer node sets equal the hash-derived levels —
      // the "no persisted entry state" claim, checked
      val cold = Snapshots.read(s, dir)
      val pure = (1 to NswMaxLevel).forall { l =>
        val nodes = cold.filter(col("layer") === l).select(col("a"))
          .distinct()
        val members = e.filter(
          graft.ops.Nsw.levelOf(col("vec_id"), NswMaxLevel) >= l)
          .select(col("vec_id"))
        nodes.exceptAll(members).isEmpty
      }
      val coldLayers = (0 to NswMaxLevel).map(l =>
        cold.filter(col("layer") === l)
          .select(col("a"), col("b"), col("score")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def descent(layers: Seq[DataFrame]) =
        graft.ops.Nsw.searchLayered(layers, e, "vec_id", "embedding", q,
          NswUpperBeam, NswUpperWalk, NswBeam, NswWalk, topK = 3)
      val coldRes = descent(coldLayers).cache()
      // the warm-layer walk is the SAME descent v38 serves — Derived-
      // shared, so the session pays for it once across both queries
      val warmSet = Derived.of(s, d, "hnsw_warm_descent") { descent(warmLayers) }
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val coldEqual = coldRes.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == warmSet
      val brute = knnTruth(s, d)
      val hits = coldRes.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      val nLayer = (1 to NswMaxLevel).map(l => e.filter(
        graft.ops.Nsw.levelOf(col("vec_id"), NswMaxLevel) >= l).count())
      coldRes.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
          lit(nLayer(0)).cast("int").as("n_layer1"),
          lit(nLayer(1)).cast("int").as("n_layer2"),
          lit(pure).as("layers_pure_function"),
          lit(coldEqual).as("cold_equal"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v31 — GRAPH-INDEX LIFECYCLE (v30 gains what IVF already had:
    // v24's persistence, v20's incremental insert, a cold searcher).
    // BUILD: the NSW adjacency over the STORED corpus (v20's history
    // split) + the entry layer land as two tables in ONE x45
    // transaction — a torn graph index (adjacency without entries)
    // can never be observed. INSERT: the nightly batch is admitted by
    // BLOCKED LOCAL REPAIR (ops.Nsw.insert — batch vectors
    // block-assigned at the FROZEN centroids, candidate pairs only
    // where a batch vector shares a block, touched nodes re-keep
    // their best m over old ∪ new, untouched neighborhoods never
    // recomputed) and lands as x58's merge-on-read pair: a staged
    // DELETION VECTOR on the touched node ids + one atomic append of
    // the repaired edges — v1's files untouched (listing-checked).
    // SERVE: a COLD searcher (adjacency = readResolved, entries =
    // the committed v2) must reproduce the in-session walk ROW FOR
    // ROW (cold_equal), and recall@3 vs the full-corpus brute force
    // rides in the hash (v17's acceptance harness). The oracle
    // replays the whole lifecycle: h-train → hist build → blocked
    // repair → entry refresh → beam walk → recall. At 100 TB this is
    // a production graph index: build once, admit batches at
    // |batch|·block-mates cost, serve from committed state anywhere.
    "v31_graph_index_lifecycle" -> ((s, d) => {
      import graft.sources.Snapshots
      val idx = historyIndex(s, d)
      val e = emb(s, d)
      val hist = e.filter(col("vec_id") % AppendSplitMod < AppendHistMax)
      val batch = e.filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
      val edges1 = Derived.of(s, d, "nsw_hist_edges") {
        graft.ops.Nsw.build(hist, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      // 1. adjacency + entry layer commit in ONE txn (v24's discipline)
      val adjDir = freshSnapDir(s, d, "v31_adj")
      val entDir = freshSnapDir(s, d, "v31_ent")
      val txnDir = freshSnapDir(s, d, "v31_txn")
      val t = java.util.UUID.randomUUID().toString
      Snapshots.txnStage(edges1, adjDir, txnDir, t)
      Snapshots.txnStage(graft.ops.Nsw.entries(idx.assigned, "vec_id"),
        entDir, txnDir, t)
      val invisible = Snapshots.versions(s, adjDir).isEmpty &&
        Snapshots.versions(s, entDir).isEmpty
      Snapshots.txnCommit(s, txnDir, t, Seq(adjDir, entDir))
      val atomic = Snapshots.versions(s, adjDir) == Seq(1) &&
        Snapshots.versions(s, entDir) == Seq(1)
      // 2. the batch lands by blocked local repair against the COLD v1
      val sigBefore = Snapshots.fileSignature(s, adjDir, 1)
      val rep = graft.ops.Nsw.insert(Snapshots.read(s, adjDir), e,
        "vec_id", "embedding", idx.centroids, NswBlocks, NswM,
        batch.select(col("vec_id")))
      val dv = Snapshots.commitDeletes(rep.touched, adjDir, base = 1,
        staged = true)
      Snapshots.commitAppend(rep.delta, adjDir, base = dv)
      val untouchedFiles = Snapshots.fileSignature(s, adjDir, 1) == sigBefore
      // entry layer refresh: full-corpus rank-1 at the frozen
      // centroids (the appended index's assignment — v20's narrow move)
      val entries2 = graft.ops.Nsw.entries(
        x25AppendedIndex(s, d).assigned, "vec_id")
      Snapshots.commit(entries2, entDir)
      // 3. cold searcher vs the in-session twin, row for row
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def rows(edges: DataFrame, ent: DataFrame) =
        graft.ops.Nsw.search(edges, e, "vec_id", "embedding", ent, q,
          NswBeam, NswWalk, topK = 3)
      val cold = rows(Snapshots.readResolved(s, adjDir),
        Snapshots.read(s, entDir))
      val warmSet = rows(rep.adjacency, entries2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val coldRows = cold.cache()
      val coldEqual = coldRows
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet == warmSet
      // 4. recall acceptance vs the full-corpus brute force (v17)
      val brute = knnTruth(s, d)
      val hits = coldRows.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      coldRows.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
          lit(invisible && atomic).as("index_atomic"),
          lit(coldEqual).as("cold_equal"),
          lit(untouchedFiles).as("base_files_untouched"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v32 — PQ-PRICED GRAPH WALK + EXACT RE-RANK (the DiskANN
    // memory/disk split, Subramanya et al. 2019, composed from two
    // existing indexes): the beam walk traverses v30's NSW adjacency
    // but prices every touched candidate with its PQ-RECONSTRUCTED
    // vector — dot(q, decode(code)) IS the asymmetric-distance LUT
    // sum, so the walk needs only the codes (32× smaller than the
    // corpus: RAM at 100 TB) — then re-ranks ONLY the final beam
    // with exact full-precision vectors (beam-sized random reads —
    // the "disk" tier). Recall@3 vs the exact brute force rides in
    // the hashed output, quantifying what compression costs after
    // the exact re-rank repairs the beam's order. Both indexes are
    // Derived-shared with v30/v9 (built once per session); the
    // oracle replays graph build → PQ training → decode → PQ-priced
    // walk → exact re-rank → recall from the embeddings table alone.
    "v32_pq_graph_walk" -> ((s, d) => {
      val idx = learnedIndex(s, d)
      val e = emb(s, d)
      val edges = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val recon = graft.ops.Pq.reconstruct(pqIndex(s, d))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the walk sees only codes: scoring joins the reconstructed
      // (code-derived) vectors, never the full-precision corpus
      val beam = graft.ops.Nsw.search(edges, recon, "vec_id", "vec_hat",
        graft.ops.Nsw.entries(idx.assigned, "vec_id"), q,
        NswBeam, NswWalk, topK = NswBeam)
      // exact re-rank: full-precision reads for the final beam only
      val rer = beam.select(col("qid"), col("nb_id"))
        .join(e.select(col("vec_id").as("nb_id"),
          col("embedding").cast("array<double>").as("_nv")), "nb_id")
        .join(q.select(col("qid"),
          col("qvec").cast("array<double>").as("_q")), "qid")
        .withColumn("score", VectorOps.dot(col("_q"), col("_nv")))
        .select(col("qid"), col("nb_id"), col("score"))
      val top = graft.plans.TopK.perKey(rer, Seq("qid"),
        Seq(col("score").desc, col("nb_id")), 3)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("nb_id"))
      val res = top.withColumn("nb_rank", row_number().over(w))
      val brute = knnTruth(s, d)
      val hits = res.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      res.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v33 — BEAM AUTO-TUNING (v29's autotune harness on the graph
    // index): beam width is the graph walk's quality/cost knob
    // (HNSW's efSearch) — each walk round scores beam·(m+1)
    // candidates, so halving the beam halves search cost and risks
    // recall. The tuner walks the SAME shared adjacency at each
    // grid setting, counts exact recall@3 against the brute force,
    // and serves the smallest beam clearing 90% (FAISS autotune's
    // shape); if none clears, the largest serves. The hashed output
    // carries every setting's hit count plus the verdict, so a walk
    // regression OR a selection regression breaks the hash.
    "v33_beam_tuning" -> ((s, d) => {
      import s.implicits._
      val idx = learnedIndex(s, d)
      val e = emb(s, d)
      val edges = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val truth = knnTruth(s, d)
      val nTruth = truth.count()
      val evals = BeamGrid.map { b =>
        val ann = graft.ops.Nsw.search(edges, e, "vec_id", "embedding",
          graft.ops.Nsw.entries(idx.assigned, "vec_id"), q, b, NswWalk,
          topK = 3).select(col("qid"), col("nb_id"))
        (b, truth.join(ann, Seq("qid", "nb_id")).count(), nTruth)
      }
      val chosen = evals.find(e2 => e2._2 * 10 >= e2._3 * 9)
        .map(_._1).getOrElse(BeamGrid.last)
      evals.toDF("beam", "n_hits", "n_truth")
        .select(col("beam"), col("n_hits"), col("n_truth"),
          (col("beam") === lit(chosen)).as("chosen"))
        .orderBy(col("beam"))
    }),

    // v34 — FILTERED GRAPH SEARCH (v22's pre-/post-filter recall
    // trap on the graph index): a predicate-constrained ANN query
    // ("nearest label-3 documents") cannot pre-filter a GRAPH — the
    // walk must traverse ineligible nodes to reach eligible regions,
    // so the production pattern is walk-then-filter. Filtering the
    // SERVING beam (NswBeam) post-hoc loses recall exactly like
    // v22's post-filter leg — few of 4 beam slots hold the right
    // label; widening the walk to NswBeam·V34Overfetch before the
    // filter repairs it at beam-proportional cost (the walk still
    // touches beam·(m+1) candidates per round, corpus-independent).
    // Both legs' hits vs the exact FILTERED brute force ride in the
    // hashed output next to the over-fetched result itself, so the
    // hash pins the trap's size AND the repair's recall at once.
    "v34_filtered_graph_walk" -> ((s, d) => {
      val idx = learnedIndex(s, d)
      val el = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val e = emb(s, d)
      val edges = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the exact filtered truth (v22's pre-filter path)
      val truth = {
        val scored = el.filter(col("label") === V22Label)
          .join(broadcast(q.select(col("qid"),
            col("qvec").cast("array<double>").as("_q"))),
            col("vec_id") =!= col("qid"))
          .withColumn("s", VectorOps.dot(col("_q"),
            col("embedding").cast("array<double>")))
        graft.plans.TopK.perKey(scored, Seq("qid"),
            Seq(col("s").desc, col("vec_id")), 3)
          .select(col("qid"), col("vec_id").as("nb_id"))
      }
      def filteredWalk(beam: Int) = graft.ops.Nsw.search(edges, e,
          "vec_id", "embedding", graft.ops.Nsw.entries(idx.assigned, "vec_id"),
          q, beam, NswWalk, topK = beam)
        .join(el.select(col("vec_id").as("nb_id"), col("label")), "nb_id")
        .filter(col("label") === V22Label)
        .select(col("qid"), col("nb_id"), col("score"))
      def top3(df: DataFrame) = {
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("nb_id"))
        graft.plans.TopK.perKey(df, Seq("qid"),
            Seq(col("score").desc, col("nb_id")), 3)
          .withColumn("nb_rank", row_number().over(w))
      }
      def hits(df: DataFrame, as: String) = df
        .join(truth, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).cast("int").as(as))
      val naive = top3(filteredWalk(NswBeam))
      val over = top3(filteredWalk(NswBeam * V34Overfetch))
      over
        .join(hits(over, "over_hits"), Seq("qid"), "left")
        .join(hits(naive, "naive_hits"), Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("naive_hits"), lit(0)).as("naive_hits"),
          coalesce(col("over_hits"), lit(0)).as("over_hits"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v35 — GRAPH-INDEX DRIFT/RETRAIN (v25/v26's maintenance parity
    // for the NSW family — the asymmetry round 14 left open): v31
    // appends forever with no quality watchdog, and after enough
    // drifted inserts the entry-per-cluster layout degrades — entries
    // sit where yesterday's distribution lived, walks start far from
    // the drifted mass. The cycle: (1) the gen-1 graph (hist
    // adjacency Derived-shared with v31 + entry layer) lands in ONE
    // x45 txn; (2) a DRIFTED nightly batch (v26's x·0.1+3.0 collapse)
    // is assigned at the FROZEN gen-1 centroids and the drift monitor
    // reads ONLY that assignment metadata — block-share integers in
    // parts-per-256 (v25's shape), no walks, no probe jobs; (3) the
    // fired verdict — and only it — retrains the coarse layout over
    // the post-drift corpus and REBUILDS adjacency + entries at the
    // new generation, landing both in ONE x45 txn (v24's torn-index
    // discipline — gen-1 stays served until the marker flips); (4) a
    // COLD searcher walks the committed gen-2 and its recall@3
    // against the exact post-drift brute force rides in the hash
    // (v33's acceptance harness). The oracle replays the whole loop:
    // drifted corpus → unrolled gen-2 training → NSW build → beam
    // walk → recall. At 100 TB this is how a graph-index fleet stays
    // healthy: metadata-sized verdicts per append, one rebuild per
    // fired generation, searchers never observing a torn index.
    "v35_graph_drift_retrain" -> ((s, d) => {
      import graft.sources.Snapshots
      val idx = historyIndex(s, d)
      val e = emb(s, d)
      val hist = e.filter(col("vec_id") % AppendSplitMod < AppendHistMax)
      val drifted = e.filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
        .select(col("vec_id"), transform(col("embedding").cast("array<double>"),
          x => x * lit(0.1) + lit(3.0)).as("embedding"))
      // 1. gen-1 graph index persisted (v31's discipline)
      val edges1 = Derived.of(s, d, "nsw_hist_edges") {
        graft.ops.Nsw.build(hist, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val adjDir = freshSnapDir(s, d, "v35_adj")
      val entDir = freshSnapDir(s, d, "v35_ent")
      val txnDir = freshSnapDir(s, d, "v35_txn")
      val t0 = java.util.UUID.randomUUID().toString
      Snapshots.txnStage(edges1, adjDir, txnDir, t0)
      Snapshots.txnStage(graft.ops.Nsw.entries(idx.assigned, "vec_id"),
        entDir, txnDir, t0)
      Snapshots.txnCommit(s, txnDir, t0, Seq(adjDir, entDir))
      // 2. the drift verdict, read from assignment METADATA only
      val appended = graft.ops.Ivf.append(idx, drifted, "embedding")
      val rebuild = graft.ops.Ivf.shareDrift(appended.assigned,
          col("vec_id") % AppendSplitMod < AppendHistMax, DriftMax256)
        .select(col("rebuild")).limit(1).collect().head.getBoolean(0)
      // 3. verdict-gated gen-2: coarse retrain + graph rebuild, both
      // landing atomically as version 2 of the SAME index tables
      val corpus = hist
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .unionByName(drifted)
      val gen2 =
        if (rebuild) graft.ops.Ivf.buildExact(corpus, "vec_id", "embedding",
          k = IvfClusters, assignPasses = IvfIters)
        else appended
      val edges2 = graft.ops.Nsw.build(corpus, "vec_id", "embedding",
        gen2.centroids, NswBlocks, NswM, NswRounds)
      val ent2 = graft.ops.Nsw.entries(gen2.assigned, "vec_id")
      val t1 = java.util.UUID.randomUUID().toString
      Snapshots.txnStage(edges2, adjDir, txnDir, t1)
      Snapshots.txnStage(ent2, entDir, txnDir, t1)
      // gen-1 still serves while gen-2 is staged (no torn window)
      val gen1Serves = Snapshots.versions(s, adjDir) == Seq(1) &&
        Snapshots.versions(s, entDir) == Seq(1)
      Snapshots.txnCommit(s, txnDir, t1, Seq(adjDir, entDir))
      val atomic = Snapshots.versions(s, adjDir) == Seq(1, 2) &&
        Snapshots.versions(s, entDir) == Seq(1, 2)
      // 4. a cold searcher walks the COMMITTED generation
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cold = graft.ops.Nsw.search(Snapshots.read(s, adjDir), corpus,
        "vec_id", "embedding", Snapshots.read(s, entDir), q,
        NswBeam, NswWalk, topK = 3)
      // 5. recall acceptance vs the exact post-drift brute force
      val truth = {
        val scored = corpus.join(broadcast(q.select(col("qid"),
            col("qvec").cast("array<double>").as("_q"))),
            col("vec_id") =!= col("qid"))
          .withColumn("sc", VectorOps.dot(col("_q"), col("embedding")))
        graft.plans.TopK.perKey(scored, Seq("qid"),
            Seq(col("sc").desc, col("vec_id")), 3)
          .select(col("qid"), col("vec_id").as("nb_id"))
      }
      val hits = cold.join(truth, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      cold.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
          lit(rebuild).as("rebuild_fired"),
          lit(gen1Serves && atomic).as("index_atomic"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // x108 — SUBSCRIPTION-DRIVEN INDEX MAINTENANCE (the composition
    // x103 exists for, now a declared pipeline instead of prose): a
    // vector table takes two nightly appends AFTER its index was
    // built; the index maintainer SUBSCRIBES to the table's change
    // feed from the build point (cursor pre-positioned at the index's
    // source version — production's "index is current through v1"),
    // and each polled version step admits its delta by v20's append —
    // assignment at the FROZEN committed centroids, a narrow map
    // against a model-sized broadcast, zero stored-side IO — landing
    // the grown assignment state EPOCH-TAGGED (epoch = source
    // version), so the crash-redelivery every foreachBatch consumer
    // faces folds to nothing and a drained re-subscription does zero
    // work. No bespoke plumbing anywhere: the feed IS the input. The
    // final probe of the subscription-maintained index must equal
    // v20's full-rebuild-at-fixed-centroids oracle row for row — the
    // hash proves subscribe→admit→commit ≡ rebuild. At 100 TB this is
    // the index fleet's standing loop: per night, O(Δ) feed + O(Δ)
    // assignment + one epoch commit, with the drift monitor (v25/v35)
    // deciding when the loop escalates to a retrain.
    "x108_cdf_index_pipeline" -> ((s, d) => {
      import graft.sources.Snapshots
      val e = emb(s, d)
      val srcDir = freshSnapDir(s, d, "x108_src")
      val curDir = freshSnapDir(s, d, "x108_cursor")
      val asgDir = freshSnapDir(s, d, "x108_asg")
      val hist = e.filter(col("vec_id") % AppendSplitMod < AppendHistMax)
      Snapshots.commit(hist, srcDir) // v1 — the index's build source
      Snapshots.commitAppend(
        e.filter(col("vec_id") % AppendSplitMod === AppendHistMax),
        srcDir, base = 1) // night 1
      Snapshots.commitAppend(
        e.filter(col("vec_id") % AppendSplitMod === AppendHistMax + 1),
        srcDir, base = 2) // night 2
      val idx = historyIndex(s, d)
      Snapshots.commit(idx.assigned, asgDir) // index state, current @ v1
      val sub = Snapshots.readChangeStream(s, srcDir,
        Seq("vec_id", "embedding"), curDir)
      sub.commitCursor(1) // the index already covers the build source
      def admit(v: Int, changes: DataFrame): Unit = {
        val batch = changes.filter(col("op") === "I")
          .select(col("vec_id"), col("embedding"))
        val stored = graft.ops.Ivf.Index(idx.centroids,
          Snapshots.read(s, asgDir), "vec_id")
        Snapshots.commitEpoch(
          graft.ops.Ivf.append(stored, batch, "embedding").assigned,
          asgDir, v.toLong)
        ()
      }
      val chained = sub.drain(admit) == 2 &&
        Snapshots.readChangeStream(s, srcDir,
          Seq("vec_id", "embedding"), curDir).drain(admit) == 0
      val loaded = graft.ops.Ivf.Index(idx.centroids,
        Snapshots.read(s, asgDir), "vec_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(loaded, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          lit(chained).as("chained_o_delta"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v36 — RIGHT-TO-BE-FORGOTTEN ACROSS THE VECTOR INDEXES (the
    // erasure hole x50/x76 left: purge reached tables, MVs, caches,
    // and stats, but a purged document's embedding survived in the
    // IVF assignment table, in the PQ code table, in the NSW
    // adjacency — including as a NEIGHBOR on other rows' edge lists —
    // and possibly as an elected entry node). The full persisted
    // index estate (corpus, centroids, assignments, PQ codes,
    // adjacency, entries) is committed as lakehouse tables, the
    // assignment/code tables register as Purge.KeyedTable, and the
    // graph pair as the new Purge.GraphIndex artifact: LOCAL REPAIR
    // (ops.Nsw.purgeRepair — purged rows dropped, purged ids spliced
    // out of surviving neighbor lists, touched nodes re-linked from
    // post-purge block-mates at the frozen centroids), v31's
    // merge-on-read landing, a both-endpoint full-history purgeKeys
    // scrub, and entry re-election from the purged assignment with
    // the old entry version physically vacuumed. The x76 exposure
    // witness runs over ALL SIX dirs — positive before, zero after —
    // and rides the hash next to a recall@3 acceptance of the
    // repaired index (queried at qid 5–9 over the post-purge
    // corpus). entry_reelected is a REAL cross-check, not a pinned
    // literal: both engines derive it from their own replay (vec_id
    // 0 is the global min, hence an entry before the purge, and must
    // not be one after). At 100 TB: the repair is |touched| ·
    // block-mates scored pairs (insert's bound), the scrub is the
    // same per-version rewrite purgeKeys already costs for the
    // source, and the witness is one broadcast key-array scan per
    // version — GDPR erasure at index scale without a rebuild.
    "v36_index_rtbf" -> ((s, d) => {
      import graft.sources.Snapshots
      val e = emb(s, d)
      val idx = learnedIndex(s, d)
      val edges = Derived.of(s, d, "nsw_edges") {
        graft.ops.Nsw.build(e, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val pq = pqIndex(s, d)
      val srcDir = freshSnapDir(s, d, "v36_src")
      val centDir = freshSnapDir(s, d, "v36_cents")
      val asgDir = freshSnapDir(s, d, "v36_asg")
      val pqDir = freshSnapDir(s, d, "v36_pq")
      val adjDir = freshSnapDir(s, d, "v36_adj")
      val entDir = freshSnapDir(s, d, "v36_ent")
      Snapshots.commit(e, srcDir)
      Snapshots.commit(idx.centroids, centDir)
      Snapshots.commit(idx.assigned, asgDir)
      Snapshots.commit(pq.encoded, pqDir)
      Snapshots.commit(edges, adjDir)
      Snapshots.commit(graft.ops.Nsw.entries(idx.assigned, "vec_id"), entDir)
      val keys = e.filter(col("vec_id") < 3).select(col("vec_id"))
      // the witness names where the identifier lives per artifact
      // (a cluster/code/score coincidentally equal to a small key
      // NUMBER is not the purged identifier — exposureCount's cols
      // contract)
      val witnessed = Seq(
        srcDir -> Seq("vec_id"), asgDir -> Seq("vec_id"),
        pqDir -> Seq("vec_id"), adjDir -> Seq("a", "b"),
        entDir -> Seq("node"))
      def expo() = witnessed.map { case (dir, cs) =>
        graft.ops.Purge.exposureCount(s, dir, keys, cs) }
      val before = expo()
      val entHadPurged =
        Snapshots.read(s, entDir).filter(col("node") < 3).count() > 0
      graft.ops.Purge.register(srcDir, graft.ops.Purge.KeyedTable(asgDir))
      graft.ops.Purge.register(srcDir, graft.ops.Purge.KeyedTable(pqDir))
      graft.ops.Purge.register(srcDir, graft.ops.Purge.GraphIndex(
        adjDir, entDir, srcDir, centDir, asgDir,
        "vec_id", "embedding", NswBlocks, NswM))
      try {
        graft.ops.Purge.purge(s, srcDir, keys)
        val after = expo()
        val entClean =
          Snapshots.read(s, entDir).filter(col("node") < 3).count() == 0
        val corpus = Snapshots.readResolved(s, srcDir)
        val q = e.filter(col("vec_id") >= 5 && col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val cold = graft.ops.Nsw.search(Snapshots.readResolved(s, adjDir),
          corpus, "vec_id", "embedding", Snapshots.read(s, entDir), q,
          NswBeam, NswWalk, topK = 3)
        val truth = {
          val scored = corpus.join(broadcast(q.select(col("qid"),
              col("qvec").cast("array<double>").as("_q"))),
              col("vec_id") =!= col("qid"))
            .withColumn("sc", VectorOps.dot(col("_q"),
              col("embedding").cast("array<double>")))
          graft.plans.TopK.perKey(scored, Seq("qid"),
              Seq(col("sc").desc, col("vec_id")), 3)
            .select(col("qid"), col("vec_id").as("nb_id"))
        }
        val hits = cold.join(truth, Seq("qid", "nb_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("h"))
        cold.join(hits, Seq("qid"), "left")
          .select(col("qid"), col("nb_id"), col("nb_rank"),
            round(col("score"), 4).as("score"),
            coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
            lit(entHadPurged && entClean).as("entry_reelected"),
            lit(before.forall(_ > 0)).as("exposure_before_pos"),
            lit(after.forall(_ == 0)).as("exposure_after_zero"))
          .orderBy(col("qid"), col("nb_rank"))
      } finally graft.ops.Purge.deregister(srcDir)
    }),

    // v37 — GRAPH-INDEX COMPACTION (the maintenance verb v31's
    // merge-on-read inserts accumulate toward): every blocked local
    // repair lands as staged-DV + append, so after a week of nightly
    // batches a cold searcher's resolution is N anti-joins + unions
    // deep — correct, but every walk round pays the chain. The
    // OPTIMIZE move is x93's commitLayout applied to the adjacency:
    // re-land the RESOLVED graph as ONE full dataChange=false
    // version. The walk over the compacted index must reproduce the
    // pre-compaction walk ROW FOR ROW (the chain was semantics, not
    // state), the compaction's CDC feed is EMPTY (maintenance never
    // reaches change consumers — an index subscriber like x108 must
    // not re-admit the whole graph), and the reader's chain length
    // drops from three entries to one (chainEntries accounting,
    // hash-pinned). The oracle replays v31's whole lifecycle — the
    // compacted index serves the identical rows, so the SAME unrolled
    // chain pins both. At 100 TB this is the index fleet's weekly
    // OPTIMIZE: one adjacency-sized rewrite buys every subsequent
    // search a single-scan plan.
    "v37_graph_index_compaction" -> ((s, d) => {
      import graft.sources.Snapshots
      val idx = historyIndex(s, d)
      val e = emb(s, d)
      val hist = e.filter(col("vec_id") % AppendSplitMod < AppendHistMax)
      val batch = e.filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
      val edges1 = Derived.of(s, d, "nsw_hist_edges") {
        graft.ops.Nsw.build(hist, "vec_id", "embedding", idx.centroids,
          NswBlocks, NswM, NswRounds)
      }
      val adjDir = freshSnapDir(s, d, "v37_adj")
      Snapshots.commit(edges1, adjDir)
      // nightly batch admitted by blocked local repair (v31's chain)
      val rep = graft.ops.Nsw.insert(Snapshots.read(s, adjDir), e,
        "vec_id", "embedding", idx.centroids, NswBlocks, NswM,
        batch.select(col("vec_id")))
      val dv = Snapshots.commitDeletes(rep.touched, adjDir, base = 1,
        staged = true)
      Snapshots.commitAppend(rep.delta, adjDir, base = dv)
      val chainBefore = Snapshots.chainEntries(s, adjDir).size
      val ent = graft.ops.Nsw.entries(x25AppendedIndex(s, d).assigned,
        "vec_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def walk(edges: DataFrame) = graft.ops.Nsw.search(edges, e,
        "vec_id", "embedding", ent, q, NswBeam, NswWalk, topK = 3)
      val pre = walk(Snapshots.readResolved(s, adjDir)).cache()
      // OPTIMIZE: the resolved adjacency re-lands as ONE full version
      val head = Snapshots.versions(s, adjDir).last
      val v4 = Snapshots.commitLayout(
        Snapshots.readResolved(s, adjDir), adjDir, base = head)
      val post = walk(Snapshots.readResolved(s, adjDir))
      val identical = graft.util.Parity.multisetEqual(post, pre)
      val feedEmpty =
        Snapshots.stepChanges(s, adjDir, v4, Seq("a", "b")).isEmpty
      val chainAfter = Snapshots.chainEntries(s, adjDir).size
      val shortened = chainBefore == 3 && chainAfter == 1
      val brute = knnTruth(s, d)
      val hits = post.join(brute, Seq("qid", "nb_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("h"))
      post.join(hits, Seq("qid"), "left")
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"),
          coalesce(col("h"), lit(0L)).cast("int").as("hits_at_3"),
          lit(identical).as("compaction_identical"),
          lit(feedEmpty).as("compaction_feed_empty"),
          lit(shortened).as("chain_shortened"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    "v20_ivf_append" -> ((s, d) => {
      val idx = historyIndex(s, d)
      val batch = emb(s, d)
        .filter(col("vec_id") % AppendSplitMod >= AppendHistMax)
      val appended = graft.ops.Ivf.append(idx, batch, "embedding")
      val q = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Ivf.probe(appended, q, nprobe = 2, topK = 3)
        .select(col("qid"), col("nb_id"), col("nb_rank"),
          round(col("score"), 4).as("score"))
        .orderBy(col("qid"), col("nb_rank"))
    }),

    // v18 — MMR RE-RANKING (maximal marginal relevance, Carbonell &
    // Goldstein 1998): diversify the flagship top-k before it reaches
    // the prompt — greedily pick [[MmrK]] of the top-[[MmrM]]
    // retrieval candidates maximizing λ·rel − (1−λ)·max-sim-to-
    // already-picked (λ = [[MmrLambdaX10]]/10). The RAG failure it
    // fixes: v1 returns 10 near-identical chunks; MMR trades rank-9
    // redundancy for coverage. Scale shape: the DISTRIBUTED work is
    // the candidate top-M scan (v1's plan — codegen dot product +
    // TakeOrdered); the greedy runs on the M-row candidate table and
    // its M·(M−1) pair sims — model-sized frames (the k-means
    // precedent), each step one join + one limit(1) argmax. All
    // comparisons are INTEGER deci-micro MMR scores over bit-exact
    // dot products, so selection order is engine-reproducible and the
    // unrolled-CTE oracle hash-matches.
    "v18_mmr_rerank" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("rel_micro",
          round(cos(col("embedding"), col("qe")) * lit(1e6)).cast("long"))
        .orderBy(col("rel_micro").desc, col("vec_id"))
        .limit(MmrM)
        .select(col("vec_id"), col("embedding"), col("rel_micro"))
        .cutLineage(true)
      val sim = cand.as("a").crossJoin(cand.as("b"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
          round(cos(col("a.embedding"), col("b.embedding")) * lit(1e6))
            .cast("long").as("sim_micro"))
        .cutLineage(true)
      val rels = cand.select(col("vec_id"), col("rel_micro"))
      // the accumulator is lineage-CUT every pick (walkBeam's
      // discipline): `next` references `selected` twice (the max-sim
      // join and the anti-join) and the union re-embeds it, so the
      // uncut plan grows ~3x per pick and the final frame re-evaluates
      // every earlier argmax — the cut materializes at most MmrK rows
      // and keeps each pick's plan a constant shape
      var selected = rels
        .orderBy(col("rel_micro").desc, col("vec_id")).limit(1)
        .select(lit(1).as("rank"), col("vec_id"),
          (col("rel_micro") * MmrLambdaX10).as("mmr_deci"))
        .cutLineage(true)
      for (r <- 2 to MmrK) {
        val selIds = selected.select(col("vec_id").as("sid"))
        val maxSim = sim.join(selIds, col("bi") === col("sid"))
          .groupBy(col("ai")).agg(max(col("sim_micro")).as("ms"))
        val next = rels
          .join(selIds, col("vec_id") === col("sid"), "left_anti")
          .join(maxSim, col("vec_id") === col("ai"))
          .select(col("vec_id"),
            (col("rel_micro") * MmrLambdaX10 - col("ms") * (10 - MmrLambdaX10))
              .as("mmr_deci"))
          .orderBy(col("mmr_deci").desc, col("vec_id")).limit(1)
          .select(lit(r).as("rank"), col("vec_id"), col("mmr_deci"))
        selected = selected.unionAll(next).cutLineage(true)
      }
      selected.join(rels, Seq("vec_id"))
        .select(col("rank"), col("vec_id"), col("rel_micro"), col("mmr_deci"))
        .orderBy(col("rank"))
    })
  )

  /** v18 MMR parameters: candidate pool, picks, and λ in tenths
    * (7 → λ = 0.7; integer so the greedy objective
    * 7·rel_micro − 3·maxsim_micro stays in exact BIGINT math). */
  /** v19: cosine threshold for the radius search — ~1/8 of the
    * corpus matches at fixture scale (non-trivial, non-empty at
    * every SF; the fixtures' score distribution is SF-stable). */
  val RadiusTau = 0.15

  val MmrM = 20
  val MmrK = 5
  val MmrLambdaX10 = 7

  /** v16's two-stage search, parametrized so TruncatedRerankSpec can
    * pin the degenerate identity (shortK ≥ corpus ⇒ ≡ v4 exactly). */
  def truncatedRerank(s: SparkSession, d: String,
      prefDims: Int, shortK: Int): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pre = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("pre", VectorOps.dot(
        slice(col("qe"), 1, prefDims), slice(col("embedding"), 1, prefDims)))
    val short = graft.plans.TopK.perKey(pre, Seq("qid"),
      Seq(col("pre").desc, col("vec_id")), shortK)
    val rer = short.withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
    val top = graft.plans.TopK.perKey(rer, Seq("qid"),
      Seq(col("raw").desc, col("vec_id")), 3)
    val w = Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("vec_id"))
    top.withColumn("nb_rank", row_number().over(w))
      .select(col("qid"), col("vec_id").as("nb_id"), col("nb_rank"),
        round(col("pre"), 4).as("pre_score"),
        round(col("raw"), 4).as("score"))
      .orderBy(col("qid"), col("nb_rank"))
  }

  /** v15: number of leading vec_ids whose standardized rows are
    * emitted (corpus-wide stats either way). */
  val ZsampleIds = 50

  /** v16: prefilter dimension count and shortlist depth. */
  val PrefDims = 16
  val ShortK = 20

  /** The v10 oracle reconstructs the SAME hash-derived hyperplanes in
    * SQL (hash60 ≡ first 15 hex chars of md5; both dot products fold
    * left-to-right), so bucket assignment and ranking hash-match. */
  private def lshOracle: String = {
    def planeList(p: Int) =
      s"list_transform(generate_series(0, ${EmbDim - 1}), " +
        s"d -> (CAST(('0x' || substr(md5('lsh|$p|' || d::VARCHAR), 1, 15)) AS BIGINT) " +
        s"% 2001 - 1000) / 1000.0)"
    val bucketExpr = (0 until LshPlanes).map(p =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeList(p)}) >= 0 " +
        s"THEN ${1 << p} ELSE 0 END").mkString("\n      + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    $bucketExpr AS bucket
       |  FROM embeddings)
       |SELECT qid, bucket, nb_id, CAST(rn AS INT) AS nb_rank, round(raw, 4) AS score
       |FROM (
       |  SELECT q.vec_id AS qid, q.bucket, e.vec_id AS nb_id,
       |    list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS raw,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
       |               e.vec_id) AS rn
       |  FROM b q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5) x
       |WHERE rn <= 3
       |ORDER BY qid, nb_rank""".stripMargin
  }

  /** The v9 oracle: Pq.buildExact + Pq.search reproduced in SQL.
    * Training unrolls the PqPasses assignment passes as a CTE chain
    * (the x11 pattern, per subspace via one extra group key); seeding,
    * tie-breaks, the squared-distance expression, the decimal-explode
    * centroid mean, and the empty-cluster COALESCE all mirror
    * buildExact term for term. The ADC score folds the m per-subspace
    * LUT contributions in sub_id order via list_reduce — the same
    * left-to-right double fold as Spark's aggregate(zip_with(...)) —
    * so the quantized scores are bit-identical and the rounded
    * result hash-matches. */
  /** Pq.buildExact's training chain as CTE text (no leading WITH),
    * every CTE name prefixed with `p` so it can compose with other
    * chains (the v12 IVF-PQ oracle) without collisions. Exposes
    * `${p}subs`, `${p}cent${PqPasses-1}` (final codebooks) and
    * `${p}asg$PqPasses` (final codes). */
  private def pqTrainCtes(p: String): String = {
    val subDim = EmbDim / PqM
    val sb = new StringBuilder
    sb.append(
      s"""${p}vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${p}subs AS (
         |  SELECT vec_id, sub_id,
         |         list_slice(v, sub_id * $subDim + 1, sub_id * $subDim + $subDim) AS s
         |  FROM ${p}vecs CROSS JOIN range(0, $PqM) r(sub_id)),
         |${p}subdims AS (
         |  SELECT vec_id, sub_id, generate_subscripts(s, 1) - 1 AS dim,
         |         unnest(s)::DOUBLE AS x
         |  FROM ${p}subs),
         |${p}cent0 AS (
         |  SELECT sub_id,
         |    CAST(row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) - 1 AS INT) AS cid,
         |    s AS cvec
         |  FROM ${p}subs
         |  WHERE vec_id IN (SELECT vec_id FROM ${p}vecs ORDER BY vec_id LIMIT $PqK))""".stripMargin)
    def asgSql(i: Int): String =
      s""",
         |${p}asg$i AS (
         |  SELECT sub_id, vec_id, cid, s FROM (
         |    SELECT b.sub_id, b.vec_id, c.cid, b.s,
         |      row_number() OVER (PARTITION BY b.sub_id, b.vec_id ORDER BY
         |        list_dot_product(b.s, b.s) + list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(b.s, c.cvec), c.cid) AS rn
         |    FROM ${p}subs b JOIN ${p}cent${i - 1} c ON c.sub_id = b.sub_id) t
         |  WHERE rn = 1)""".stripMargin
    for (i <- 1 to PqPasses) {
      sb.append(asgSql(i))
      if (i < PqPasses) sb.append(
        s""",
           |${p}means$i AS (
           |  SELECT sub_id, cid, array_agg(cv ORDER BY dim) AS mvec FROM (
           |    SELECT a.sub_id, a.cid, d.dim,
           |      CAST(SUM(CAST(d.x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS cv
           |    FROM ${p}asg$i a JOIN ${p}subdims d
           |      ON d.vec_id = a.vec_id AND d.sub_id = a.sub_id
           |    GROUP BY a.sub_id, a.cid, d.dim) u
           |  GROUP BY sub_id, cid),
           |${p}cent$i AS (
           |  SELECT pc.sub_id, pc.cid, COALESCE(n.mvec, pc.cvec) AS cvec
           |  FROM ${p}cent${i - 1} pc LEFT JOIN ${p}means$i n
           |    ON n.sub_id = pc.sub_id AND n.cid = pc.cid)""".stripMargin)
    }
    sb.toString
  }

  /** The ADC LUT + scored CTEs. `candJoin` restricts the scan to a
    * candidate-pair source ('' = score the whole corpus); `lutExtra`
    * carries the matching extra lut-join condition (e.g. the qid
    * equality against the candidate table). */
  private def pqScoreCtes(p: String, candJoin: String, lutExtra: String): String =
    s"""${p}luts AS (
       |  SELECT q.vec_id AS qid, c.sub_id, c.cid,
       |    list_dot_product(q.s, c.cvec) AS contrib
       |  FROM ${p}subs q JOIN ${p}cent${PqPasses - 1} c ON c.sub_id = q.sub_id
       |  WHERE q.vec_id < 5),
       |${p}scored AS (
       |  SELECT l.qid, a.vec_id AS nb_id,
       |    list_reduce(array_agg(l.contrib ORDER BY l.sub_id),
       |                (acc, x) -> acc + x) AS score
       |  FROM ${p}asg$PqPasses a
       |  $candJoin
       |  JOIN ${p}luts l ON l.sub_id = a.sub_id AND l.cid = a.cid$lutExtra
       |  WHERE a.vec_id <> l.qid
       |  GROUP BY l.qid, a.vec_id)""".stripMargin

  private def pqTopSelect(p: String): String = topkTail(s"${p}scored")

  private def pqOracle: String =
    s"""WITH ${pqTrainCtes("")},
       |${pqScoreCtes("", "", "")}
       |${pqTopSelect("")}""".stripMargin

  /** The v8 oracle: Ivf.buildExact + probe(nprobe=2) in SQL. The
    * training chain is x11's unrolled-CTE pattern at IvfClusters/
    * IvfIters; bucket ranking mirrors Ivf.probe's rank-neutral
    * |c|² − 2·q·c expression and cluster_id tie-break; the candidate
    * scan joins only the two probed buckets. */
  /** Ivf.buildExact's training chain as prefixable CTE text (x11's
    * unrolled pattern). Exposes `${p}cent${IvfIters-1}` (final
    * centroids) and `${p}asg$IvfIters` (final bucket assignment).
    * `where` restricts the TRAINING SET (v20 trains on the history
    * split only; '' = the whole corpus). */
  private def ivfTrainCtes(p: String, where: String = "",
                           src: String = "embeddings"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${p}seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id,
         |         embedding::DOUBLE[] AS cvec
         |  FROM (SELECT vec_id, embedding FROM $src $where ORDER BY vec_id LIMIT $IvfClusters) s),
         |${p}dims AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |         unnest(embedding)::DOUBLE AS x
         |  FROM $src $where),
         |${p}cent0 AS (SELECT cluster_id, cvec FROM ${p}seeds)""".stripMargin)
    def asgSql(i: Int): String =
      s""",
         |${p}asg$i AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |          + list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec),
         |        c.cluster_id) AS rn
         |    FROM (SELECT * FROM $src $where) e CROSS JOIN ${p}cent${i - 1} c) t
         |  WHERE rn = 1)""".stripMargin
    for (i <- 1 to IvfIters) {
      sb.append(asgSql(i))
      if (i < IvfIters) sb.append(
        s""",
           |${p}cent$i AS (
           |  SELECT cluster_id, array_agg(cv ORDER BY dim) AS cvec FROM (
           |    SELECT a.cluster_id, d.dim,
           |      CAST(SUM(CAST(d.x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS cv
           |    FROM ${p}asg$i a JOIN ${p}dims d USING (vec_id)
           |    GROUP BY a.cluster_id, d.dim) u
           |  GROUP BY cluster_id)""".stripMargin)
    }
    sb.toString
  }

  /** nprobe=2 bucket selection over the trained centroids — the
    * coarse stage shared by v8 (full-width scoring) and v12 (ADC). */
  private def ivfProbedCte(p: String): String =
    s"""${p}probed AS (
       |  SELECT qid, qe, cluster_id FROM (
       |    SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qe, c.cluster_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(c.cvec, c.cvec)
       |          - 2 * list_dot_product(q.embedding::DOUBLE[], c.cvec),
       |        c.cluster_id) AS brn
       |    FROM embeddings q CROSS JOIN ${p}cent${IvfIters - 1} c
       |    WHERE q.vec_id < 5) t
       |  WHERE brn <= 2)""".stripMargin

  /** The shared top-3 probe tail: rank candidates per query, emit
    * (qid, nb_id, nb_rank, rounded score[, pinned extras]). */
  private def topkTail(src: String, extras: String = ""): String =
    s"""SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank, round(score, 4) AS score$extras
       |FROM (SELECT qid, nb_id, score,
       |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, nb_id) AS rn
       |      FROM $src) x
       |WHERE rn <= 3
       |ORDER BY qid, nb_rank""".stripMargin

  /** Full-width scoring of probed buckets against `src`'s vectors;
    * `extraWhere` restricts the candidate set (filtered search). */
  private def candsCte(probed: String, asg: String, src: String,
                       extraWhere: String = ""): String =
    s"""cands AS (
       |  SELECT p.qid, a.vec_id AS nb_id,
       |    list_dot_product(p.qe, e.embedding::DOUBLE[]) AS score
       |  FROM $probed p
       |  JOIN $asg a ON a.cluster_id = p.cluster_id
       |  JOIN $src e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.qid$extraWhere)""".stripMargin

  /** Every vector of `src` assigned at the `${p}cent` final centroids
    * with training's exact expression and tie-break. */
  private def assignAllCte(name: String, src: String, p: String): String =
    s"""$name AS (
       |  SELECT vec_id, cluster_id FROM (
       |    SELECT e.vec_id, c.cluster_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |          + list_dot_product(c.cvec, c.cvec)
       |          - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec),
       |        c.cluster_id) AS rn
       |    FROM $src e CROSS JOIN ${p}cent${IvfIters - 1} c) t
       |  WHERE rn = 1)""".stripMargin

  private def ivfProbe2Oracle: String =
    s"""WITH ${ivfTrainCtes("")},
       |${ivfProbedCte("")},
       |${candsCte("probed", s"asg$IvfIters", "embeddings")}
       |${topkTail("cands")}""".stripMargin

  /** The v30 build + query-set CTE chain (unrolled IVF training →
    * rank-≤NswBlocks block assignment → blocked init pairs →
    * NswRounds NN-descent rounds → per-cluster entry layer → the
    * qid<5 query set), shared VERBATIM by [[nswOracle]] (v30) and
    * [[pqWalkOracle]] (v32). Exposes `edges$NswRounds`, `nentry`,
    * `nq`. Every stage ranks by (score DESC, id), so the chain is
    * deterministic and the numbers bit-match Spark's. */
  private def nswBuildCtes: String = {
    def scoredCte(name: String, pairsSrc: String): String =
      s"""$name AS (
         |  SELECT p.a, p.b,
         |    list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS score
         |  FROM $pairsSrc p
         |  JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b)""".stripMargin
    def topMCte(name: String, src: String): String =
      s"""$name AS (
         |  SELECT a, b, score FROM (
         |    SELECT a, b, score,
         |      row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
         |    FROM $src) t
         |  WHERE rn <= $NswM)""".stripMargin
    val sb = new StringBuilder
    sb.append(s"WITH ${ivfTrainCtes("")},\n")
    sb.append(
      s"""nswasg AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec),
         |        c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cent${IvfIters - 1} c) t
         |  WHERE rn <= $NswBlocks),
         |npairs0 AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM nswasg x JOIN nswasg y USING (cluster_id)
         |  WHERE x.vec_id <> y.vec_id),
         |""".stripMargin)
    sb.append(scoredCte("nsc0", "npairs0") + ",\n")
    sb.append(topMCte("edges0", "nsc0") + ",\n")
    for (r <- 1 to NswRounds) {
      sb.append(
        s"""npairs$r AS (
           |  SELECT a, b FROM edges${r - 1}
           |  UNION
           |  SELECT e1.a, e2.b
           |  FROM edges${r - 1} e1 JOIN edges${r - 1} e2 ON e1.b = e2.a
           |  WHERE e2.b <> e1.a),
           |""".stripMargin)
      sb.append(scoredCte(s"nsc$r", s"npairs$r") + ",\n")
      sb.append(topMCte(s"edges$r", s"nsc$r") + ",\n")
    }
    sb.append(
      s"""nentry AS (
         |  SELECT MIN(vec_id) AS node FROM asg$IvfIters GROUP BY cluster_id),
         |nq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
         |       FROM embeddings WHERE vec_id < 5),
         |""".stripMargin)
    sb.toString
  }

  /** One beam-walk (re-)ranking CTE: the round's candidates scored
    * by dot(q, `vecExpr`) read from `vecSrc`, kept to the beam. v30
    * prices the walk with the exact corpus vectors; v32 prices it
    * with the PQ-RECONSTRUCTED ones (a dot product against a decoded
    * vector IS the asymmetric-distance LUT sum, term for term). */
  private def nswBeamCte(name: String, candSrc: String,
                         vecSrc: String, vecExpr: String,
                         beam: Int = NswBeam): String =
    s"""$name AS (
       |  SELECT qid, node, score FROM (
       |    SELECT c.qid, c.node,
       |      list_dot_product(q.qe, $vecExpr) AS score,
       |      row_number() OVER (PARTITION BY c.qid ORDER BY
       |        list_dot_product(q.qe, $vecExpr) DESC,
       |        c.node) AS rn
       |    FROM $candSrc c
       |    JOIN nq q ON q.qid = c.qid
       |    JOIN $vecSrc e ON e.vec_id = c.node) t
       |  WHERE rn <= $beam)""".stripMargin

  /** A walk round's candidate CTE: the previous beam ∪ its
    * out-edges in the shared adjacency (`edges$NswRounds`). */
  private def nswWalkCandCte(p: String, w: Int): String =
    s"""${p}wc$w AS (
       |  SELECT qid, node FROM ${p}wb${w - 1}
       |  UNION
       |  SELECT b.qid, e.b AS node
       |  FROM ${p}wb${w - 1} b JOIN edges$NswRounds e ON e.a = b.node),
       |""".stripMargin

  private def nswOracle: String = {
    def beamCte(name: String, candSrc: String): String =
      nswBeamCte(name, candSrc, "embeddings", "e.embedding::DOUBLE[]")
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    sb.append("wc0 AS (SELECT q.qid, e.node FROM nq q CROSS JOIN nentry e),\n")
    sb.append(beamCte("wb0", "wc0") + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(nswWalkCandCte("", w))
      sb.append(beamCte(s"wb$w", s"wc$w") + ",\n")
    }
    sb.append(
      s"""nres AS (
         |  SELECT qid, node AS nb_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |  FROM wb$NswWalk WHERE node <> qid),
         |nbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM nq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |nhits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM nres r LEFT JOIN nbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3
         |FROM nres r JOIN nhits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** v38's replay: the SHARED v30 build chain (layer 0 + training +
    * nq), then the hash-derived levels, each upper layer's
    * member-restricted blocked build (+NswUpperRounds descent), and
    * the greedy descent — top layer's min-id guard seeds a narrow
    * walk whose beam seeds the next layer down, layer 0 finishing at
    * full width — ending in v30's recall tail plus the two pinned
    * layer populations. Every stage ranks (score DESC, id), so the
    * chain bit-matches Spark's. */
  private def hnswOracle(extras: String = ""): String = {
    def scoredCte(name: String, pairsSrc: String): String =
      s"""$name AS (
         |  SELECT p.a, p.b,
         |    list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS score
         |  FROM $pairsSrc p
         |  JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b)""".stripMargin
    def topMCte(name: String, src: String): String =
      s"""$name AS (
         |  SELECT a, b, score FROM (
         |    SELECT a, b, score,
         |      row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
         |    FROM $src) t
         |  WHERE rn <= $NswM)""".stripMargin
    def beamCte(name: String, candSrc: String, beam: Int): String =
      nswBeamCte(name, candSrc, "embeddings", "e.embedding::DOUBLE[]", beam)
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    // hash-derived levels: trailing 4-adic zeros of hash60, capped.
    // The CASE arms below hand-unroll Nsw.levelOf for exactly TWO
    // upper levels (the top arm is parameterized, the middle is the
    // literal `h % 4 = 0 THEN 1`); a bumped NswMaxLevel would
    // silently desync the oracle's intermediate levels from levelOf —
    // fail loudly here instead.
    require(NswMaxLevel == 2,
      "hnswOracle's lvl CTE unrolls levels for NswMaxLevel == 2 only — " +
        "regenerate its CASE arms (mirroring Nsw.levelOf) before bumping")
    sb.append(
      s"""lvl AS (
         |  SELECT vec_id,
         |    CASE WHEN h % ${math.pow(4, NswMaxLevel).toLong} = 0 THEN $NswMaxLevel
         |         WHEN h % 4 = 0 THEN 1 ELSE 0 END AS level
         |  FROM (SELECT vec_id,
         |          CAST(('0x' || substr(md5('nswlvl|' || vec_id::VARCHAR), 1, 15)) AS BIGINT) AS h
         |        FROM embeddings) t),
         |""".stripMargin)
    // upper-layer builds: member-restricted block assignment → pairs
    // → top-M → NswUpperRounds descent rounds
    for (l <- 1 to NswMaxLevel) {
      sb.append(
        s"""l${l}asg AS (
           |  SELECT a.vec_id, a.cluster_id FROM nswasg a
           |  JOIN lvl v ON v.vec_id = a.vec_id AND v.level >= $l),
           |l${l}p0 AS (
           |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           |  FROM l${l}asg x JOIN l${l}asg y USING (cluster_id)
           |  WHERE x.vec_id <> y.vec_id),
           |""".stripMargin)
      sb.append(scoredCte(s"l${l}sc0", s"l${l}p0") + ",\n")
      sb.append(topMCte(s"l${l}e0", s"l${l}sc0") + ",\n")
      for (r <- 1 to NswUpperRounds) {
        sb.append(
          s"""l${l}p$r AS (
             |  SELECT a, b FROM l${l}e${r - 1}
             |  UNION
             |  SELECT e1.a, e2.b
             |  FROM l${l}e${r - 1} e1 JOIN l${l}e${r - 1} e2 ON e1.b = e2.a
             |  WHERE e2.b <> e1.a),
             |""".stripMargin)
        sb.append(scoredCte(s"l${l}sc$r", s"l${l}p$r") + ",\n")
        sb.append(topMCte(s"l${l}e$r", s"l${l}sc$r") + ",\n")
      }
    }
    // greedy descent: per upper layer top-down, seed = previous beam
    // ∪ the layer's min-id guard, one narrow walk round each
    var prevBeam = ""
    for (l <- NswMaxLevel to 1 by -1) {
      val seedUnion =
        if (prevBeam.isEmpty) ""
        else s"SELECT qid, node FROM $prevBeam\n  UNION\n  "
      sb.append(
        s"""g$l AS (SELECT MIN(vec_id) AS node FROM lvl WHERE level >= $l),
           |s$l AS (
           |  ${seedUnion}SELECT q.qid, g.node FROM nq q CROSS JOIN g$l g
           |  WHERE g.node IS NOT NULL),
           |""".stripMargin)
      sb.append(beamCte(s"hb${l}a", s"s$l", NswUpperBeam) + ",\n")
      for (w <- 1 to NswUpperWalk) {
        val prev = if (w == 1) s"hb${l}a" else s"hb${l}w${w - 1}"
        val name = if (w == NswUpperWalk) s"hb$l" else s"hb${l}w$w"
        sb.append(
          s"""hc$l$w AS (
             |  SELECT qid, node FROM $prev
             |  UNION
             |  SELECT b.qid, e.b AS node
             |  FROM $prev b JOIN l${l}e$NswUpperRounds e ON e.a = b.node),
             |""".stripMargin)
        sb.append(beamCte(name, s"hc$l$w", NswUpperBeam) + ",\n")
      }
      prevBeam = s"hb$l"
    }
    // layer 0: seed = last upper beam ∪ the global min-id guard,
    // full-width walk (v30's rounds), then the shared recall tail
    sb.append(
      s"""g0 AS (SELECT MIN(vec_id) AS node FROM embeddings),
         |vwc0 AS (
         |  SELECT qid, node FROM $prevBeam
         |  UNION
         |  SELECT q.qid, g.node FROM nq q CROSS JOIN g0 g),
         |""".stripMargin)
    sb.append(beamCte("vwb0", "vwc0", NswBeam) + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(nswWalkCandCte("v", w))
      sb.append(beamCte(s"vwb$w", s"vwc$w", NswBeam) + ",\n")
    }
    sb.append(
      s"""nres AS (
         |  SELECT qid, node AS nb_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |  FROM vwb$NswWalk WHERE node <> qid),
         |nbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM nq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |nhits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM nres r LEFT JOIN nbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3,
         |  (SELECT CAST(COUNT(*) AS INT) FROM lvl WHERE level >= 1) AS n_layer1,
         |  (SELECT CAST(COUNT(*) AS INT) FROM lvl WHERE level >= $NswMaxLevel) AS n_layer2$extras
         |FROM nres r JOIN nhits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** v36's replay: the SHARED v30 build chain, then the erasure —
    * purged ids {0,1,2} filtered out of corpus and adjacency, the
    * TOUCHED survivors (rows that held a purged id in their neighbor
    * list) re-linked from post-purge block-mates at the frozen
    * centroids ([[graft.ops.Nsw.purgeRepair]] term for term: same
    * rank expression, same tie-breaks, same union-dedup), entries
    * re-elected from the purged assignment, and the beam walk re-run
    * at qid 5–9 over the post-purge corpus with recall@3 vs the
    * post-purge brute force. `entry_reelected` is derived on BOTH
    * sides from their own replay (node 0 is an entry before, none of
    * {0,1,2} after); the two exposure flags pin the engine-side x76
    * witness (literal TRUE — v31's index_atomic pattern). */
  private def rtbfOracle: String = {
    def beamCte(name: String, candSrc: String): String =
      s"""$name AS (
         |  SELECT qid, node, score FROM (
         |    SELECT c.qid, c.node,
         |      list_dot_product(q.qe, e.v) AS score,
         |      row_number() OVER (PARTITION BY c.qid ORDER BY
         |        list_dot_product(q.qe, e.v) DESC,
         |        c.node) AS rn
         |    FROM $candSrc c
         |    JOIN vq q ON q.qid = c.qid
         |    JOIN vcorpus e ON e.vec_id = c.node) t
         |  WHERE rn <= $NswBeam)""".stripMargin
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    sb.append(
      s"""vpurged AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 3),
         |vcorpus AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE vec_id NOT IN (SELECT id FROM vpurged)),
         |valive AS (
         |  SELECT a, b, score FROM edges$NswRounds
         |  WHERE a NOT IN (SELECT id FROM vpurged)),
         |vtouched AS (
         |  SELECT DISTINCT a FROM valive
         |  WHERE b IN (SELECT id FROM vpurged)),
         |vkept AS (
         |  SELECT a, b, score FROM valive
         |  WHERE b NOT IN (SELECT id FROM vpurged)),
         |vasg AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.v, c.cvec),
         |        c.cluster_id) AS rn
         |    FROM vcorpus e CROSS JOIN cent${IvfIters - 1} c) t
         |  WHERE rn <= $NswBlocks),
         |vtpairs AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM vasg x JOIN vasg y USING (cluster_id)
         |  WHERE x.vec_id IN (SELECT a FROM vtouched)
         |    AND y.vec_id <> x.vec_id),
         |vsc AS (
         |  SELECT p.a, p.b, list_dot_product(ea.v, eb.v) AS score
         |  FROM vtpairs p
         |  JOIN vcorpus ea ON ea.vec_id = p.a
         |  JOIN vcorpus eb ON eb.vec_id = p.b),
         |vcand AS (
         |  SELECT a, b, score FROM vsc
         |  UNION
         |  SELECT a, b, score FROM vkept
         |  WHERE a IN (SELECT a FROM vtouched)),
         |vdelta AS (
         |  SELECT a, b, score FROM (
         |    SELECT a, b, score,
         |      row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
         |    FROM vcand) t
         |  WHERE rn <= $NswM),
         |vadj AS (
         |  SELECT a, b, score FROM vkept
         |  WHERE a NOT IN (SELECT a FROM vtouched)
         |  UNION ALL
         |  SELECT a, b, score FROM vdelta),
         |vpentry AS (
         |  SELECT MIN(vec_id) AS node FROM asg$IvfIters
         |  WHERE vec_id NOT IN (SELECT id FROM vpurged)
         |  GROUP BY cluster_id),
         |vq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
         |       FROM embeddings WHERE vec_id >= 5 AND vec_id < 10),
         |vwc0 AS (SELECT q.qid, e.node FROM vq q CROSS JOIN vpentry e),
         |""".stripMargin)
    sb.append(beamCte("vwb0", "vwc0") + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(
        s"""vwc$w AS (
           |  SELECT qid, node FROM vwb${w - 1}
           |  UNION
           |  SELECT b.qid, e.b AS node
           |  FROM vwb${w - 1} b JOIN vadj e ON e.a = b.node),
           |""".stripMargin)
      sb.append(beamCte(s"vwb$w", s"vwc$w") + ",\n")
    }
    sb.append(
      s"""vres AS (
         |  SELECT qid, node AS nb_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |  FROM vwb$NswWalk WHERE node <> qid),
         |vbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.v) DESC,
         |        e.vec_id) AS rn
         |    FROM vq q CROSS JOIN vcorpus e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |vhits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM vres r LEFT JOIN vbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3,
         |  ((SELECT COUNT(*) FROM nentry
         |    WHERE node IN (SELECT id FROM vpurged)) > 0
         |   AND (SELECT COUNT(*) FROM vpentry
         |    WHERE node IN (SELECT id FROM vpurged)) = 0) AS entry_reelected,
         |  TRUE AS exposure_before_pos,
         |  TRUE AS exposure_after_zero
         |FROM vres r JOIN vhits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** v32's full replay: the SHARED v30 graph chain + the v9 PQ
    * training chain ("p"-prefixed, no CTE collision). The beam walk
    * is re-priced with PQ-RECONSTRUCTED vectors (per-subspace
    * codebook centroids decoded and concatenated — a dot product
    * against the decoded vector equals the asymmetric-distance LUT
    * sum term for term); the FINAL BEAM ONLY is then re-ranked with
    * exact full-precision scores, and recall@3 vs the exact brute
    * force rides in the hash (v17's acceptance harness). */
  private def pqWalkOracle: String = {
    def beamCte(name: String, candSrc: String): String =
      nswBeamCte(name, candSrc, "precon", "e.rvec")
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    sb.append(pqTrainCtes("p") + ",\n")
    sb.append(
      s"""precon AS (
         |  SELECT a.vec_id, flatten(array_agg(c.cvec ORDER BY a.sub_id)) AS rvec
         |  FROM pasg$PqPasses a JOIN pcent${PqPasses - 1} c
         |    ON c.sub_id = a.sub_id AND c.cid = a.cid
         |  GROUP BY a.vec_id),
         |pwc0 AS (SELECT q.qid, e.node FROM nq q CROSS JOIN nentry e),
         |""".stripMargin)
    sb.append(beamCte("pwb0", "pwc0") + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(nswWalkCandCte("p", w))
      sb.append(beamCte(s"pwb$w", s"pwc$w") + ",\n")
    }
    sb.append(
      s"""prr AS (
         |  SELECT p.qid, p.node AS nb_id,
         |    list_dot_product(q.qe, e.embedding::DOUBLE[]) AS score,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC, p.node) AS rn
         |  FROM pwb$NswWalk p
         |  JOIN nq q ON q.qid = p.qid
         |  JOIN embeddings e ON e.vec_id = p.node
         |  WHERE p.node <> p.qid),
         |pbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM nq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |phits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM prr r LEFT JOIN pbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3
         |FROM prr r JOIN phits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** v33 beam settings under tuning: the quality/cost knob of a
    * graph walk (HNSW's efSearch). The largest equals [[NswBeam]]
    * (v30's serving beam). */
  val BeamGrid = Seq(1, 2, 4)

  /** v34: the over-fetch multiple that repairs filtered-walk recall
    * (beam widens to NswBeam·this before the eligibility filter). */
  val V34Overfetch = 4

  /** v33's replay: the SHARED v30 graph chain walked once per beam
    * setting (each chain just re-ranks with a different keep width),
    * recall@3 counted per setting against the exact brute force, and
    * v29's serve-the-cheapest-clearing-90% verdict replayed with a
    * window MIN — with the Spark side's explicit fallback (no setting
    * clears ⇒ the largest serves) stated in SQL. */
  private def beamTuningOracle: String = {
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    sb.append(
      s"""bf AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM nq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |""".stripMargin)
    BeamGrid.foreach { b =>
      val p = s"b$b"
      sb.append(s"${p}wc0 AS (SELECT q.qid, e.node FROM nq q CROSS JOIN nentry e),\n")
      sb.append(nswBeamCte(s"${p}wb0", s"${p}wc0", "embeddings",
        "e.embedding::DOUBLE[]", beam = b) + ",\n")
      for (w <- 1 to NswWalk) {
        sb.append(nswWalkCandCte(p, w))
        sb.append(nswBeamCte(s"${p}wb$w", s"${p}wc$w", "embeddings",
          "e.embedding::DOUBLE[]", beam = b) + ",\n")
      }
      sb.append(
        s"""res$b AS (
           |  SELECT qid, node AS nb_id FROM (
           |    SELECT qid, node,
           |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
           |    FROM ${p}wb$NswWalk WHERE node <> qid) t
           |  WHERE rn <= 3),
           |""".stripMargin)
    }
    val evals = BeamGrid.map { b =>
      s"""SELECT CAST($b AS INT) AS beam,
         |  (SELECT COUNT(*) FROM bf JOIN res$b USING (qid, nb_id)) AS n_hits,
         |  (SELECT COUNT(*) FROM bf) AS n_truth""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.append(
      s"""evals AS (
         |$evals)
         |SELECT beam, n_hits, n_truth,
         |  CASE WHEN MIN(CASE WHEN n_hits * 10 >= n_truth * 9 THEN beam END)
         |         OVER () IS NULL
         |       THEN beam = ${BeamGrid.last}
         |       ELSE beam = MIN(CASE WHEN n_hits * 10 >= n_truth * 9 THEN beam END)
         |         OVER () END AS chosen
         |FROM evals
         |ORDER BY beam""".stripMargin)
    sb.toString
  }

  /** v34's replay: the SHARED chain walked at the serving beam and at
    * the over-fetched beam, each post-filtered to the eligible label
    * and re-ranked; per-leg hits vs the exact FILTERED brute force
    * ride beside the over-fetched result rows. */
  private def filteredWalkOracle: String = {
    def beamCte(name: String, candSrc: String, beam: Int): String =
      nswBeamCte(name, candSrc, "embeddings", "e.embedding::DOUBLE[]", beam)
    val sb = new StringBuilder
    sb.append(nswBuildCtes)
    sb.append(
      s"""fbf AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM nq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid AND e.label = $V22Label) t
         |  WHERE rn <= 3),
         |""".stripMargin)
    Seq(("f", NswBeam), ("o", NswBeam * V34Overfetch)).foreach { case (p, b) =>
      sb.append(s"${p}wc0 AS (SELECT q.qid, e.node FROM nq q CROSS JOIN nentry e),\n")
      sb.append(beamCte(s"${p}wb0", s"${p}wc0", b) + ",\n")
      for (w <- 1 to NswWalk) {
        sb.append(nswWalkCandCte(p, w))
        sb.append(beamCte(s"${p}wb$w", s"${p}wc$w", b) + ",\n")
      }
      sb.append(
        s"""${p}fil AS (
           |  SELECT qid, node AS nb_id, score,
           |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
           |  FROM ${p}wb$NswWalk w JOIN embeddings el ON el.vec_id = w.node
           |  WHERE w.node <> w.qid AND el.label = $V22Label),
           |${p}hits AS (
           |  SELECT f.qid, CAST(COUNT(b.nb_id) AS INT) AS ${p}h
           |  FROM ${p}fil f LEFT JOIN fbf b
           |    ON b.qid = f.qid AND b.nb_id = f.nb_id
           |  WHERE f.rn <= 3
           |  GROUP BY f.qid),
           |""".stripMargin)
    }
    // the leg blocks each end ",\n" — the last CTE must not carry a
    // comma into the final SELECT
    sb.toString.stripSuffix(",\n") + "\n" +
      s"""SELECT o.qid, o.nb_id, CAST(o.rn AS INT) AS nb_rank,
         |  round(o.score, 4) AS score,
         |  COALESCE(fh.fh, 0) AS naive_hits,
         |  COALESCE(oh.oh, 0) AS over_hits
         |FROM ofil o
         |LEFT JOIN ohits oh ON oh.qid = o.qid
         |LEFT JOIN fhits fh ON fh.qid = o.qid
         |WHERE o.rn <= 3
         |ORDER BY o.qid, nb_rank""".stripMargin
  }

  /** v31's full lifecycle replay: h-prefixed training on the history
    * split → hist-only NSW build (v30's chain restricted) → blocked
    * local repair (pairs only where a batch vector shares a block;
    * touched nodes re-keep best-m over old ∪ new; untouched edges
    * pass through) → entry refresh from the all-corpus rank-1
    * assignment → beam walk over the REPAIRED graph → recall@3 vs
    * the full-corpus brute force. The three storage flags
    * (atomicity, cold-serve equality, base immutability) are
    * Spark-side witnesses pinned literal-true. */
  private def nswLifecycleOracle: String = {
    val histW = s"vec_id % $AppendSplitMod < $AppendHistMax"
    val cent = s"hcent${IvfIters - 1}"
    def blockAsgCte(name: String, where: String): String =
      s"""$name AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec),
         |        c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN $cent c
         |    $where) t
         |  WHERE rn <= $NswBlocks)""".stripMargin
    def scoredCte(name: String, pairsSrc: String): String =
      s"""$name AS (
         |  SELECT p.a, p.b,
         |    list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS score
         |  FROM $pairsSrc p
         |  JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b)""".stripMargin
    def topMCte(name: String, src: String): String =
      s"""$name AS (
         |  SELECT a, b, score FROM (
         |    SELECT a, b, score,
         |      row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
         |    FROM $src) t
         |  WHERE rn <= $NswM)""".stripMargin
    def beamCte(name: String, candSrc: String): String =
      s"""$name AS (
         |  SELECT qid, node, score FROM (
         |    SELECT c.qid, c.node,
         |      list_dot_product(q.qe, e.embedding::DOUBLE[]) AS score,
         |      row_number() OVER (PARTITION BY c.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        c.node) AS rn
         |    FROM $candSrc c
         |    JOIN gq q ON q.qid = c.qid
         |    JOIN embeddings e ON e.vec_id = c.node) t
         |  WHERE rn <= $NswBeam)""".stripMargin
    val sb = new StringBuilder
    sb.append(s"WITH $appendAssignCtes,\n")
    // hist-only build (v30's chain at the history-trained centroids)
    sb.append(blockAsgCte("gasgh", s"WHERE e.$histW") + ",\n")
    sb.append(
      s"""gpairs0 AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM gasgh x JOIN gasgh y USING (cluster_id)
         |  WHERE x.vec_id <> y.vec_id),
         |""".stripMargin)
    sb.append(scoredCte("gsc0", "gpairs0") + ",\n")
    sb.append(topMCte("gedges0", "gsc0") + ",\n")
    for (r <- 1 to NswRounds) {
      sb.append(
        s"""gpairs$r AS (
           |  SELECT a, b FROM gedges${r - 1}
           |  UNION
           |  SELECT e1.a, e2.b
           |  FROM gedges${r - 1} e1 JOIN gedges${r - 1} e2 ON e1.b = e2.a
           |  WHERE e2.b <> e1.a),
           |""".stripMargin)
      sb.append(scoredCte(s"gsc$r", s"gpairs$r") + ",\n")
      sb.append(topMCte(s"gedges$r", s"gsc$r") + ",\n")
    }
    // blocked local repair: pairs with a batch endpoint only
    sb.append(blockAsgCte("gvasg", "") + ",\n")
    sb.append(
      s"""gbp AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM gvasg x JOIN gvasg y USING (cluster_id)
         |  WHERE x.vec_id <> y.vec_id
         |    AND (x.vec_id % $AppendSplitMod >= $AppendHistMax
         |      OR y.vec_id % $AppendSplitMod >= $AppendHistMax)),
         |gtouched AS (SELECT DISTINCT a FROM gbp),
         |""".stripMargin)
    sb.append(scoredCte("gbsc", "gbp") + ",\n")
    sb.append(
      s"""grin AS (
         |  SELECT a, b, score FROM gbsc
         |  UNION
         |  SELECT e.a, e.b, e.score FROM gedges$NswRounds e
         |  JOIN gtouched t ON t.a = e.a),
         |""".stripMargin)
    sb.append(topMCte("gredges", "grin") + ",\n")
    sb.append(
      s"""gfedges AS (
         |  SELECT e.a, e.b, e.score FROM gedges$NswRounds e
         |  WHERE NOT EXISTS (SELECT 1 FROM gtouched t WHERE t.a = e.a)
         |  UNION ALL
         |  SELECT a, b, score FROM gredges),
         |gent AS (SELECT MIN(vec_id) AS node FROM allasg GROUP BY cluster_id),
         |gq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
         |       FROM embeddings WHERE vec_id < 5),
         |gwc0 AS (SELECT q.qid, e.node FROM gq q CROSS JOIN gent e),
         |""".stripMargin)
    sb.append(beamCte("gwb0", "gwc0") + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(
        s"""gwc$w AS (
           |  SELECT qid, node FROM gwb${w - 1}
           |  UNION
           |  SELECT b.qid, e.b AS node
           |  FROM gwb${w - 1} b JOIN gfedges e ON e.a = b.node),
           |""".stripMargin)
      sb.append(beamCte(s"gwb$w", s"gwc$w") + ",\n")
    }
    sb.append(
      s"""gres AS (
         |  SELECT qid, node AS nb_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |  FROM gwb$NswWalk WHERE node <> qid),
         |gbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding::DOUBLE[]) DESC,
         |        e.vec_id) AS rn
         |    FROM gq q CROSS JOIN embeddings e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |ghits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM gres r LEFT JOIN gbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3,
         |  true AS index_atomic, true AS cold_equal,
         |  true AS base_files_untouched
         |FROM gres r JOIN ghits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** v35's full replay: the post-drift corpus CTE (v26's collapse),
    * the gen-2 coarse training unrolled over it, the NSW build at the
    * gen-2 centroids (block assignment → blocked init pairs →
    * NN-descent rounds), the per-cluster entry layer, the beam walk
    * from original query vectors over the drifted corpus, and
    * recall@3 vs the exact post-drift brute force — rebuild_fired /
    * index_atomic ride as pinned verdicts. */
  private def graphRetrainOracle: String = {
    def scoredCte(name: String, pairsSrc: String): String =
      s"""$name AS (
         |  SELECT p.a, p.b,
         |    list_dot_product(ea.embedding, eb.embedding) AS score
         |  FROM $pairsSrc p
         |  JOIN dcorpus ea ON ea.vec_id = p.a
         |  JOIN dcorpus eb ON eb.vec_id = p.b)""".stripMargin
    def topMCte(name: String, src: String): String =
      s"""$name AS (
         |  SELECT a, b, score FROM (
         |    SELECT a, b, score,
         |      row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
         |    FROM $src) t
         |  WHERE rn <= $NswM)""".stripMargin
    def beamCte(name: String, candSrc: String): String =
      s"""$name AS (
         |  SELECT qid, node, score FROM (
         |    SELECT c.qid, c.node,
         |      list_dot_product(q.qe, e.embedding) AS score,
         |      row_number() OVER (PARTITION BY c.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding) DESC,
         |        c.node) AS rn
         |    FROM $candSrc c
         |    JOIN zq q ON q.qid = c.qid
         |    JOIN dcorpus e ON e.vec_id = c.node) t
         |  WHERE rn <= $NswBeam)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH dcorpus AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
         |  WHERE vec_id % $AppendSplitMod < $AppendHistMax
         |  UNION ALL
         |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x * 0.1 + 3.0)
         |  FROM embeddings WHERE vec_id % $AppendSplitMod >= $AppendHistMax),
         |${ivfTrainCtes("z", src = "dcorpus")},
         |zblk AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.embedding, c.cvec),
         |        c.cluster_id) AS rn
         |    FROM dcorpus e CROSS JOIN zcent${IvfIters - 1} c) t
         |  WHERE rn <= $NswBlocks),
         |zpairs0 AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM zblk x JOIN zblk y USING (cluster_id)
         |  WHERE x.vec_id <> y.vec_id),
         |""".stripMargin)
    sb.append(scoredCte("zsc0", "zpairs0") + ",\n")
    sb.append(topMCte("zedges0", "zsc0") + ",\n")
    for (r <- 1 to NswRounds) {
      sb.append(
        s"""zpairs$r AS (
           |  SELECT a, b FROM zedges${r - 1}
           |  UNION
           |  SELECT e1.a, e2.b
           |  FROM zedges${r - 1} e1 JOIN zedges${r - 1} e2 ON e1.b = e2.a
           |  WHERE e2.b <> e1.a),
           |""".stripMargin)
      sb.append(scoredCte(s"zsc$r", s"zpairs$r") + ",\n")
      sb.append(topMCte(s"zedges$r", s"zsc$r") + ",\n")
    }
    sb.append(
      s"""zent AS (
         |  SELECT MIN(vec_id) AS node FROM zasg$IvfIters GROUP BY cluster_id),
         |zq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
         |       FROM embeddings WHERE vec_id < 5),
         |zwc0 AS (SELECT q.qid, e.node FROM zq q CROSS JOIN zent e),
         |""".stripMargin)
    sb.append(beamCte("zwb0", "zwc0") + ",\n")
    for (w <- 1 to NswWalk) {
      sb.append(
        s"""zwc$w AS (
           |  SELECT qid, node FROM zwb${w - 1}
           |  UNION
           |  SELECT b.qid, e.b AS node
           |  FROM zwb${w - 1} b JOIN zedges$NswRounds e ON e.a = b.node),
           |""".stripMargin)
      sb.append(beamCte(s"zwb$w", s"zwc$w") + ",\n")
    }
    sb.append(
      s"""zres AS (
         |  SELECT qid, node AS nb_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |  FROM zwb$NswWalk WHERE node <> qid),
         |zbrute AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT q.qid, e.vec_id AS nb_id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        list_dot_product(q.qe, e.embedding) DESC,
         |        e.vec_id) AS rn
         |    FROM zq q CROSS JOIN dcorpus e
         |    WHERE e.vec_id <> q.qid) t
         |  WHERE rn <= 3),
         |zhits AS (
         |  SELECT r.qid, CAST(COUNT(b.nb_id) AS INT) AS hits_at_3
         |  FROM zres r LEFT JOIN zbrute b
         |    ON b.qid = r.qid AND b.nb_id = r.nb_id
         |  WHERE r.rn <= 3
         |  GROUP BY r.qid)
         |SELECT r.qid, r.nb_id, CAST(r.rn AS INT) AS nb_rank,
         |  round(r.score, 4) AS score, h.hits_at_3,
         |  true AS rebuild_fired, true AS index_atomic
         |FROM zres r JOIN zhits h USING (qid)
         |WHERE r.rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin)
    sb.toString
  }

  /** The v20 oracle: the FULL REBUILD at fixed centroids — train on
    * the history split (the same unrolled chain as v8's, restricted
    * by WHERE), then assign EVERY vector (history ∪ batch) against
    * the final centroids with training's exact expression and
    * tie-break, then probe nprobe=2. Ivf.append's contract is that
    * its union (stored assignment + narrow batch assignment) equals
    * exactly this, so the hash match proves append ≡ rebuild. */
  /** The h-prefixed exact training chain on the history split plus
    * `allasg` (every vector assigned at the fixed final centroids) —
    * the WITH-body shared by [[ivfAppendOracle]] and ExtQ's x25
    * composed-pipeline oracle. History rows of `allasg` equal the
    * stored index's assignment (same expression, same centroids, same
    * tie-break), so `allasg` IS both snapshot versions of the vector
    * store: restricted to the history split it is v1, whole it is v2. */
  private[queries] lazy val appendAssignCtes: String =
    s"""${ivfTrainCtes("h", s"WHERE vec_id % $AppendSplitMod < $AppendHistMax")},
       |${assignAllCte("allasg", "embeddings", "h")}""".stripMargin

  private def ivfAppendOracle: String =
    s"""WITH $appendAssignCtes,
       |${ivfProbedCte("h")},
       |${candsCte("hprobed", "allasg", "embeddings")}
       |${topkTail("cands")}""".stripMargin

  /** The v12 oracle: BOTH exact training chains composed — IVF
    * buckets pick the candidate pairs (nprobe = 2), the PQ codes
    * price them (ADC). Prefixes keep the two chains' CTE names
    * disjoint; the scored stage is pqScoreCtes restricted to the
    * probed pairs. */
  private def ivfPqOracle: String =
    s"""WITH ${ivfTrainCtes("i")},
       |${pqTrainCtes("p")},
       |${ivfProbedCte("i")},
       |cand AS (
       |  SELECT pr.qid, a.vec_id
       |  FROM iprobed pr
       |  JOIN iasg$IvfIters a ON a.cluster_id = pr.cluster_id
       |  WHERE a.vec_id <> pr.qid),
       |${pqScoreCtes("p",
      "JOIN cand c ON c.vec_id = a.vec_id",
      " AND l.qid = c.qid")}
       |${pqTopSelect("p")}""".stripMargin

  /** Shared by the v4 entry and the v17 recall report. */
  private def v4Oracle: String =
    """SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank, round(raw, 4) AS score
      |FROM (
      |  SELECT q.vec_id AS qid, e.vec_id AS nb_id,
      |    list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS raw,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |               e.vec_id) AS rn
      |  FROM embeddings q, embeddings e
      |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) x
      |WHERE rn <= 3
      |ORDER BY qid, nb_rank""".stripMargin

  /** The v17 oracle: both published result sets as derived tables,
    * then the same per-qid hit counting. */
  private def recallOracle: String =
    s"""WITH bf AS (SELECT qid, nb_id FROM ($v4Oracle) t),
       |ann AS (SELECT qid, nb_id FROM ($lshOracle) t),
       |nb AS (SELECT qid, COUNT(*) AS n_bf FROM bf GROUP BY qid),
       |na AS (SELECT qid, COUNT(*) AS n_ann FROM ann GROUP BY qid),
       |h AS (SELECT bf.qid, COUNT(*) AS n_hits
       |      FROM bf JOIN ann ON bf.qid = ann.qid AND bf.nb_id = ann.nb_id
       |      GROUP BY bf.qid)
       |SELECT nb.qid, nb.n_bf,
       |  COALESCE(na.n_ann, 0) AS n_ann,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  round(COALESCE(h.n_hits, 0) * 1.0 / nb.n_bf, 4) AS recall
       |FROM nb LEFT JOIN na ON nb.qid = na.qid
       |LEFT JOIN h ON nb.qid = h.qid
       |ORDER BY nb.qid""".stripMargin

  /** v18 oracle: the same greedy, unrolled — step r picks the
    * argmax of 7·rel − 3·max(sim to sel(r−1)) among unpicked
    * candidates (ties → smallest vec_id), all in BIGINT deci-micro
    * units over the bit-exact list_dot_product cosines. */
  private def mmrOracle: String = {
    val lam = MmrLambdaX10
    val steps = (2 to MmrK).map { r =>
      s"""p$r AS (SELECT c.vec_id, c.rel_micro, MAX(s.sim_micro) AS ms
         |  FROM cand c JOIN sim s ON s.ai = c.vec_id
         |  WHERE s.bi IN (SELECT vec_id FROM sel${r - 1})
         |    AND c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  GROUP BY c.vec_id, c.rel_micro),
         |s$r AS (SELECT $r AS rank, vec_id,
         |    $lam * rel_micro - ${10 - lam} * ms AS mmr_deci
         |  FROM p$r ORDER BY mmr_deci DESC, vec_id LIMIT 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
       |           WHERE vec_id = 0),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |      WHERE vec_id <> 0),
       |cand AS (SELECT vec_id, emb,
       |    CAST(round(${cosSql("emb", "qe")} * 1e6) AS BIGINT) AS rel_micro
       |  FROM e, q ORDER BY rel_micro DESC, vec_id LIMIT $MmrM),
       |sim AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
       |    CAST(round(${cosSql("a.emb", "b.emb")} * 1e6) AS BIGINT) AS sim_micro
       |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
       |sel1 AS (SELECT 1 AS rank, vec_id, $lam * rel_micro AS mmr_deci
       |  FROM cand ORDER BY rel_micro DESC, vec_id LIMIT 1),
       |$steps
       |SELECT r.rank, r.vec_id, c.rel_micro, r.mmr_deci
       |FROM sel$MmrK r JOIN cand c USING (vec_id)
       |ORDER BY r.rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "v18_mmr_rerank" -> mmrOracle,
    "v17_recall_eval" -> recallOracle,
    "v10_knn_lsh" -> lshOracle,
    "v9_knn_pq" -> pqOracle,
    "v8_knn_ivf_probe2" -> ivfProbe2Oracle,

    // v29: the full tuning sweep replayed — brute-force truth, one
    // bucket-rank pass, per-nprobe top-3 slices, exact hit counts,
    // and the smallest-clearing-90% verdict as a window MIN.
    "v29_nprobe_tuning" -> {
      val anns = (1 to IvfClusters).map { np =>
        s"""ann$np AS (
  SELECT qid, nb_id FROM (
    SELECT b.qid, a.vec_id AS nb_id,
      row_number() OVER (PARTITION BY b.qid ORDER BY
        list_dot_product(b.qe, e.embedding::DOUBLE[]) DESC, a.vec_id) AS rn
    FROM bscore b
    JOIN asg$IvfIters a ON a.cluster_id = b.cluster_id
    JOIN embeddings e ON e.vec_id = a.vec_id
    WHERE b.brn <= $np AND a.vec_id <> b.qid) t
  WHERE rn <= 3)""" }.mkString(",\n")
      val evals = (1 to IvfClusters).map { np =>
        s"""SELECT CAST($np AS INT) AS nprobe,
  (SELECT COUNT(*) FROM bf JOIN ann$np USING (qid, nb_id)) AS n_hits,
  (SELECT COUNT(*) FROM bf) AS n_truth""" }.mkString("\nUNION ALL\n")
      s"""WITH ${ivfTrainCtes("")},
bf AS (
  SELECT qid, nb_id FROM (
    SELECT q.vec_id AS qid, e.vec_id AS nb_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
        e.vec_id) AS rn
    FROM embeddings q, embeddings e
    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t
  WHERE rn <= 3),
bscore AS (
  SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qe, c.cluster_id,
    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      list_dot_product(c.cvec, c.cvec)
        - 2 * list_dot_product(q.embedding::DOUBLE[], c.cvec),
      c.cluster_id) AS brn
  FROM embeddings q CROSS JOIN cent${IvfIters - 1} c
  WHERE q.vec_id < 5),
$anns
SELECT nprobe, n_hits, n_truth,
  nprobe = MIN(CASE WHEN n_hits * 10 >= n_truth * 9 THEN nprobe END)
    OVER () AS chosen
FROM ($evals)
ORDER BY nprobe"""
    },

    // v30: the graph index's whole life replayed — unrolled training,
    // block assignment, blocked init pairs, NN-descent rounds, entry
    // layer, beam-walk rounds, top-3, and the recall hits vs brute
    // force; one hash pins build, walk, and achieved recall.
    "v30_graph_ann" -> materializeCtes(nswOracle),
    "v38_hnsw_descent" -> materializeCtes(hnswOracle()),
    "v39_hnsw_persisted" -> materializeCtes(hnswOracle(
      ",\n  true AS layers_pure_function, true AS cold_equal")),
    "v31_graph_index_lifecycle" -> materializeCtes(nswLifecycleOracle),
    "v35_graph_drift_retrain" -> materializeCtes(graphRetrainOracle),

    // v36: the shared chain + the erasure — purge filter, blocked
    // local repair, entry re-election, post-purge walk at qid 5–9,
    // recall@3; entry_reelected derived on both sides.
    "v36_index_rtbf" -> materializeCtes(rtbfOracle),

    // v37: compaction serves the IDENTICAL rows, so v31's unrolled
    // lifecycle chain pins it verbatim — only the witness flags
    // change (walk equality, empty maintenance feed, 3→1 chain)
    "v37_graph_index_compaction" -> materializeCtes(nswLifecycleOracle
      .replace("true AS index_atomic, true AS cold_equal,",
        "true AS compaction_identical, true AS compaction_feed_empty,")
      .replace("true AS base_files_untouched", "true AS chain_shortened")),

    // v32: v30's shared graph chain + v9's PQ chain — the walk
    // re-priced on decoded codes, the final beam re-ranked exactly,
    // recall@3 in the hash.
    "v32_pq_graph_walk" -> materializeCtes(pqWalkOracle),

    // v33: the shared chain walked per beam setting; per-setting
    // recall + the cheapest-clearing-90% verdict (explicit largest-
    // serves fallback) replayed with a window MIN.
    "v33_beam_tuning" -> materializeCtes(beamTuningOracle),

    // v34: the shared chain at serving + over-fetched beams, post-
    // filtered and re-ranked; both legs' hits vs the filtered brute
    // force in the hash.
    "v34_filtered_graph_walk" -> materializeCtes(filteredWalkOracle),

    // v27: v8's chain with the label predicate in the candidate
    // stage — eligibility applies BEFORE ranking, both engines.
    "v27_filtered_knn" ->
      s"""WITH ${ivfTrainCtes("")},
         |${ivfProbedCte("")},
         |${candsCte("probed", s"asg$IvfIters", "embeddings", " AND e.label = 1")}
         |${topkTail("cands")}""".stripMargin,

    // v24: v8's unrolled-training twin — the persisted index must
    // serve exactly what the session-trained index serves (parquet
    // round-trips doubles bit-exactly) — plus the literal atomicity
    // flag (flips if the two index tables could land torn)
    "v24_index_persist" ->
      s"""WITH ${ivfTrainCtes("")},
         |${ivfProbedCte("")},
         |cands AS (
         |  SELECT p.qid, a.vec_id AS nb_id,
         |    list_dot_product(p.qe, e.embedding::DOUBLE[]) AS score
         |  FROM probed p
         |  JOIN asg$IvfIters a ON a.cluster_id = p.cluster_id
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank, round(score, 4) AS score,
         |  true AS index_atomic
         |FROM (SELECT qid, nb_id, score,
         |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, nb_id) AS rn
         |      FROM cands) x
         |WHERE rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin,
    "v20_ivf_append" -> ivfAppendOracle,

    // x108: subscribe→admit→commit must equal the full rebuild at
    // fixed centroids — v20's oracle with the chaining witness
    // (drained twice, replay folded nothing) as a pinned literal.
    "x108_cdf_index_pipeline" ->
      s"""WITH $appendAssignCtes,
         |${ivfProbedCte("h")},
         |${candsCte("hprobed", "allasg", "embeddings")}
         |${topkTail("cands", ", true AS chained_o_delta")}""".stripMargin,

    // v25: the unrolled append-assignment chain (v20's CTEs) counted
    // per cluster and side; shares/drift/verdict are integer
    // quotients both engines compute identically.
    "v25_index_drift" ->
      s"""WITH $appendAssignCtes,
         |c AS (
         |  SELECT cluster_id,
         |    CAST(SUM(CASE WHEN vec_id % $AppendSplitMod < $AppendHistMax
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hist,
         |    CAST(SUM(CASE WHEN vec_id % $AppendSplitMod < $AppendHistMax
         |                  THEN 0 ELSE 1 END) AS BIGINT) AS n_batch
         |  FROM allasg GROUP BY cluster_id),
         |tot AS (SELECT CAST(SUM(n_hist) AS BIGINT) AS nh,
         |               CAST(SUM(n_batch) AS BIGINT) AS nb FROM c),
         |sh AS (
         |  SELECT cluster_id, n_hist, n_batch,
         |    CAST((n_hist * 256) // nh AS INT) AS share_hist_256,
         |    CAST((n_batch * 256) // nb AS INT) AS share_batch_256,
         |    CAST(ABS((n_hist * 256) // nh - (n_batch * 256) // nb) AS INT)
         |      AS drift_256
         |  FROM c CROSS JOIN tot)
         |SELECT CAST(cluster_id AS INT) AS cluster_id, n_hist, n_batch,
         |  share_hist_256, share_batch_256, drift_256,
         |  (SELECT MAX(drift_256) FROM sh) > $DriftMax256 AS rebuild
         |FROM sh ORDER BY cluster_id""".stripMargin,

    // v26: the whole retrain loop replayed — drifted corpus CTE
    // (hist raw ∪ batch collapsed by x·0.1+3.0, double math both
    // engines share), gen-2 training unrolled over it, the resumed
    // append's rows assigned at the final centroids, nprobe-2 probe
    // over the union; rebuild_fired/index_atomic as pinned verdicts.
    "v26_retrain_loop" ->
      s"""WITH dcorpus AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
         |  WHERE vec_id % $AppendSplitMod < $AppendHistMax
         |  UNION ALL
         |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x * 0.1 + 3.0)
         |  FROM embeddings WHERE vec_id % $AppendSplitMod >= $AppendHistMax),
         |rcorpus AS (
         |  SELECT * FROM dcorpus
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 0.5)
         |  FROM embeddings WHERE vec_id < 2),
         |${ivfTrainCtes("r", src = "dcorpus")},
         |${assignAllCte("allasg", "rcorpus", "r")},
         |${ivfProbedCte("r")},
         |${candsCte("rprobed", "allasg", "rcorpus")}
         |${topkTail("cands", ", TRUE AS rebuild_fired, TRUE AS index_atomic")}""".stripMargin,

    "v12_knn_ivfpq" -> ivfPqOracle,

    // v28: v12's composed chain with a 10-deep ADC shortlist CTE,
    // then the exact full-width re-rank of just those rows — both
    // stages' tie-breaks identical to the engine's.
    "v28_pq_refine" ->
      s"""WITH ${ivfTrainCtes("i")},
         |${pqTrainCtes("p")},
         |${ivfProbedCte("i")},
         |cand AS (
         |  SELECT pr.qid, a.vec_id
         |  FROM iprobed pr
         |  JOIN iasg$IvfIters a ON a.cluster_id = pr.cluster_id
         |  WHERE a.vec_id <> pr.qid),
         |${pqScoreCtes("p",
        "JOIN cand c ON c.vec_id = a.vec_id",
        " AND l.qid = c.qid")},
         |shortlist AS (
         |  SELECT qid, nb_id FROM (
         |    SELECT qid, nb_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nb_id) AS rn
         |    FROM pscored) t
         |  WHERE rn <= $RefineR),
         |refined AS (
         |  SELECT sl.qid, sl.nb_id,
         |    list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS score
         |  FROM shortlist sl
         |  JOIN embeddings q ON q.vec_id = sl.qid
         |  JOIN embeddings e ON e.vec_id = sl.nb_id)
         |${topkTail("refined")}""".stripMargin,

    // Sq.encode + Sq.score term for term: max|x|/127 scale,
    // floor(x/s + 0.5) codes (floor, not round — round's half-case
    // tie-breaking differs across engines), score = s·<q,codes>.
    "v11_knn_sq8" ->
      """WITH s1 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |enc AS (
        |  SELECT vec_id, scale,
        |    list_transform(v, x -> CAST(floor(
        |      x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5) AS INT)) AS codes
        |  FROM s1),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |      FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS nb_id,
        |    e.scale * list_dot_product(q.qe,
        |      list_transform(e.codes, c -> c::DOUBLE)) AS score
        |  FROM enc e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank, round(score, 4) AS score
        |FROM (SELECT qid, nb_id, score,
        |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, nb_id) AS rn
        |      FROM scored) x
        |WHERE rn <= 3
        |ORDER BY qid, nb_rank""".stripMargin,
    "v1_cosine_topk" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, round(${cosSql("emb", "qe")}, 4) AS score
         |FROM e, q
         |ORDER BY ${cosSql("emb", "qe")} DESC, vec_id
         |LIMIT 10""".stripMargin,

    // v23: the lexical CTEs replay t10's BM25 (same round(4)-grid
    // stability argument), the vector CTE replays v1's bit-identical
    // cosine fold; ranks are row_numbers over those proven-stable
    // orderings and the fused score is all-integer — no new float
    // tolerance is introduced by the fusion itself
    "v23_hybrid_rrf" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl,
         |    string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, lower(unnest(w)) AS term FROM base),
         |qt AS (
         |  SELECT doc_id, term FROM toks
         |  WHERE term IN (${graft.queries.TextQ.BmQueryTerms.map(t => s"'$t'").mkString(", ")})),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs,
         |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM base),
         |contrib AS (
         |  SELECT tf.doc_id,
         |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * base.dl / st.avgdl)) AS c
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN base USING (doc_id)
         |  CROSS JOIN st),
         |bm AS (SELECT doc_id, round(SUM(c), 4) AS bm25
         |       FROM contrib GROUP BY doc_id),
         |lex_top AS (
         |  SELECT doc_id, bm25 FROM bm WHERE doc_id <> 0
         |  ORDER BY bm25 DESC, doc_id LIMIT $RrfLegDepth),
         |lex AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
         |  FROM lex_top),
         |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
         |      FROM embeddings WHERE vec_id <> 0),
         |vec_top AS (
         |  SELECT vec_id AS doc_id, ${cosSql("emb", "qe")} AS raw
         |  FROM e, q
         |  ORDER BY raw DESC, doc_id LIMIT $RrfLegDepth),
         |vec AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY raw DESC, doc_id) AS INT) AS rank_vec
         |  FROM vec_top)
         |SELECT doc_id,
         |  CAST(COALESCE(rank_lex, 0) AS INT) AS rank_lex,
         |  CAST(COALESCE(rank_vec, 0) AS INT) AS rank_vec,
         |  COALESCE(CAST(FLOOR($RrfMicro.0 / ($RrfK + rank_lex)) AS BIGINT), 0)
         |    + COALESCE(CAST(FLOOR($RrfMicro.0 / ($RrfK + rank_vec)) AS BIGINT), 0)
         |    AS rrf_micro
         |FROM lex FULL OUTER JOIN vec USING (doc_id)
         |ORDER BY rrf_micro DESC, doc_id
         |LIMIT 10""".stripMargin,

    // identical fold order on both engines makes the >= boundary
    // decision deterministic (same property v1's ORDER BY uses)
    "v19_radius_search" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, round(${cosSql("emb", "qe")}, 4) AS score
         |FROM e, q
         |WHERE ${cosSql("emb", "qe")} >= $RadiusTau
         |ORDER BY vec_id""".stripMargin,

    "v2_vector_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm,
        |  len(embedding) AS dim
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    "v3_json_roundtrip" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 4) AS self_dot
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    "v4_knn_bruteforce" -> v4Oracle,

    // v22: exact pre-filter top-k stated directly; the post-filter
    // survivor count replays the global top-(k·overfetch) then the
    // predicate — both over the same bit-exact dot products as v4
    "v22_filtered_topk" ->
      s"""WITH pre AS (
         |  SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank,
         |    round(raw, 4) AS score
         |  FROM (
         |    SELECT q.vec_id AS qid, e.vec_id AS nb_id,
         |      list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS raw,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
         |                 e.vec_id) AS rn
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
         |      AND e.label = $V22Label) x
         |  WHERE rn <= 3),
         |post AS (
         |  SELECT qid, COUNT(*) AS n_postfilter FROM (
         |    SELECT q.vec_id AS qid, e.label,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
         |                 e.vec_id) AS rn
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) x
         |  WHERE rn <= ${3 * V22Overfetch} AND label = $V22Label
         |  GROUP BY qid)
         |SELECT p.qid, p.nb_id, p.nb_rank, p.score,
         |  COALESCE(post.n_postfilter, 0) AS n_postfilter
         |FROM pre p LEFT JOIN post ON p.qid = post.qid
         |ORDER BY p.qid, p.nb_rank""".stripMargin,

    "v5_knn_ivf" ->
      """WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, dim,
        |    CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS cv
        |  FROM dims GROUP BY label, dim),
        |cvecs AS (
        |  SELECT label AS clabel, array_agg(cv ORDER BY dim) AS cvec
        |  FROM cent GROUP BY label),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |      FROM embeddings WHERE vec_id < 5),
        |assigned AS (
        |  SELECT qid, qe, clabel FROM (
        |    SELECT qid, qe, clabel,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY list_dot_product(qe, cvec) DESC, clabel) AS crn
        |    FROM q, cvecs) x
        |  WHERE crn = 1),
        |ranked AS (
        |  SELECT a.qid, a.clabel AS probe_label, e.vec_id AS nb_id,
        |    list_dot_product(a.qe, e.embedding::DOUBLE[]) AS raw,
        |    row_number() OVER (PARTITION BY a.qid
        |      ORDER BY list_dot_product(a.qe, e.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS rn
        |  FROM assigned a JOIN embeddings e
        |    ON e.label = a.clabel AND e.vec_id <> a.qid)
        |SELECT qid, probe_label, nb_id, CAST(rn AS INT) AS nb_rank,
        |  round(raw, 4) AS score
        |FROM ranked
        |WHERE rn <= 3
        |ORDER BY qid, nb_rank""".stripMargin,

    // v7: nprobe = k probes every bucket, so the learned index must
    // return EXACTLY the brute-force k-NN — the oracle is the same
    // window query as v4's, grading the whole train/assign/probe path
    // by the hard hash signal. (v8, nprobe = 2, is approximate by
    // design: rows-only.)
    "v7_knn_ivf_learned" ->
      """SELECT qid, nb_id, CAST(rn AS INT) AS nb_rank, round(raw, 4) AS score
        |FROM (
        |  SELECT q.vec_id AS qid, e.vec_id AS nb_id,
        |    list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS raw,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
        |               e.vec_id) AS rn
        |  FROM embeddings q, embeddings e
        |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) x
        |WHERE rn <= 3
        |ORDER BY qid, nb_rank""".stripMargin,

    // the decimal-sum mean must be bit-identical to the engine's
    "v13_label_centroid" ->
      """WITH dims AS (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings)
        |SELECT label, dim,
        |  round(CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 6) AS cv,
        |  COUNT(*) AS n_vecs
        |FROM dims
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    // decimal-exact Σx and Σx² replay the engine's stats bit for bit;
    // the z math is then pure double arithmetic on identical inputs
    "v15_standardize" ->
      s"""WITH dims AS (
         |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |         unnest(embedding)::DOUBLE AS x
         |  FROM embeddings),
         |stats AS (
         |  SELECT dim,
         |    CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mu,
         |    CAST(SUM(CAST(x * x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS ex2
         |  FROM dims GROUP BY dim)
         |SELECT d.vec_id, d.dim,
         |  round(s.mu, 6) AS mu,
         |  round(sqrt(s.ex2 - s.mu * s.mu), 6) AS sigma,
         |  round((d.x - s.mu) / sqrt(s.ex2 - s.mu * s.mu), 4) AS z
         |FROM dims d JOIN stats s USING (dim)
         |WHERE d.vec_id < $ZsampleIds
         |ORDER BY d.vec_id, d.dim""".stripMargin,

    // both stages replay in SQL: truncated-dim prefilter window,
    // shortlist cut, exact full-dim rerank window
    "v16_knn_truncated" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings
         |  WHERE vec_id < 5),
         |pre AS (
         |  SELECT q.qid, e.vec_id,
         |    list_dot_product(q.embedding[1:$PrefDims]::DOUBLE[],
         |      e.embedding[1:$PrefDims]::DOUBLE[]) AS pre,
         |    q.embedding AS qe, e.embedding AS ee,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_dot_product(q.embedding[1:$PrefDims]::DOUBLE[],
         |        e.embedding[1:$PrefDims]::DOUBLE[]) DESC, e.vec_id) AS prn
         |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
         |short AS (SELECT * FROM pre WHERE prn <= $ShortK),
         |rer AS (
         |  SELECT qid, vec_id, pre,
         |    list_dot_product(qe::DOUBLE[], ee::DOUBLE[]) AS raw,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY list_dot_product(qe::DOUBLE[], ee::DOUBLE[]) DESC,
         |      vec_id) AS rn
         |  FROM short)
         |SELECT qid, vec_id AS nb_id, CAST(rn AS INT) AS nb_rank,
         |  round(pre, 4) AS pre_score, round(raw, 4) AS score
         |FROM rer WHERE rn <= 3
         |ORDER BY qid, nb_rank""".stripMargin
  )
}
