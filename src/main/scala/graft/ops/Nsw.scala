package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Lineage.CutOps

/** GRAPH-BASED ANN (NSW/HNSW-class, v30) — the production index
  * family FAISS/vector-DB deployments increasingly default to,
  * re-expressed as bounded DataFrame joins:
  *
  *  - BUILD ([[build]]): a deterministic k-NN-descent. Candidate
  *    generation is CLUSTER-BLOCKED (each vector is block-assigned to
  *    its [[blocks]] nearest trained IVF centroids, pairs form only
  *    inside shared blocks — v21's blocked self-join, never n²), the
  *    initial graph keeps each node's `m` best block-mates, then each
  *    descent round offers neighbors-of-neighbors as candidates and
  *    re-keeps the best `m` (Dong et al., "Efficient K-Nearest
  *    Neighbor Graph Construction" — the NN-descent idea with a fixed
  *    round budget so the whole build unrolls into oracle SQL).
  *    Rank order is (score DESC, id) everywhere, so the build is
  *    bit-deterministic given deterministic centroids.
  *  - SEARCH ([[search]]): a beam walk. Entry layer = one fixed node
  *    per coarse cluster (min id — metadata-sized, broadcast); each
  *    round expands the beam's out-edges, scores ONLY the touched
  *    candidates, and keeps the best `beam`; after `walkRounds`
  *    rounds the top-k of the final beam is served.
  *
  * 100 TB shape: the adjacency is m·N rows co-partitioned by source
  * node; a search round is beam-sized-lookup ⋈ adjacency + candidate
  * scoring bounded by beam·m per query per round — no corpus scan,
  * no all-pairs, and the entry layer rides broadcast. Build cost is
  * the blocked pair join (rel. block sizes) + `rounds` bounded-degree
  * self-joins, each cut from lineage ([[Lineage]] policy, so the
  * fault-tolerant variant is one conf away).
  */
object Nsw {

  /** Dedup candidate pairs with ONE exchange instead of two: a plain
    * `.distinct()` exchanges by (a, b) and the top-m re-keep that
    * always follows exchanges again by (a). Repartitioning by `a`
    * first satisfies BOTH requirements — hash(a) clusters (a, b) for
    * the dedup aggregate and `a` for TopKPerKey — so EnsureRequirements
    * inserts no further shuffle (guide rule: operations keyed the same
    * way share one exchange). Output rows identical to
    * `pairs.distinct()`. */
  private def distinctPairsByA(pairs: DataFrame): DataFrame =
    pairs.repartition(col("a")).dropDuplicates(Seq("a", "b"))

  /** [[distinctPairsByA]] for the walk loop: dedup (qid, node)
    * candidates AND satisfy the top-B re-keep's clustering with one
    * exchange. A plain `.distinct()` exchanges by (qid, node) and
    * TopKPerKey exchanges again by (qid); hash(qid) clusters both.
    * Output rows identical to `cands.distinct()`. */
  private def distinctCandsByQ(cands: DataFrame): DataFrame =
    cands.repartition(col("qid")).dropDuplicates(Seq("qid", "node"))

  /** The same one-exchange dedup for a scored edge union (the repair
    * paths): hash(a) satisfies the (a, b, score) dedup and the top-m
    * re-keep's clustering on `a`. Rows identical to `.distinct()`. */
  private def distinctEdgesByA(edges: DataFrame): DataFrame =
    edges.repartition(col("a")).dropDuplicates(Seq("a", "b", "score"))

  /** Each vector's `blocks` nearest centroids (rank by the
    * within-vector rank-neutral |c|² − 2·v·c, cluster_id tie-break —
    * Ivf.probe's expression). Output: (idCol, cluster_id), `blocks`
    * rows per vector. */
  def blockAssign(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, blocks: Int): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val scored = v.crossJoin(broadcast(centroids))
      .withColumn("_cd",
        VectorOps.dot(col("cvec"), col("cvec")) -
          lit(2.0) * VectorOps.dot(col("_v"), col("cvec")))
    graft.plans.TopK.perKey(scored, Seq(idCol),
        Seq(col("_cd"), col("cluster_id")), blocks)
      .select(col(idCol), col("cluster_id"))
  }

  /** Deterministic NN-descent build. Returns the directed adjacency
    * (a, b, score): `m` out-edges per node by dot-product score. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, blocks: Int, m: Int,
            rounds: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("_nid"),
      col(vecCol).cast("array<double>").as("_nvec"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("_nid").as("a"), col("_nvec").as("_va")), "a")
      .join(v.select(col("_nid").as("b"), col("_nvec").as("_vb")), "b")
      .withColumn("score", VectorOps.dot(col("_va"), col("_vb")))
      .select(col("a"), col("b"), col("score"))
    def topM(sc: DataFrame): DataFrame =
      graft.plans.TopK.perKey(sc, Seq("a"),
        Seq(col("score").desc, col("b")), m)
    val asg = blockAssign(vectors, idCol, vecCol, centroids, blocks)
    // block-mate pairs: only inside shared blocks, DISTINCT because
    // two vectors can share both blocks
    val pairs = distinctPairsByA(
      asg.select(col(idCol).as("a"), col("cluster_id"))
        .join(asg.select(col(idCol).as("b"), col("cluster_id")), "cluster_id")
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b")))
    var edges = topM(scored(pairs)).cutLineage(true)
    for (_ <- 1 to rounds) {
      // candidates = current edges ∪ 2-hop reachability (dedup'd) —
      // degree-bounded: ≤ m + m² rows per node before the re-keep
      val twoHop = edges.select(col("a"), col("b").as("_mid"))
        .join(edges.select(col("a").as("_mid"), col("b")), "_mid")
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"))
      val cands = distinctPairsByA(
        edges.select(col("a"), col("b")).unionByName(twoHop))
      edges = topM(scored(cands)).cutLineage(true)
    }
    edges
  }

  /** INCREMENTAL INSERT BY BLOCKED LOCAL REPAIR (v31 — v20's analogue
    * for the graph index): admit `newIds`' vectors WITHOUT a rebuild.
    * All vectors are block-assigned at the FROZEN centroids (the
    * batch's assignment is the only new model work — narrow, like
    * Ivf.append); candidate pairs form ONLY where a batch vector
    * shares a block ((new × block-mates) both directions — never
    * old × old, so untouched neighborhoods are never recomputed);
    * the TOUCHED nodes (every pair endpoint `a`) re-keep their best
    * `m` over old-edges ∪ new-pair scores, every other node's edges
    * pass through UNCHANGED. Equivalent HNSW move: insert = local
    * search + neighborhood re-link; here the "local" is the coarse
    * block, which keeps the whole repair one bounded join. Cost:
    * |batch| · block-mates scored pairs + one per-touched-node
    * re-keep — corpus-independent for a fixed batch and block size.
    * Returns the repair in storage-commit shape: `delta` (the
    * re-kept edges of touched ∪ new nodes — the append's rows),
    * `touched` (exactly the deletion-vector key set of a
    * merge-on-read commit), and `adjacency` (untouched ∪ delta — the
    * full repaired graph, equal to what DV+append resolution
    * serves). */
  final case class Repair(delta: DataFrame, touched: DataFrame,
                          adjacency: DataFrame)

  def insert(edges: DataFrame, vectors: DataFrame, idCol: String,
             vecCol: String, centroids: DataFrame, blocks: Int, m: Int,
             newIds: DataFrame): Repair = {
    val v = vectors.select(col(idCol).as("_nid"),
      col(vecCol).cast("array<double>").as("_nvec"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("_nid").as("a"), col("_nvec").as("_va")), "a")
      .join(v.select(col("_nid").as("b"), col("_nvec").as("_vb")), "b")
      .withColumn("score", VectorOps.dot(col("_va"), col("_vb")))
      .select(col("a"), col("b"), col("score"))
    val asg = blockAssign(vectors, idCol, vecCol, centroids, blocks)
    val nid = newIds.select(col(idCol).as("_bid")).distinct()
    val newAsg = asg.join(nid, asg(idCol) === nid("_bid"), "left_semi")
    val x = asg.select(col(idCol).as("a"), col("cluster_id"))
    val y = asg.select(col(idCol).as("b"), col("cluster_id"))
    val nx = newAsg.select(col(idCol).as("a"), col("cluster_id"))
    val ny = newAsg.select(col(idCol).as("b"), col("cluster_id"))
    // pairs with a batch endpoint only — the locality guarantee.
    // Cut eagerly: BOTH the touched-key cut and the repaired-edge cut
    // below consume this chain (which embeds the full-corpus block
    // assignment), and without the cut each re-evaluates it — the
    // materialization is |batch|·block-mates rows, the repair's own
    // declared cost bound
    val bpairs = distinctPairsByA(
      nx.join(y, "cluster_id").select(col("a"), col("b"))
        .unionByName(x.join(ny, "cluster_id").select(col("a"), col("b")))
        .filter(col("a") =!= col("b"))).cutLineage(true)
    // cut: touched and the repaired edges each feed several consumers
    // (DV keys, the append delta, the in-memory adjacency, witnesses)
    // — without a cut every consumer re-runs the blocked pair scoring
    val touched = bpairs.select(col("a")).distinct().cutLineage(true)
    val oldTouched = edges.join(touched, Seq("a"), "left_semi")
      .select(col("a"), col("b"), col("score"))
    // distinct: an old edge re-offered as a new pair scores to the
    // same IEEE dot, so the union dedups exactly
    val repaired = graft.plans.TopK.perKey(
      distinctEdgesByA(scored(bpairs).unionByName(oldTouched)),
      Seq("a"), Seq(col("score").desc, col("b")), m).cutLineage(true)
    val untouched = edges.join(touched, Seq("a"), "left_anti")
      .select(col("a"), col("b"), col("score"))
    val delta = repaired.select(col("a"), col("b"), col("score"))
    Repair(delta, touched, untouched.unionByName(delta))
  }

  /** RTBF LOCAL REPAIR (v36 — [[insert]]'s inverse): erase `purged`
    * ids from the adjacency WITHOUT a rebuild. Purged nodes lose
    * their rows outright; surviving nodes that held a purged id in
    * their neighbor list (the TOUCHED set — erasure must reach
    * neighbor lists, not just source rows, or the purged id survives
    * as an edge endpoint on other rows) re-keep their best `m` over
    * (their remaining old edges ∪ fresh block-mate candidates from
    * the POST-purge corpus at the frozen centroids); every other
    * node's edges pass through untouched. The re-link candidates
    * restore degree where block-mates suffice, so recall survives
    * the erasure (the v36 query pins recall@3 after repair).
    *
    * Deterministic given centroids (rank by score DESC, id — the
    * build's order), so the whole repair unrolls into oracle SQL.
    * Cost: |touched| · block-mates scored pairs + one per-touched
    * re-keep — corpus-independent for a fixed purge batch, exactly
    * [[insert]]'s bound. Returns [[Repair]] in storage-commit shape:
    * `touched` here is touched ∪ purged (the full DV key set — both
    * replaced and erased rows must leave the resolved head). */
  def purgeRepair(edges: DataFrame, vectors: DataFrame, idCol: String,
                  vecCol: String, centroids: DataFrame, blocks: Int,
                  m: Int, purged: DataFrame): Repair = {
    val v = vectors.select(col(idCol).as("_nid"),
      col(vecCol).cast("array<double>").as("_nvec"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("_nid").as("a"), col("_nvec").as("_va")), "a")
      .join(v.select(col("_nid").as("b"), col("_nvec").as("_vb")), "b")
      .withColumn("score", VectorOps.dot(col("_va"), col("_vb")))
      .select(col("a"), col("b"), col("score"))
    val p = purged.select(col(idCol).as("_pid")).distinct().cutLineage(true)
    // survivors' rows, split on whether a purged id sits in the list
    val alive = edges.join(p, edges("a") === p("_pid"), "left_anti")
      .select(col("a"), col("b"), col("score"))
    val touched = alive.join(p, alive("b") === p("_pid"), "left_semi")
      .select(col("a")).distinct().cutLineage(true)
    val kept = alive.join(p, alive("b") === p("_pid"), "left_anti")
      .select(col("a"), col("b"), col("score"))
    val keptTouched = kept.join(touched, Seq("a"), "left_semi")
    // re-link: touched × their post-purge block-mates (frozen
    // centroids — no retrain), never old × old
    val asg = blockAssign(vectors, idCol, vecCol, centroids, blocks)
    val ta = asg.join(touched, asg(idCol) === touched("a"), "left_semi")
      .select(col(idCol).as("a"), col("cluster_id"))
    val mates = asg.select(col(idCol).as("b"), col("cluster_id"))
    val tpairs = distinctPairsByA(
      ta.join(mates, "cluster_id")
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b")))
    // distinct: a kept edge re-offered as a block pair rescores to
    // the same IEEE dot, so the union dedups exactly (insert's rule)
    val repaired = graft.plans.TopK.perKey(
      distinctEdgesByA(scored(tpairs).unionByName(keptTouched)),
      Seq("a"), Seq(col("score").desc, col("b")), m).cutLineage(true)
    val untouched = kept.join(touched, Seq("a"), "left_anti")
    val delta = repaired.select(col("a"), col("b"), col("score"))
    val dvKeys = touched.unionByName(p.select(col("_pid").as("a"))).distinct()
    Repair(delta, dvKeys, untouched.unionByName(delta))
  }

  /** Entry layer: one fixed node per coarse cluster (min id) from the
    * index's rank-1 assignment — metadata-sized. */
  def entries(assigned: DataFrame, idCol: String): DataFrame =
    assigned.groupBy(col("cluster_id"))
      .agg(min(col(idCol)).as("node"))
      .select(col("node"))

  /** Deterministic HNSW LEVEL (v38): the count of trailing 4-adic
    * zeros of hash60("nswlvl|" + id), capped at `maxLevel` — layer ℓ
    * (every node with level ≥ ℓ) holds an EXPECTED 4^-ℓ of the
    * corpus, HNSW's geometric layer sizes with the RNG replaced by a
    * hash: the hierarchy is a pure function of the ids (stable
    * across inserts — a batch lands at its own hash levels, no
    * relabeling), and the whole assignment replays in oracle SQL
    * (the md5-prefix hash60 twin). */
  def levelOf(id: org.apache.spark.sql.Column,
              maxLevel: Int): org.apache.spark.sql.Column = {
    val h = TextFns.hash60(concat(lit("nswlvl|"), id.cast("string")))
    var out = when(h % lit(math.pow(4, maxLevel).toLong) === 0, lit(maxLevel))
    for (l <- maxLevel - 1 to 1 by -1)
      out = out.when(h % lit(math.pow(4, l).toLong) === 0, lit(l))
    out.otherwise(lit(0)).cast("int")
  }

  /** LAYERED BUILD (v38 — the HNSW hierarchy over [[build]]'s flat
    * NSW): index ℓ of the returned Seq is layer ℓ's adjacency.
    * Layer 0 is the full-corpus graph; each upper layer runs the
    * SAME cluster-blocked NN-descent over only its level-≥ℓ members
    * (expected 4^-ℓ of the corpus — the blocked pair join shrinks
    * quadratically with the layer) at `upperRounds` descent rounds
    * (small graphs converge in fewer). Still never n², still
    * bit-deterministic, still unrollable into oracle SQL. */
  def buildLayers(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, blocks: Int, m: Int, rounds: Int,
                  maxLevel: Int, upperRounds: Int): Seq[DataFrame] =
    build(vectors, idCol, vecCol, centroids, blocks, m, rounds) +:
      (1 to maxLevel).map { l =>
        build(vectors.filter(levelOf(col(idCol), maxLevel) >= l),
          idCol, vecCol, centroids, blocks, m, upperRounds)
      }

  /** One beam walk from an explicit SEED set — the layered search's
    * shared inner loop. Returns (final beam, touched candidates).
    *
    * The beam is lineage-CUT every round (the [[Lineage]] policy —
    * k11's iterative discipline applied to the walk): without the
    * cut, round r's plan nests every earlier round (the beam feeds
    * both the expansion and the candidate union, so the tree doubles
    * per round), and the driver pays re-optimization plus a FRESH
    * whole-stage-codegen compile for every adaptive stage of every
    * round — measured 9.2–11.9 s per v38 descent at sf0.1 vs
    * 2.8–3.8 s with the cut, with task time unchanged (~2 s): the
    * difference is pure driver/plan overhead. With the cut each
    * round's plan is the SAME constant shape over a beam-sized
    * materialization, so codegen caches hit and planning cost stays
    * flat in the round count — at any corpus size the cut
    * materializes only beam·queries rows. */
  private def walkBeam(edges: DataFrame, v: DataFrame, q: DataFrame,
                       seed: DataFrame, beam: Int, rounds: Int)
      : (DataFrame, DataFrame) = {
    def scored(cands: DataFrame): DataFrame = cands
      .join(v, "node").join(q, "qid")
      .withColumn("score", VectorOps.dot(col("_q"), col("_nvec")))
      .select(col("qid"), col("node"), col("score"))
    def topB(sc: DataFrame, k: Int): DataFrame =
      graft.plans.TopK.perKey(sc, Seq("qid"),
        Seq(col("score").desc, col("node")), k)
    var touched = distinctCandsByQ(seed)
    var bm = topB(scored(touched), beam).cutLineage(true)
    for (_ <- 1 to rounds) {
      val expand = bm.select(col("qid"), col("node").as("a"))
        .join(edges.select(col("a"), col("b")), "a")
        .select(col("qid"), col("b").as("node"))
      val cands = distinctCandsByQ(bm.select(col("qid"), col("node"))
        .unionByName(expand))
      touched = touched.unionByName(cands).distinct()
      bm = topB(scored(cands), beam).cutLineage(true)
    }
    (bm, touched)
  }

  /** GREEDY-DESCENT SEARCH over the layer hierarchy (v38 — replaces
    * [[entries]]' per-cluster entry table): the walk starts at the
    * TOP layer's min-id node, runs a narrow walk (`upperBeam`,
    * `upperWalk` rounds) over each upper layer in turn — each
    * layer's final beam SEEDS the next layer down — and only layer 0
    * runs the full (`beam`, `walkRounds`) walk. Each seed set also
    * carries that layer's min-id guard node, so an upper layer the
    * hash left empty degrades gracefully (the guard of the next
    * layer takes over) instead of stranding the walk — determinism
    * and totality at every corpus size.
    *
    * Why this beats the flat entry table at scale: per-cluster
    * entries sit a corpus-dependent distance from a query's true
    * neighborhood, and the flat walk pays that distance in rounds at
    * FULL beam width over the FULL adjacency. The descent covers
    * that distance on upper layers whose expected size shrinks 4×
    * per level — long hops over tiny graphs at narrow beam — and
    * hands layer 0 a seed already near the target, exactly HNSW's
    * log-scaling argument. Touched-candidate bound: Σ per-layer
    * (seed + rounds·beam·(m+1)) per query — NswSpec pins it. */
  def searchLayered(layers: Seq[DataFrame], vectors: DataFrame,
                    idCol: String, vecCol: String, queries: DataFrame,
                    upperBeam: Int, upperWalk: Int, beam: Int,
                    walkRounds: Int, topK: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val (bm, _) = descend(layers, vectors, idCol, vecCol, queries,
      upperBeam, upperWalk, beam, walkRounds)
    val res = graft.plans.TopK.perKey(
      if (excludeSelf) bm.filter(col("node") =!= col("qid")) else bm,
      Seq("qid"), Seq(col("score").desc, col("node")), topK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("node"))
    res.withColumn("nb_rank", row_number().over(w))
      .select(col("qid"), col("node").as("nb_id"), col("nb_rank"), col("score"))
  }

  /** The DISTINCT (qid, node) candidates a whole DESCENT scores
    * across every layer — [[searchCandidateCount]]'s layered twin,
    * the bound NswSpec pins. */
  def searchLayeredCandidateCount(layers: Seq[DataFrame], vectors: DataFrame,
                                  idCol: String, vecCol: String,
                                  queries: DataFrame, upperBeam: Int,
                                  upperWalk: Int, beam: Int,
                                  walkRounds: Int): Long = {
    val (_, touched) = descend(layers, vectors, idCol, vecCol, queries,
      upperBeam, upperWalk, beam, walkRounds)
    touched.count()
  }

  /** The shared descent: upper layers top-down at (upperBeam,
    * upperWalk), layer 0 at (beam, walkRounds). Returns (final layer-0
    * beam, all touched (qid,node) pairs distinct). */
  private def descend(layers: Seq[DataFrame], vectors: DataFrame,
                      idCol: String, vecCol: String, queries: DataFrame,
                      upperBeam: Int, upperWalk: Int, beam: Int,
                      walkRounds: Int): (DataFrame, DataFrame) = {
    val maxLevel = layers.size - 1
    val v = vectors.select(col(idCol).as("node"),
      col(vecCol).cast("array<double>").as("_nvec"))
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    val lvl = vectors.select(col(idCol),
      levelOf(col(idCol), maxLevel).as("_lvl"))
    def guard(l: Int): DataFrame = {
      val g =
        if (l == 0) vectors.agg(min(col(idCol)).as("node"))
        else lvl.filter(col("_lvl") >= l).agg(min(col(idCol)).as("node"))
      q.select(col("qid"))
        .crossJoin(broadcast(g.filter(col("node").isNotNull)))
    }
    var bm = q.select(col("qid"), lit(null).cast(
      v.schema("node").dataType).as("node")).limit(0)
    var touched = bm
    for (l <- maxLevel to 1 by -1) {
      val seed = bm.select(col("qid"), col("node")).unionByName(guard(l))
      val (b2, t2) = walkBeam(layers(l), v, q, seed, upperBeam, upperWalk)
      bm = b2.select(col("qid"), col("node"))
      touched = touched.unionByName(t2.select(col("qid"), col("node")))
    }
    val seed0 = bm.unionByName(guard(0))
    val (b0, t0) = walkBeam(layers(0), v, q, seed0, beam, walkRounds)
    (b0, touched.unionByName(t0.select(col("qid"), col("node"))).distinct())
  }

  /** Beam-walk search over the adjacency. Queries: (qid, qvec).
    * Output: (qid, nb_id, nb_rank, score) — top-k by dot product of
    * the final beam. Only touched candidates are ever scored (beam·m
    * per query per round, never a corpus scan).
    *
    * `excludeSelf` (default true) drops the node whose id EQUALS the
    * query's qid — correct only when qids live in the corpus vec_id
    * space (the self-recall shape: querying the index with its own
    * members). For EXTERNAL queries it must be false: qids are then
    * an unrelated id space, and a numeric collision with a corpus
    * node id would silently drop that node from the top-k. */
  def search(edges: DataFrame, vectors: DataFrame, idCol: String,
             vecCol: String, entryNodes: DataFrame, queries: DataFrame,
             beam: Int, walkRounds: Int, topK: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val v = vectors.select(col(idCol).as("node"),
      col(vecCol).cast("array<double>").as("_nvec"))
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    def scored(cands: DataFrame): DataFrame = cands
      .join(v, "node").join(q, "qid")
      .withColumn("score", VectorOps.dot(col("_q"), col("_nvec")))
      .select(col("qid"), col("node"), col("score"))
    def topB(sc: DataFrame, k: Int): DataFrame =
      graft.plans.TopK.perKey(sc, Seq("qid"),
        Seq(col("score").desc, col("node")), k)
    // per-round lineage cut: walkBeam's discipline (see its scaladoc)
    // — constant plan shape per round, beam·queries rows materialized
    var bm = topB(scored(q.select(col("qid"))
      .crossJoin(broadcast(entryNodes))), beam).cutLineage(true)
    for (_ <- 1 to walkRounds) {
      val expand = bm.select(col("qid"), col("node").as("a"))
        .join(edges.select(col("a"), col("b")), "a")
        .select(col("qid"), col("b").as("node"))
      val cands = distinctCandsByQ(bm.select(col("qid"), col("node"))
        .unionByName(expand))
      bm = topB(scored(cands), beam).cutLineage(true)
    }
    val res = topB(
      if (excludeSelf) bm.filter(col("node") =!= col("qid")) else bm, topK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("node"))
    res.withColumn("nb_rank", row_number().over(w))
      .select(col("qid"), col("node").as("nb_id"), col("nb_rank"), col("score"))
  }

  /** The DISTINCT (qid, node) candidates a whole walk scores — the
    * search's data-path cost, exposed for the scale diagnostics
    * (SCALE.md: candidates must track beam·m·rounds per query, never
    * the corpus). Mirrors [[Ivf.probeCandidateCount]]. */
  def searchCandidateCount(edges: DataFrame, vectors: DataFrame,
                           idCol: String, vecCol: String,
                           entryNodes: DataFrame, queries: DataFrame,
                           beam: Int, walkRounds: Int): Long = {
    val v = vectors.select(col(idCol).as("node"),
      col(vecCol).cast("array<double>").as("_nvec"))
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    def scored(cands: DataFrame): DataFrame = cands
      .join(v, "node").join(q, "qid")
      .withColumn("score", VectorOps.dot(col("_q"), col("_nvec")))
      .select(col("qid"), col("node"), col("score"))
    def topB(sc: DataFrame): DataFrame =
      graft.plans.TopK.perKey(sc, Seq("qid"),
        Seq(col("score").desc, col("node")), beam)
    var touched = q.select(col("qid")).crossJoin(broadcast(entryNodes))
      .select(col("qid"), col("node"))
    var bm = topB(scored(touched)).cutLineage(true)
    for (_ <- 1 to walkRounds) {
      val expand = bm.select(col("qid"), col("node").as("a"))
        .join(edges.select(col("a"), col("b")), "a")
        .select(col("qid"), col("b").as("node"))
      val cands = distinctCandsByQ(bm.select(col("qid"), col("node"))
        .unionByName(expand))
      touched = touched.unionByName(cands).distinct()
      bm = topB(scored(cands)).cutLineage(true)
    }
    touched.distinct().count()
  }
}
