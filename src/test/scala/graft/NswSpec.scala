package graft

import org.apache.spark.sql.functions._
import graft.ops.Nsw

/** Graph-ANN (v30) contracts: the build is deterministic and
  * degree-bounded, descent rounds only improve neighbor quality, the
  * beam walk never scans the corpus, and search quality is measured
  * against brute force. */
class NswSpec extends SparkSpec {
  import spark.implicits._

  // a deterministic 2-ring corpus: two well-separated shells so the
  // true neighbors of any point live on its own shell
  private def corpus(n: Int) = {
    val rows = (0 until n).map { i =>
      val shell = i % 2
      val angle = 2 * math.Pi * i / n
      val base = if (shell == 0) 1.0 else 10.0
      (i.toLong, Array(base * math.cos(angle), base * math.sin(angle),
        base * 0.5, base * 0.25))
    }
    rows.toDF("vec_id", "embedding")
  }

  private def centroidsOf(df: org.apache.spark.sql.DataFrame) =
    graft.ops.Ivf.buildExact(df, "vec_id", "embedding",
      k = 4, assignPasses = 2)

  test("build is deterministic, degree-bounded, and self-loop-free") {
    val v = corpus(80)
    val idx = centroidsOf(v)
    def edgesOf() = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val e1 = edgesOf()
    assert(e1 == edgesOf(), "two builds over the same input must be identical")
    assert(!e1.exists { case (a, b) => a == b }, "no self loops")
    val deg = e1.groupBy(_._1).view.mapValues(_.size)
    assert(deg.values.forall(_ <= 3), "out-degree bounded by m")
    assert(deg.size == 80, "every node keeps out-edges")
  }

  test("descent rounds only improve kept neighbor quality (monotone per node)") {
    val v = corpus(80)
    val idx = centroidsOf(v)
    def qualityAt(rounds: Int): Map[Long, Double] =
      Nsw.build(v, "vec_id", "embedding", idx.centroids,
        blocks = 2, m = 3, rounds = rounds)
        .groupBy(col("a")).agg(sum(col("score")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q0 = qualityAt(0)
    val q2 = qualityAt(2)
    assert(q0.keySet == q2.keySet)
    assert(q0.forall { case (n, q) => q2(n) >= q - 1e-12 },
      "NN-descent keeps the best-of union — per-node quality never drops")
  }

  test("beam search finds the exact neighbors on a separable corpus") {
    val v = corpus(120)
    val idx = centroidsOf(v)
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 4, rounds = 2)
    val q = v.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Nsw.search(edges, v, "vec_id", "embedding",
      Nsw.entries(idx.assigned, "vec_id"), q,
      beam = 4, walkRounds = 3, topK = 3)
      .select(col("qid"), col("nb_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth by the same (score desc, id) rule
    val brute = v.crossJoin(broadcast(
        q.select(col("qid"), col("qvec").cast("array<double>").as("_q"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("s", graft.ops.VectorOps.dotHof(col("embedding"), col("_q")))
    val truth = graft.plans.TopK.perKey(brute, Seq("qid"),
        Seq(col("s").desc, col("vec_id")), 3)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"beam walk must recover the separable truth, got $recall")
  }

  test("v33: recall is monotone non-decreasing in beam width") {
    val v = corpus(120)
    val idx = centroidsOf(v)
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 4, rounds = 2)
    val qd = v.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = v.crossJoin(broadcast(
        qd.select(col("qid"), col("qvec").cast("array<double>").as("_q"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("s", graft.ops.VectorOps.dotHof(col("embedding"), col("_q")))
    val truth = graft.plans.TopK.perKey(brute, Seq("qid"),
        Seq(col("s").desc, col("vec_id")), 3)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = Seq(1, 2, 4, 8).map { b =>
      Nsw.search(edges, v, "vec_id", "embedding",
        Nsw.entries(idx.assigned, "vec_id"), qd,
        beam = b, walkRounds = 3, topK = 3)
        .select(col("qid"), col("nb_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(truth).size
    }
    assert(hits == hits.sorted,
      s"widening the beam must never lose recall: $hits")
    assert(hits.last == truth.size,
      "a beam twice the serving width recovers the separable truth exactly")
  }

  test("external queries with excludeSelf=false keep id-colliding nodes") {
    val v = corpus(80)
    val idx = centroidsOf(v)
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 4, rounds = 2)
    // an EXTERNAL query whose qid numerically collides with corpus
    // node 1 (outer shell — under dot-product scoring its self-dot
    // strictly dominates every cross-dot) and whose vector IS node
    // 1's vector: the true top-1 is node 1 itself — self-exclusion
    // would silently drop it
    val q = v.filter(col("vec_id") === 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val withSelf = Nsw.search(edges, v, "vec_id", "embedding",
      Nsw.entries(idx.assigned, "vec_id"), q,
      beam = 4, walkRounds = 3, topK = 3, excludeSelf = false)
      .collect().map(r => r.getAs[Long]("nb_id"))
    assert(withSelf.contains(1L),
      "external-query mode must keep the colliding node in the top-k")
    val without = Nsw.search(edges, v, "vec_id", "embedding",
      Nsw.entries(idx.assigned, "vec_id"), q,
      beam = 4, walkRounds = 3, topK = 3)
      .collect().map(r => r.getAs[Long]("nb_id"))
    assert(!without.contains(1L), "default self-recall mode excludes qid")
  }

  test("v31: blocked local repair touches only batch-adjacent neighborhoods") {
    val v = corpus(100)
    val idx = centroidsOf(v)
    val hist = v.filter(col("vec_id") < 80)
    val batch = v.filter(col("vec_id") >= 80)
    val edges = Nsw.build(hist, "vec_id", "embedding", idx.centroids,
      blocks = 1, m = 3, rounds = 1)
    val rep = Nsw.insert(edges, v, "vec_id", "embedding", idx.centroids,
      blocks = 1, m = 3, newIds = batch.select(col("vec_id")))
    val touched = rep.touched.collect().map(_.getLong(0)).toSet
    // every batch node is touched (it needs out-edges)
    assert((80L until 100L).forall(touched), "new nodes must be touched")
    // untouched nodes' edges pass through IDENTICALLY
    val before = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = rep.adjacency.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val untouchedBefore = before.filterNot { case (a, _) => touched(a) }
    val untouchedAfter = after.filterNot { case (a, _) => touched(a) }
    assert(untouchedBefore == untouchedAfter,
      "repair must never rewrite an untouched neighborhood")
    // degree bound holds everywhere after the repair
    val deg = after.groupBy(_._1).view.mapValues(_.size)
    assert(deg.values.forall(_ <= 3), "out-degree bounded by m after repair")
    // the delta is exactly the touched nodes' edge sets
    val deltaAs = rep.delta.select(col("a")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(deltaAs.subsetOf(touched))
    // repaired quality never drops: a touched node keeps at least its
    // old best score (the union re-keep can only improve)
    val oldBest = edges.groupBy(col("a")).agg(max(col("score")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val newBest = rep.adjacency.groupBy(col("a")).agg(max(col("score")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(oldBest.forall { case (a, s) => newBest(a) >= s - 1e-12 })
  }

  test("v36: purgeRepair erases purged ids from rows AND neighbor lists, re-links touched nodes") {
    val v = corpus(80)
    val idx = centroidsOf(v)
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 3, rounds = 2)
    // purge BIG-shell nodes (odd ids, norm 10): dot-product neighbor
    // lists are dominated by big-norm vectors, so these ids sit in
    // many survivors' lists — the splice path must actually fire
    val pSet = Set(1L, 3L, 5L)
    val purged = pSet.toSeq.sorted.toDF("vec_id")
    val survivors = v.filter(!col("vec_id").isin(pSet.toSeq: _*))
    val rep = Nsw.purgeRepair(edges, survivors, "vec_id", "embedding",
      idx.centroids, blocks = 2, m = 3, purged)
    val before = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = rep.adjacency.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!adj.exists { case (a, b) => pSet(a) || pSet(b) },
      "no purged id survives — not as a row, not inside a neighbor list")
    val touched = before.collect { case (a, b) if pSet(b) && !pSet(a) => a }
    assert(touched.nonEmpty, "the fixture must exercise neighbor-list splicing")
    // untouched neighborhoods pass through bit-identically
    val untouchedBefore = before.filter { case (a, _) =>
      !touched(a) && !pSet(a) }
    assert(untouchedBefore.subsetOf(adj.toSet),
      "untouched nodes' edges are never recomputed")
    // touched nodes re-link (never vanish) and stay degree-bounded
    val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
    assert(touched.forall(t => deg.getOrElse(t, 0) > 0),
      "every touched survivor re-links from block-mates")
    assert(deg.values.forall(_ <= 3), "out-degree stays bounded by m")
    // the storage-commit key set = touched ∪ purged
    assert(rep.touched.collect().map(_.getLong(0)).toSet == touched ++ pSet,
      "DV keys must cover both replaced and erased rows")
    // deterministic: a second repair is bit-identical
    val again = Nsw.purgeRepair(edges, survivors, "vec_id", "embedding",
      idx.centroids, blocks = 2, m = 3, purged)
      .adjacency.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adj.sorted.toSeq == again.sorted.toSeq)
  }

  test("the walk scores only touched candidates, never the corpus") {
    val v = corpus(200)
    val idx = centroidsOf(v)
    val m = 3; val beam = 4; val rounds = 2
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = m, rounds = 1)
    val q = v.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val touched = Nsw.searchCandidateCount(edges, v, "vec_id", "embedding",
      Nsw.entries(idx.assigned, "vec_id"), q, beam, rounds)
    // entries + per round at most beam·(m+1) new candidates
    val bound = 4 + rounds * beam * (m + 1)
    assert(touched <= bound, s"walk touched $touched > bound $bound")
    assert(touched < 200, "a walk must never degenerate into a corpus scan")
  }

  test("walk-round dedup and the top-B re-keep share one exchange (r19)") {
    // The round body dedups (qid, node) candidates and re-keeps the
    // best `beam` per qid. A plain .distinct() exchanges by
    // (qid, node) and TopKPerKey exchanges again by (qid);
    // repartition(qid)+dropDuplicates satisfies BOTH requirements --
    // hash(qid) clusters (qid, node) for the dedup aggregate and qid
    // for the re-keep -- so EnsureRequirements inserts no second
    // qid shuffle, and the kept rows are identical. The fixture
    // replicates search()'s round 1 verbatim (cut beam, expand join,
    // union) so the candidate side carries the real walk's size
    // estimates -- a bare toy frame would broadcast and flip the
    // build side, a regime the walk never plans in.
    import graft.ops.Lineage.CutOps
    val v = corpus(80)
    val idx = centroidsOf(v)
    val edges = Nsw.build(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 3, rounds = 1)
    val vv = v.select(col("vec_id").as("node"),
      col("embedding").cast("array<double>").as("_nvec"))
    val q = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("_q"))
    def scored(c: org.apache.spark.sql.DataFrame) = c
      .join(vv, "node").join(q, "qid")
      .withColumn("score",
        graft.ops.VectorOps.dot(col("_q"), col("_nvec")))
      .select(col("qid"), col("node"), col("score"))
    def topB(sc: org.apache.spark.sql.DataFrame) =
      graft.plans.TopK.perKey(sc, Seq("qid"),
        Seq(col("score").desc, col("node")), 4)
    val seed = q.select(col("qid")).crossJoin(
      broadcast(Nsw.entries(idx.assigned, "vec_id")))
    val bm = topB(scored(seed)).cutLineage(true)
    val expand = bm.select(col("qid"), col("node").as("a"))
      .join(edges.select(col("a"), col("b")), "a")
      .select(col("qid"), col("b").as("node"))
    val union = bm.select(col("qid"), col("node")).unionByName(expand)
    val oneExchange = topB(scored(
      union.repartition(col("qid")).dropDuplicates(Seq("qid", "node"))))
    val twoExchange = topB(scored(union.distinct()))
    // shape FIRST, on the un-executed INITIAL plan -- what
    // EnsureRequirements inserts. Count only qid-keyed exchanges: the
    // expand join's own (a)-keyed exchanges are out of scope.
    def qidExchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
        .linesIterator.count(_.contains("Exchange hashpartitioning(qid"))
    assert(qidExchanges(oneExchange) == 1,
      "repartition(qid) must satisfy both the dedup and TopKPerKey")
    assert(qidExchanges(twoExchange) == 2,
      "(contrast) plain distinct pays a second exchange before the re-keep")
    // value identity: the shared-exchange form keeps exactly the rows
    // the plain-distinct form keeps (same IEEE scores, same ties)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(rows(oneExchange) == rows(twoExchange))
  }

  test("v38: levels nest geometrically, the hierarchy is deterministic, empty layers degrade") {
    val v = corpus(200)
    val lvl = v.select(col("vec_id"), Nsw.levelOf(col("vec_id"), 2).as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // deterministic: a pure function of the ids
    val again = v.select(col("vec_id"), Nsw.levelOf(col("vec_id"), 2).as("l"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lvl == again)
    // nesting: layer 2 members are layer 1 members by construction;
    // sizes shrink roughly geometrically (expectation 1/4 per level)
    val n1 = lvl.count(_._2 >= 1); val n2 = lvl.count(_._2 >= 2)
    assert(n2 <= n1 && n1 < 200, s"sizes must nest and shrink: $n1, $n2")
    assert(n1 > 0, "a 200-node corpus should populate layer 1")
    // layered build: each layer degree-bounded over ITS members only
    val idx = centroidsOf(v)
    val layers = Nsw.buildLayers(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = 3, rounds = 1, maxLevel = 2, upperRounds = 1)
    assert(layers.size == 3)
    val mem1 = lvl.filter(_._2 >= 1).keySet
    val l1nodes = layers(1).select(col("a")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(l1nodes.subsetOf(mem1), "layer-1 edges only among its members")
    // descent with maxLevel layers EMPTY still serves (the guard):
    // force it by searching a hierarchy whose upper layers come from
    // an id range the hash gives level 0 everywhere — emptiness is
    // simulated with explicitly empty adjacencies
    val empty = layers(1).limit(0)
    val q = v.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val resEmpty = Nsw.searchLayered(Seq(layers(0), empty, empty),
      v, "vec_id", "embedding", q, upperBeam = 2, upperWalk = 1,
      beam = 4, walkRounds = 2, topK = 3)
    assert(resEmpty.count() == 3,
      "empty upper layers degrade to the guarded layer-0 walk, not zero rows")
  }

  test("v38: the descent's touched set stays bounded, never a corpus scan") {
    val v = corpus(200)
    val idx = centroidsOf(v)
    val (m, upperBeam, upperWalk, beam, rounds) = (3, 2, 1, 4, 2)
    val layers = Nsw.buildLayers(v, "vec_id", "embedding", idx.centroids,
      blocks = 2, m = m, rounds = 1, maxLevel = 2, upperRounds = 1)
    val q = v.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val touched = Nsw.searchLayeredCandidateCount(layers, v, "vec_id",
      "embedding", q, upperBeam, upperWalk, beam, rounds)
    // per query: each upper layer seeds ≤ prevBeam+guard and adds
    // ≤ upperWalk·upperBeam·(m+1) per walk round; layer 0 seeds
    // ≤ upperBeam+1 and adds ≤ rounds·beam·(m+1)
    val perLayer = (upperBeam + 1) + upperWalk * upperBeam * (m + 1)
    val layer0 = (upperBeam + 1) + rounds * beam * (m + 1)
    val bound = 2L * (2 * perLayer + layer0)
    assert(touched <= bound, s"descent touched $touched > bound $bound")
    assert(touched < 2 * 200, "the descent must never scan the corpus")
  }

  test("v38: the lifecycle verbs extend per layer — insert and purge repair each layer locally") {
    // levels are a pure function of the ids, so a layered index's
    // lifecycle is the FLAT verbs applied per layer: a batch vector
    // with level ℓ inserts into layers 0..ℓ (Nsw.insert unchanged),
    // a purged id repairs every layer it belonged to (Nsw.purgeRepair
    // unchanged) — no new machinery, no relabeling
    val all = corpus(160)
    val hist = all.filter(col("vec_id") < 140)
    val batch = all.filter(col("vec_id") >= 140)
    val idx = centroidsOf(hist) // frozen centroids
    val maxLevel = 2
    val layersHist = Nsw.buildLayers(hist, "vec_id", "embedding",
      idx.centroids, blocks = 2, m = 3, rounds = 1, maxLevel, upperRounds = 1)
    // INSERT per layer: only the layers the batch's hash levels reach
    val repaired = (0 to maxLevel).map { l =>
      val members = all.filter(Nsw.levelOf(col("vec_id"), maxLevel) >= l ||
        lit(l) === 0)
      val newIds = batch.filter(Nsw.levelOf(col("vec_id"), maxLevel) >= l ||
        lit(l) === 0).select(col("vec_id"))
      if (newIds.isEmpty) layersHist(l)
      else Nsw.insert(layersHist(l), members, "vec_id", "embedding",
        idx.centroids, blocks = 2, m = 3, newIds).adjacency
    }
    // every layer stays degree-bounded and only holds its members
    for (l <- 0 to maxLevel) {
      val deg = repaired(l).collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.size)
      assert(deg.values.forall(_ <= 3), s"layer $l degree-bounded after insert")
      val memIds = all.filter(Nsw.levelOf(col("vec_id"), maxLevel) >= l ||
        lit(l) === 0).collect().map(_.getLong(0)).toSet
      val nodes = repaired(l).select(col("a")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(nodes.subsetOf(memIds), s"layer $l holds only its members")
    }
    // every inserted node got out-edges in layer 0 (the flat insert's
    // structural guarantee, per layer), and the descent over the
    // repaired hierarchy still serves full top-k rows
    val batchIds = batch.collect().map(_.getLong(0)).toSet
    val l0as = repaired(0).select(col("a")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(l0as),
      "every inserted node keeps out-edges in the repaired layer 0")
    val q = batch.limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val res = Nsw.searchLayered(repaired, all, "vec_id", "embedding", q,
      upperBeam = 2, upperWalk = 1, beam = 4, walkRounds = 2, topK = 3,
      excludeSelf = false)
    assert(res.count() == 3,
      "the descent over the repaired hierarchy serves a full top-k")
    // PURGE per layer: erase one layer-1 member from every layer it
    // touches; no layer serves it afterwards, degrees stay bounded
    val victim = all.filter(Nsw.levelOf(col("vec_id"), maxLevel) >= 1)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(1)
    val vid = victim.collect().head.getLong(0)
    val purgedLayers = (0 to maxLevel).map { l =>
      val members = all.filter((Nsw.levelOf(col("vec_id"), maxLevel) >= l ||
        lit(l) === 0) && col("vec_id") =!= vid)
      Nsw.purgeRepair(repaired(l), members, "vec_id", "embedding",
        idx.centroids, blocks = 2, m = 3, victim).adjacency
    }
    purgedLayers.zipWithIndex.foreach { case (adj, l) =>
      val rows = adj.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!rows.exists(p => p._1 == vid || p._2 == vid),
        s"layer $l must not serve the purged id on either endpoint")
      assert(rows.groupBy(_._1).view.mapValues(_.size).values.forall(_ <= 3))
    }
  }

  test("v32 pricing identity: dot against a PQ-reconstructed vector IS the ADC LUT sum") {
    val v = corpus(64)
    val pq = graft.ops.Pq.buildExact(v, "vec_id", "embedding",
      dim = 4, m = 2, k = 4, assignPasses = 2)
    val q = v.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // LUT pricing over every (query, candidate) pair
    val cands = q.select(col("qid"))
      .crossJoin(v.select(col("vec_id")))
    val lut = graft.ops.Pq.searchAmong(pq, q, cands, topK = 64)
      .select(col("qid"), col("nb_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // decoded pricing: dot(q, reconstruct(code))
    val recon = graft.ops.Pq.reconstruct(pq)
    val dec = q.crossJoin(recon.withColumnRenamed("vec_id", "nb_id"))
      .filter(col("nb_id") =!= col("qid"))
      .withColumn("s", graft.ops.VectorOps.dot(
        col("qvec").cast("array<double>"), col("vec_hat")))
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nb_id")) ->
        r.getAs[Double]("s")).toMap
    assert(lut.keySet == dec.keySet)
    assert(lut.forall { case (k, s) => math.abs(dec(k) - s) < 1e-9 },
      "decoded-vector dot must equal the asymmetric-distance LUT sum")
  }
}
