package graft

import org.apache.spark.sql.functions._
import graft.ops.{Ivf, VectorOps}

/** The self-contained IVF index: probing every bucket must equal the
  * brute-force scan exactly; narrow probes trade recall for candidate
  * reduction but keep high recall on clustered fixture data.
  */
class IvfSpec extends SparkSpec {

  private lazy val vecs = Tables.load(spark, Sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val queries = Tables.load(spark, Sf0001, "embeddings")
    .filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private lazy val index = Ivf.build(vecs, "vec_id", "embedding", k = 4, iters = 3)

  private def bruteForce(topK: Int) = {
    val scored = vecs.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("score", VectorOps.dot(
        col("qvec").cast("array<double>"), col("embedding").cast("array<double>")))
    graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq(col("score").desc, col("vec_id")), topK)
      .select(col("qid"), col("vec_id").as("nb_id"), col("score"))
  }

  test("nprobe = k probes every bucket and equals brute force exactly") {
    val exact = Ivf.probe(index, queries, nprobe = 4, topK = 3)
      .select("qid", "nb_id").orderBy("qid", "nb_id").collect()
    val brute = bruteForce(3)
      .select("qid", "nb_id").orderBy("qid", "nb_id").collect()
    assert(exact.nonEmpty && exact.sameElements(brute))
  }

  test("narrow probe keeps most neighbors (recall) with fewer candidates") {
    val approx = Ivf.probe(index, queries, nprobe = 2, topK = 3)
      .select("qid", "nb_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = bruteForce(3)
      .select("qid", "nb_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
    // every query still answered
    assert(approx.map(_._1) == brute.map(_._1))
  }

  test("probe monotonicity: narrow-probe scores never beat the exact probe rank-wise") {
    // a narrower probe only SHRINKS the candidate set, so at every
    // rank its score is <= the exact (nprobe = k) score — the
    // approximation contract v8_knn_ivf_probe2 relies on
    def byRank(nprobe: Int) = Ivf.probe(index, queries, nprobe, topK = 3)
      .select("qid", "nb_rank", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val exact = byRank(4)
    val narrow = byRank(2)
    assert(narrow.nonEmpty)
    narrow.foreach { case (key, s) =>
      assert(s <= exact(key) + 1e-12, s"$key: narrow $s > exact ${exact(key)}")
    }
  }

  test("ranks are dense from 1 and scores non-increasing per query") {
    val out = Ivf.probe(index, queries, nprobe = 2, topK = 3)
      .orderBy("qid", "nb_rank").collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("nb_rank")).toSeq == (1 to rows.length))
      val scores = rows.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("append equals a full rebuild at fixed centroids (probe parity)") {
    // the v20 contract: admitting a batch with frozen centroids must
    // give exactly the probe results of bucketing the whole corpus at
    // those centroids — both nprobe=2 and the exhaustive nprobe=k
    val hist = vecs.filter(col("vec_id") % 10 < 8)
    val batch = vecs.filter(col("vec_id") % 10 >= 8)
    val idx = Ivf.buildExact(hist, "vec_id", "embedding", k = 4, assignPasses = 3)
    val appended = Ivf.append(idx, batch, "embedding")
    // "rebuild": assign EVERYTHING at the same frozen centroids
    val rebuilt = Ivf.append(
      Ivf.Index(idx.centroids, appended.assigned.limit(0), "vec_id"),
      vecs, "embedding")
    for (np <- Seq(2, 4)) {
      def res(ix: Ivf.Index) = Ivf.probe(ix, queries, nprobe = np, topK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("nb_rank")))
        .toSet
      assert(res(appended) == res(rebuilt), s"append/rebuild diverge at nprobe=$np")
    }
    // and the appended index actually contains every vector once
    assert(appended.assigned.count() == vecs.count())
    assert(appended.assigned.select("vec_id").distinct().count() == vecs.count())
  }

  test("shareDrift: an unbiased batch stays under the line, a biased one flips rebuild") {
    import spark.implicits._
    // stored corpus 50/50 across two clusters; batch with the same mix
    val unbiased = (0L until 40L).map(i => (i, (i % 2).toInt, i >= 32))
      .toDF("vec_id", "cluster_id", "is_batch")
    val ok = Ivf.shareDrift(unbiased, !col("is_batch"), threshold256 = 32)
    assert(!ok.select("rebuild").head().getBoolean(0))
    assert(ok.select(max(col("drift_256"))).head().getInt(0) == 0)
    // distribution shift: the whole batch crowds into cluster 0
    val biased = ((0L until 32L).map(i => (i, (i % 2).toInt, false)) ++
        (32L until 40L).map(i => (i, 0, true)))
      .toDF("vec_id", "cluster_id", "is_batch")
    val r = Ivf.shareDrift(biased, !col("is_batch"), threshold256 = 32)
      .orderBy("cluster_id").collect()
    // cluster 0: hist 128/256 vs batch 256/256; cluster 1: 128 vs 0
    assert(r.map(_.getInt(5)).toSeq == Seq(128, 128))
    assert(r.forall(_.getBoolean(6)), "a 50-point share shift must demand a rebuild")
  }

  test("v26: the retrain loop — verdict gates the rebuild, gen-2 serves exactly, " +
    "cold searcher + resumed append land on the committed generation") {
    import spark.implicits._
    import graft.sources.Snapshots
    // two interleaved blobs (seeds 0,1 hit one each), k=2 exact index
    def blob(ids: Range, cx: Double, cy: Double) =
      ids.map(i => (i.toLong, Array(cx + 0.01 * i, cy - 0.01 * i)))
    val hist = (blob(0 until 20 by 2, 0, 0) ++ blob(1 until 20 by 2, 10, 10))
      .toDF("vec_id", "embedding")
    val gen1 = Ivf.buildExact(hist, "vec_id", "embedding", k = 2)
    // an identically-distributed batch must NOT fire the verdict
    val calm = (blob(20 until 24 by 2, 0, 0) ++ blob(21 until 24 by 2, 10, 10))
      .toDF("vec_id", "embedding")
    val calmAppended = Ivf.append(gen1, calm, "embedding")
    assert(!Ivf.shareDrift(calmAppended.assigned, col("vec_id") < 20, 64)
      .head().getBoolean(6), "a same-mix batch must keep gen-1")
    // the drifted batch: a third blob far away, crowding one bucket
    val drifted = blob(20 until 28, 50, 50).toDF("vec_id", "embedding")
    val driftedAppended = Ivf.append(gen1, drifted, "embedding")
    assert(Ivf.shareDrift(driftedAppended.assigned, col("vec_id") < 20, 64)
      .head().getBoolean(6), "the collapsed batch must demand a rebuild")
    // gen-2 over the post-drift corpus; k=3 so the new blob gets a bucket
    val corpus = hist.unionByName(drifted)
    val gen2 = Ivf.buildExact(corpus, "vec_id", "embedding", k = 3)
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // exact-probe anchor on the NEW generation: nprobe = k ≡ brute force
    val all = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def brute(q: Long): Seq[(Long, Long)] =
      all.toSeq.filter(_._1 != q)
        .map { case (id, v) => id -> all(q).zip(v).map(p => p._1 * p._2).sum }
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }
    val exact = Ivf.probe(gen2, queries, nprobe = 3, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == (0L until 3L).flatMap(q =>
      brute(q).map { case (id, rk) => (q, id, rk.toInt) }).toSet,
      "gen-2 must serve the post-drift corpus exactly at nprobe = k")
    // one-txn landing + cold search: committed generation ≡ in-session
    val root = java.nio.file.Files.createTempDirectory("v26").toString
    val (centDir, asgDir, txnDir) = (s"$root/c", s"$root/a", s"$root/t")
    val t = java.util.UUID.randomUUID().toString
    Snapshots.txnStage(gen2.centroids, centDir, txnDir, t)
    Snapshots.txnStage(gen2.assigned, asgDir, txnDir, t)
    Snapshots.txnCommit(spark, txnDir, t, Seq(centDir, asgDir))
    val loaded = Ivf.Index(
      Snapshots.read(spark, centDir), Snapshots.read(spark, asgDir), "vec_id")
    val cold = Ivf.probe(loaded, queries, nprobe = 3, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cold == exact, "the committed generation must serve byte-identically")
    // resumed v20 append against gen-2: new rows land in their nearest
    // committed bucket, stored rows untouched
    val resumedBatch = Seq((100L, Array(50.05, 49.95))).toDF("vec_id", "embedding")
    val resumed = Ivf.append(loaded, resumedBatch, "embedding")
    val cents = gen2.centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(v: Array[Double], c: Array[Double]) =
      v.zip(c).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
    val want = cents.minBy { case (_, c) => d2(Array(50.05, 49.95), c) }._1
    val got = resumed.assigned.filter(col("vec_id") === 100L)
      .select("cluster_id").head().getInt(0)
    assert(got == want, "a resumed append must assign at the committed centroids")
    assert(resumed.assigned.count() == corpus.count() + 1)
  }

  test("v29: recall is non-decreasing in nprobe; the tuner picks the smallest clearing the bar") {
    val rows = SparkEntry.queries("v29_nprobe_tuning")(spark, Sf0001)
      .collect().sortBy(_.getAs[Int]("nprobe"))
    val hits = rows.map(_.getAs[Long]("n_hits"))
    assert(hits.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "widening the probe can only add candidates — recall is monotone")
    val nTruth = rows.head.getAs[Long]("n_truth")
    assert(hits.last == nTruth, "nprobe = k is the exact probe — recall 1.0")
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1, "exactly one setting is served")
    val cnp = chosen.head.getAs[Int]("nprobe")
    assert(chosen.head.getAs[Long]("n_hits") * 10 >= nTruth * 9)
    assert(rows.filter(_.getAs[Int]("nprobe") < cnp)
      .forall(_.getAs[Long]("n_hits") * 10 < nTruth * 9),
      "every cheaper setting must genuinely miss the bar")
  }

  test("v27: filtered search ranks among ELIGIBLE vectors only — " +
    "post-filtering a finished top-k is the wrong answer") {
    import spark.implicits._
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array(math.cos(i * 0.7), math.sin(i * 0.7)), i % 4))
      .toDF("vec_id", "embedding", "label")
    val idx = Ivf.buildExact(vecs, "vec_id", "embedding", k = 4)
    val allowed = vecs.filter(col("label") === 1).select(col("vec_id"))
    val fidx = Ivf.Index(idx.centroids, idx.assigned.join(allowed, "vec_id"),
      "vec_id")
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // nprobe = k ⇒ exact among the eligible set
    val got = Ivf.probe(fidx, queries, nprobe = 4, topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = vecs.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2))).toSeq
    def brute(q: Long) = {
      val qv = all.find(_._1 == q).get._2
      all.filter(v => v._3 == 1 && v._1 != q)
        .map(v => v._1 -> v._2.zip(qv).map(p => p._1 * p._2).sum)
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (q, id, i + 1) }
    }
    assert(got == (0L until 2L).flatMap(brute).toSet,
      "filtered probe must equal brute force over the eligible subset")
    assert(got.forall { case (_, nb, _) => nb % 4 == 1 },
      "every served neighbor must satisfy the predicate")
    // the wrong way (filter AFTER top-k) under-fills: at 25%
    // selectivity an unfiltered top-3 rarely survives intact
    val post = Ivf.probe(idx, queries, nprobe = 4, topK = 3)
      .filter(col("nb_id") % 4 === 1).count()
    assert(post < got.size,
      "post-filtering must lose neighbors the filtered scan keeps")
  }
}
