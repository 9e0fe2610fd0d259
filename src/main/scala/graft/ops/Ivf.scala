package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Self-contained IVF (inverted-file) ANN index over an
  * `Array[Float]` embedding column: [[KMeans]] trains the coarse
  * quantizer, every vector is assigned to its nearest centroid's
  * bucket, and a query probes only its `nprobe` closest buckets —
  * the candidate set shrinks by ~k/nprobe versus a full scan.
  *
  * Scale shape: the index is data-partitioned by `cluster_id` (the
  * probe join key), centroids are model-sized broadcasts, and both
  * ranking steps go through the bounded-heap [[graft.plans.TopK]]
  * operator rather than per-group sorts. `nprobe = k` degenerates to
  * an EXACT full scan — the correctness anchor IvfSpec pins against
  * the brute-force baseline.
  */
object Ivf {

  /** The index pair: `centroids` (cluster_id, cvec) and `assigned`,
    * whose SCHEMA CONTRACT is (idCol, vecCol array<double>,
    * cluster_id) — [[bucket]]-built indexes use the default `_vec`
    * vector column; a caller constructing an Index from its own
    * frames must pass the actual vector column name, which
    * [[append]] and [[probe]] read from here rather than assuming. */
  case class Index(centroids: DataFrame, assigned: DataFrame,
                   idCol: String, vecCol: String = "_vec")

  /** Train the quantizer and bucket every vector. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int = 5): Index = {
    val (cents, assign) = KMeans.fit(vectors, idCol, vecCol, k, iters)
    bucket(vectors, idCol, vecCol, cents, assign)
  }

  /** ORACLE-EXACT variant: trains via [[KMeans.fitExactModel]]
    * (decimal-explode centroid means — bit-identical on any engine
    * and partitioning), so the centroids, every bucket assignment,
    * and therefore any nprobe probe result reproduce in plain SQL.
    * Same probe path; [[build]] stays the d-length-buffer scale
    * trainer. An empty cluster drops out of the model (fitExact
    * semantics) — harmless here: probing ranks whatever centroids
    * exist, no positional lookup. */
  def buildExact(vectors: DataFrame, idCol: String, vecCol: String,
                 k: Int, assignPasses: Int = 3): Index = {
    val (cents, assign) =
      KMeans.fitExactModel(vectors, idCol, vecCol, k, assignPasses)
    bucket(vectors, idCol, vecCol, cents, assign)
  }

  /** INCREMENTAL INDEX MAINTENANCE: admit a new batch into a stored
    * index WITHOUT retraining and WITHOUT rescanning the stored
    * corpus — the x14 pattern for vectors. At 100 TB you cannot
    * re-run training nightly; the standard production shape
    * (FAISS's add-after-train) is: keep the centroids fixed, assign
    * only the new vectors (a narrow map against the model-sized
    * centroid broadcast — O(batch·k·d) work, zero stored-side IO),
    * and append just the new bucket rows. The stored side's
    * partitioning is preserved (no repartition — a shuffle here
    * would touch the whole corpus); the probe join stays satisfied
    * because the tiny probed-query side broadcasts.
    *
    * Equivalence contract (v20's oracle proves it as a hash check):
    * the assignment expression and (sq, cluster_id) tie-break are
    * IDENTICAL to training's final pass, so append(build(hist),
    * batch) ≡ bucketing (hist ∪ batch) at the same fixed centroids.
    */
  def append(index: Index, batch: DataFrame, vecCol: String): Index = {
    val id = index.idCol
    val cents = broadcast(index.centroids
      .withColumn("_cc", VectorOps.dot(col("cvec"), col("cvec"))))
    val v = batch.select(col(id), col(vecCol).cast("array<double>").as("_vec"))
      .withColumn("_vv", VectorOps.dot(col("_vec"), col("_vec")))
    val scored = v.crossJoin(cents)
      .withColumn("_sq", col("_vv") + col("_cc") -
        lit(2.0) * VectorOps.dot(col("_vec"), col("cvec")))
    val assignedNew = graft.plans.TopK.perKey(scored, Seq(id),
        Seq(col("_sq"), col("cluster_id")), 1)
      .select(col(id), col("_vec").as(index.vecCol), col("cluster_id"))
    Index(index.centroids,
      index.assigned.select(col(id), col(index.vecCol), col("cluster_id"))
        .unionByName(assignedNew), id, index.vecCol)
  }

  /** v25's drift monitor: per-cluster share (parts-per-256, exact
    * integer quotients) of the stored corpus vs the appended batch,
    * with the global rebuild verdict (any cluster's share moved
    * more than `threshold256`/256). Everything after the
    * assignment's own groupBy is model-sized — shares, drift, and
    * verdict cost two tiny aggregates and two broadcasts, never a
    * vector pass; the index fleet's retrain scheduler reads THIS,
    * not a recall probe job. */
  def shareDrift(assigned: DataFrame, isHist: org.apache.spark.sql.Column,
                 threshold256: Int): DataFrame = {
    val counts = assigned
      .select(col("cluster_id").cast("int").as("cluster_id"), isHist.as("_h"))
      .groupBy(col("cluster_id"))
      .agg(sum(when(col("_h"), 1L).otherwise(0L)).as("n_hist"),
        sum(when(col("_h"), 0L).otherwise(1L)).as("n_batch"))
    val tot = counts.agg(sum(col("n_hist")).as("nh"),
      sum(col("n_batch")).as("nb"))
    val shared = counts.crossJoin(broadcast(tot))
      .withColumn("share_hist_256",
        expr("cast((n_hist * 256) div nh as int)"))
      .withColumn("share_batch_256",
        expr("cast((n_batch * 256) div nb as int)"))
      .withColumn("drift_256",
        expr("cast(abs((n_hist * 256) div nh - (n_batch * 256) div nb) as int)"))
    val verdict = shared.agg(max(col("drift_256")).as("max_drift"))
    shared.crossJoin(broadcast(verdict))
      .select(col("cluster_id"), col("n_hist"), col("n_batch"),
        col("share_hist_256"), col("share_batch_256"), col("drift_256"),
        (col("max_drift") > threshold256).as("rebuild"))
  }

  private def bucket(vectors: DataFrame, idCol: String, vecCol: String,
                     cents: DataFrame, assign: DataFrame): Index = {
    val v = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("_vec"))
    val assigned = v.join(assign.select(col(idCol), col("cluster_id")), idCol)
      // co-partition the index by bucket: the probe join shuffles the
      // (small) query side only
      .repartition(col("cluster_id"))
    Index(cents, assigned, idCol)
  }

  /** k-NN by dot-product score: each query probes its `nprobe`
    * nearest centroids' buckets. Output: (qid, nb_id, nb_rank,
    * score). Queries: (qid, qvec). `nprobe >= k` ⇒ exact.
    */
  def probe(index: Index, queries: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    val cands = candidates(index, queries, nprobe)
    val top = graft.plans.TopK.perKey(cands, Seq("qid"),
      Seq(col("score").desc, col(index.idCol)), topK)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col(index.idCol))
    top.withColumn("nb_rank", row_number().over(w))
      .select(col("qid"), col(index.idCol).as("nb_id"), col("nb_rank"),
        col("score"))
  }

  /** The scored candidate rows a probe(nprobe) scans before top-k —
    * probe's data-path cost, exposed for the scale diagnostics
    * (SCALE.md: candidates must track nprobe/k of the corpus, never
    * the corpus squared). */
  def probeCandidateCount(index: Index, queries: DataFrame, nprobe: Int): Long =
    candidates(index, queries, nprobe).count()

  /** The (qid, id) candidate PAIRS a probe(nprobe) would scan —
    * the coarse-quantizer stage of a composed index (IVF-PQ: these
    * pairs go to [[Pq.searchAmong]] for the compressed ADC scan
    * instead of being scored against full-width vectors here). */
  def probeCandidatePairs(index: Index, queries: DataFrame, nprobe: Int): DataFrame =
    candidates(index, queries, nprobe)
      .select(col("qid"), col(index.idCol))

  private def candidates(index: Index, queries: DataFrame, nprobe: Int): DataFrame = {
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    // rank buckets per query by centroid distance; the |q|² term is
    // constant within a query's group, hence rank-neutral — dropped
    val scoredBuckets = q.crossJoin(broadcast(index.centroids))
      .withColumn("_cd",
        VectorOps.dot(col("cvec"), col("cvec")) -
          lit(2.0) * VectorOps.dot(col("_q"), col("cvec")))
    val probed = graft.plans.TopK.perKey(scoredBuckets, Seq("qid"),
        Seq(col("_cd"), col("cluster_id")), nprobe)
      .select(col("qid"), col("_q"), col("cluster_id"))
    // scan only the probed buckets
    probed.join(index.assigned, Seq("cluster_id"))
      .filter(col(index.idCol) =!= col("qid"))
      .withColumn("score", VectorOps.dot(col("_q"), col(index.vecCol)))
  }
}
