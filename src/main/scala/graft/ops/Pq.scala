package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Lineage.CutOps

/** Product quantization (PQ) — the embedding-COMPRESSION leg of the
  * ANN suite ([[Ivf]] is the bucketing leg; real systems compose
  * both). The d-dim vector space is split into `m` orthogonal
  * subspaces of d/m dims; each subspace gets its own [[KMeans]]
  * codebook of `k` centroids; a vector is stored as `m` small codes
  * (k=16 ⇒ 4 bits per subspace: a 64-dim float32 vector compresses
  * 256 bytes → 2 bytes, 128×). At 100 TB of embeddings this is the
  * difference between scanning object storage and scanning RAM.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * exact; per query a (m × k) lookup table of subspace dot products
  * is built against the codebooks (model-sized, broadcast), and each
  * candidate's score is m array lookups + adds over its CODES —
  * codegen'd `zip_with`/`aggregate`, no decompression, no join on
  * the data path, top-k via the bounded-heap [[graft.plans.TopK]].
  *
  * Everything inherits [[KMeans]]' determinism (k-smallest-id
  * seeding, id tie-breaks); like all float-trained models the exact
  * codebooks are shuffle-order dependent in the last ulp, so query
  * results are pinned by spec (recall vs brute force + reconstruction
  * error) rather than a cross-engine hash.
  */
object Pq {

  /** codebooks: (sub_id int, cid int, cvec array<double>) — m·k rows.
    * encoded:   (idCol, code array<int> of length m). */
  case class Index(m: Int, subDim: Int, codebooks: DataFrame,
                   encoded: DataFrame, idCol: String)

  /** Train one codebook per subspace and encode every vector.
    * `dim` must be divisible by `m`.
    *
    * All m codebooks train in ONE shared Lloyd's loop
    * ([[KMeans.fitGrouped]] over exploded (sub_id, sub-vector)
    * rows): `iters` scoring passes total instead of m sequential
    * KMeans runs (m× fewer jobs and driver round-trips), and the
    * encoding comes from the final grouped assignment via one
    * collect_list — no m-way self-join. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
            dim: Int, m: Int, k: Int, iters: Int = 5): Index = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subDim = dim / m
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val subRows = v.select(col(idCol),
      posexplode(array((0 until m).map(j =>
        slice(col("_v"), j * subDim + 1, subDim)): _*)).as(Seq("sub_id", "_s")))
    val (cents, assign) =
      KMeans.fitGrouped(subRows, "sub_id", idCol, "_s", k, iters)
    val codebooks = cents
      .select(col("sub_id"), col("cluster_id").as("cid"), col("cvec"))
      .cutLineage(true)
    val encoded = assign
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub_id"), col("cluster_id")))),
        s => s("cluster_id")).as("code"))
      .cutLineage(true)
    Index(m, subDim, codebooks, encoded, idCol)
  }

  /** ORACLE-EXACT PQ training — the x11 pattern applied per subspace:
    * the same per-subspace Lloyd's loop as [[build]], but centroid
    * means go through a decimal explode (sum of DECIMAL(25,10) per
    * (sub, cid, dim), one division), which is bit-identical on any
    * engine and any partitioning. That makes the trained codebooks —
    * and therefore the codes and every ADC score — reproducible in
    * plain SQL, so the PQ query carries a full hash-checked oracle
    * instead of a rows-only declaration. [[build]] remains the scale
    * path (d-length VectorSumAgg buffers, m× fewer shuffled rows).
    *
    * Semantics mirrored by the SQL twin term for term:
    *  - seeding: the k smallest ids' subvectors, cid = id rank;
    *  - assignment: argmin of |s|² + |c|² − 2·s·c, ties to smaller
    *    cid ([[graft.plans.TopK]] heap, k=1);
    *  - update: decimal-explode mean; an EMPTY cluster keeps its
    *    previous centroid, so cids stay contiguous 0..k-1 — which
    *    [[search]]'s positional LUT lookup (element_at(lut, cid+1))
    *    requires;
    *  - `assignPasses` assignment passes total, updates between them.
    */
  def buildExact(vectors: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, k: Int, assignPasses: Int = 3): Index = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(k >= 1 && assignPasses >= 1)
    val spark = vectors.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    val subRows = v.select(col(idCol),
        posexplode(array((0 until m).map(j =>
          slice(col("_v"), j * subDim + 1, subDim)): _*)).as(Seq("sub_id", "_s")))
      .withColumn("_ss", VectorOps.dot(col("_s"), col("_s")))

    // k-smallest-ids seeding, sliced per subspace on the driver
    // (m·k·subDim doubles — model-sized)
    val seedVecs = v.orderBy(col(idCol)).limit(k)
      .select(col("_v")).collect().map(_.getSeq[Double](0)).zipWithIndex
    var cent: DataFrame = seedVecs.flatMap { case (vec, i) =>
      (0 until m).map(j => (j, i, vec.slice(j * subDim, (j + 1) * subDim).toSeq))
    }.toSeq.toDF("sub_id", "cid", "cvec")

    def assign(c: DataFrame): DataFrame = {
      val cdf = broadcast(c.withColumn("_cc", VectorOps.dot(col("cvec"), col("cvec"))))
      val scored = subRows.join(cdf, "sub_id")
        .withColumn("sq_dist",
          col("_ss") + col("_cc") - lit(2.0) * VectorOps.dot(col("_s"), col("cvec")))
      graft.plans.TopK.perKey(scored, Seq("sub_id", idCol),
        Seq(col("sq_dist"), col("cid")), 1)
    }

    for (_ <- 1 until assignPasses) {
      val means = assign(cent)
        .select(col("sub_id"), col("cid"),
          posexplode(col("_s")).as(Seq("dim", "x")))
        .groupBy(col("sub_id"), col("cid"), col("dim"))
        .agg((sum(col("x").cast("decimal(25,10)")).cast("double") /
          count(lit(1))).as("cv"))
        .groupBy(col("sub_id"), col("cid"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dc"))
        .select(col("sub_id"), col("cid"),
          transform(col("dc"), x => x.getField("cv")).as("mvec"))
      cent = cent.as("p").join(means, Seq("sub_id", "cid"), "left")
        .select(col("sub_id"), col("cid"),
          coalesce(col("mvec"), col("p.cvec")).as("cvec"))
        .cutLineage(true) // cut lineage per pass (iterative loop)
    }
    val codebooks = cent
    val encoded = assign(codebooks)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub_id"), col("cid")))),
        s => s("cid")).as("code"))
      .cutLineage(true)
    Index(m, subDim, codebooks, encoded, idCol)
  }

  /** (m × k) LUT per query: contrib(sub, cid) = <q_sub, c_{sub,cid}>;
    * nested array_sort(collect_list(struct)) keeps both levels
    * ordered by id, so lut[sub+1][cid+1] is positional. */
  private def lutOf(index: Index, q: DataFrame): DataFrame = {
    val contribs = q.crossJoin(broadcast(index.codebooks))
      .withColumn("contrib",
        VectorOps.dot(slice(col("_q"), col("sub_id") * index.subDim + 1,
          lit(index.subDim)), col("cvec")))
    contribs
      .groupBy(col("qid"), col("sub_id"))
      .agg(transform(array_sort(collect_list(struct(col("cid"), col("contrib")))),
        s => s("contrib")).as("sub_lut"))
      .groupBy(col("qid"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("sub_lut")))),
        s => s("sub_lut")).as("lut"))
  }

  /** ADC rank of pre-scored candidate rows (must carry qid, idCol,
    * "score") — shared tail of [[search]]/[[searchAmong]]. */
  private def rankTop(index: Index, scored: DataFrame, topK: Int): DataFrame = {
    val top = graft.plans.TopK.perKey(scored, Seq("qid"),
      Seq(col("score").desc, col(index.idCol)), topK)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col(index.idCol))
    top.withColumn("nb_rank", row_number().over(w))
      .select(col("qid"), col(index.idCol).as("nb_id"), col("nb_rank"), col("score"))
  }

  /** ADC top-k by dot-product score over the WHOLE corpus.
    * Queries: (qid, qvec). Output: (qid, nb_id, nb_rank, score) —
    * score is the QUANTIZED dot product Σ_j q_j · c_{code_j}. */
  def search(index: Index, queries: DataFrame, topK: Int): DataFrame = {
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    // data path: one narrow pass over the codes — m lookups + adds
    val scored = index.encoded.crossJoin(broadcast(lutOf(index, q)))
      .filter(col(index.idCol) =!= col("qid"))
      .withColumn("score",
        aggregate(zip_with(col("code"), col("lut"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0), (acc, x) => acc + x))
    rankTop(index, scored, topK)
  }

  /** ADC top-k restricted to given candidate PAIRS (qid, idCol) —
    * the second stage of a COMPOSED index: a coarse quantizer (e.g.
    * [[Ivf.probeCandidatePairs]]) bounds which (query, vector) pairs
    * are considered, and the PQ codes make each considered pair cost
    * m lookups + adds over 1/128th the bytes. Identical scoring/
    * tie-break semantics to [[search]]. */
  def searchAmong(index: Index, queries: DataFrame, cands: DataFrame,
                  topK: Int): DataFrame = {
    val q = queries.select(col("qid"), col("qvec").cast("array<double>").as("_q"))
    val scored = cands.join(index.encoded, index.idCol)
      .join(broadcast(lutOf(index, q)), "qid")
      .filter(col(index.idCol) =!= col("qid"))
      .withColumn("score",
        aggregate(zip_with(col("code"), col("lut"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0), (acc, x) => acc + x))
    rankTop(index, scored, topK)
  }

  /** Decode: reconstruct each vector from its codes (concatenated
    * centroids) — the quantization-error side of the contract. */
  def reconstruct(index: Index): DataFrame = {
    val byCode = index.encoded
      .select(col(index.idCol), posexplode(col("code")).as(Seq("sub_id", "cid")))
      .join(broadcast(index.codebooks), Seq("sub_id", "cid"))
    byCode
      .groupBy(col(index.idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub_id"), col("cvec")))),
        s => s("cvec"))).as("vec_hat"))
  }
}
