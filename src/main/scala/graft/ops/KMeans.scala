package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorAgg
import graft.ops.Lineage.CutOps

/** Deterministic Lloyd's k-means over an `Array[Float]` embedding
  * column — the coarse-quantizer trainer behind a real IVF index
  * (v5/v6 use the fixture's labels as a stand-in; this builds
  * centroids from the vectors themselves).
  *
  * No RNG anywhere — seeding and all tie-breaks are reproducible:
  *  - init: the vectors of the k smallest ids (k-smallest-ids seeding
  *    — reproducible on any engine, unlike random or kmeans||);
  *  - assignment: nearest centroid by squared L2, ties to the
  *    smaller centroid id, selected with the bounded-heap
  *    [[graft.plans.TopK]] operator (k=1) — no per-point sort;
  *  - update: element-wise mean via [[graft.functions.VectorSumAgg]]
  *    (one d-length buffer per centroid × partition through the
  *    shuffle).
  *
  * Scale shape per iteration: one broadcast of k·d doubles, one
  * narrow scored pass over the vectors, one clustered shuffle for the
  * k-row centroid update. Centroids are collected to the driver
  * between iterations — k·d model state, bounded by the MODEL size,
  * not the data (the same footprint any iterative ML trainer keeps);
  * the data-sized work never leaves executors.
  *
  * Caveat (inherent to any distributed float trainer): centroid
  * coordinates are double sums whose partial-merge order follows the
  * shuffle, so two runs can differ in the last ulp and, for a point
  * near-equidistant to two centroids, flip an assignment. In-session
  * re-execution with a fixed partitioning is stable in practice
  * (pinned by KMeansSpec); bit-exact cross-engine parity would need
  * the decimal-explode update (v5's centroid path) at ~d× the
  * shuffle volume.
  */
object KMeans {

  /** squared L2 via dot products: |a|² + |c|² − 2·a·c (codegen'd). */
  private def sqDist(selfDot: org.apache.spark.sql.Column,
                     cDot: org.apache.spark.sql.Column,
                     cross: org.apache.spark.sql.Column) =
    selfDot + cDot - lit(2.0) * cross

  /** Fit k centroids; returns (centroids, assignments):
    * centroids = (cluster_id int, cvec array<double>);
    * assignments = (idCol, cluster_id, sq_dist).
    */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
          k: Int, maxIters: Int = 10): (DataFrame, DataFrame) = {
    require(k >= 1 && maxIters >= 1)
    val spark = vectors.sparkSession
    import spark.implicits._

    val base = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_vv", VectorOps.dot(col("_v"), col("_v")))

    // deterministic seeding: vectors of the k smallest ids
    var centroids: Seq[(Int, Seq[Double])] = base
      .orderBy(col(idCol)).limit(k)
      .select(col("_v")).collect()
      .map(_.getSeq[Double](0)).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq

    def assign(cents: Seq[(Int, Seq[Double])]): DataFrame = {
      val cdf = broadcast(
        cents.toDF("cluster_id", "cvec")
          .withColumn("_cc", VectorOps.dot(col("cvec"), col("cvec"))))
      val scored = base.crossJoin(cdf)
        .withColumn("sq_dist",
          sqDist(col("_vv"), col("_cc"), VectorOps.dot(col("_v"), col("cvec"))))
      graft.plans.TopK.perKey(scored, Seq(idCol),
        Seq(col("sq_dist"), col("cluster_id")), 1)
    }

    var iter = 0
    while (iter < maxIters) {
      val next = assign(centroids)
        .groupBy(col("cluster_id"))
        .agg(VectorAgg.vectorSum(col("_v")).as("vs"), count(lit(1)).as("n"))
        .select(col("cluster_id"),
          transform(col("vs"), x => x / col("n")).as("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      // empty clusters keep their previous centroid
      val byId = next.toMap
      centroids = centroids.map { case (i, old) => (i, byId.getOrElse(i, old)) }
      iter += 1
    }

    val centDf = centroids.toDF("cluster_id", "cvec")
    val assignments = assign(centroids)
      .select(col(idCol), col("cluster_id"), col("sq_dist"))
    (centDf, assignments)
  }

  /** Sum of squared distances of every point to its centroid. */
  def inertia(assignments: DataFrame): Double =
    assignments.agg(sum(col("sq_dist"))).head().getDouble(0)

  /** GROUPED k-means: trains one independent model per value of an
    * integer `groupCol` — in ONE shared Lloyd's loop. Where a caller
    * with m groups would otherwise run m sequential [[fit]]s
    * (m × iters scoring passes and driver round-trips), this runs
    * `iters` passes total: each scores every (group, point) row
    * against its group's broadcast centroids and performs one
    * (group × k)-row update collect. Same determinism contract as
    * [[fit]] (per-group k-smallest-id seeding, id tie-breaks, empty
    * clusters keep their previous centroid). Driver state is
    * groups·k·d doubles — model-sized for bounded group counts (PQ
    * subspaces, shards), which is this operator's intended domain.
    *
    * Returns (centroids (groupCol, cluster_id, cvec),
    *          assignments (groupCol, idCol, cluster_id, sq_dist)).
    */
  def fitGrouped(vectors: DataFrame, groupCol: String, idCol: String,
                 vecCol: String, k: Int, maxIters: Int = 10): (DataFrame, DataFrame) = {
    require(k >= 1 && maxIters >= 1)
    val spark = vectors.sparkSession
    import spark.implicits._

    val base = vectors
      .select(col(groupCol).cast("int").as("_g"), col(idCol),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_vv", VectorOps.dot(col("_v"), col("_v")))

    // per-group k-smallest-id seeding via the bounded-heap operator.
    // The driver-side sort must agree with TopK.perKey's column
    // ordering: for strings that is UTF8String BINARY order, which
    // differs from java.lang.String's UTF-16 order on supplementary-
    // plane code points — compare via UTF8String, not Comparable.
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    var centroids: Map[(Int, Int), Seq[Double]] =
      graft.plans.TopK.perKey(base, Seq("_g"), Seq(col(idCol)), k)
        .select(col("_g"), col(idCol), col("_v")).collect()
        .groupBy(_.getInt(0)).flatMap { case (g, rows) =>
          rows.sortWith((x, y) => cmp(x.get(1), y.get(1)) < 0).zipWithIndex.map {
            case (r, i) => ((g, i), r.getSeq[Double](2).toSeq)
          }
        }

    def centDf(c: Map[(Int, Int), Seq[Double]]): DataFrame =
      c.toSeq.map { case ((g, i), v) => (g, i, v) }
        .toDF("_g", "cluster_id", "cvec")

    def assign(c: Map[(Int, Int), Seq[Double]]): DataFrame = {
      val cdf = broadcast(
        centDf(c).withColumn("_cc", VectorOps.dot(col("cvec"), col("cvec"))))
      val scored = base.join(cdf, "_g")
        .withColumn("sq_dist",
          sqDist(col("_vv"), col("_cc"), VectorOps.dot(col("_v"), col("cvec"))))
      graft.plans.TopK.perKey(scored, Seq("_g", idCol),
        Seq(col("sq_dist"), col("cluster_id")), 1)
    }

    var iter = 0
    while (iter < maxIters) {
      val next = assign(centroids)
        .groupBy(col("_g"), col("cluster_id"))
        .agg(VectorAgg.vectorSum(col("_v")).as("vs"), count(lit(1)).as("n"))
        .select(col("_g"), col("cluster_id"),
          transform(col("vs"), x => x / col("n")).as("cvec"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toSeq))
        .toMap
      centroids = centroids.map { case (key, old) =>
        (key, next.getOrElse(key, old))
      }
      iter += 1
    }

    val cents = centDf(centroids).withColumnRenamed("_g", groupCol)
    val assignments = assign(centroids)
      .select(col("_g").as(groupCol), col(idCol), col("cluster_id"), col("sq_dist"))
    (cents, assignments)
  }

  /** CROSS-ENGINE-EXACT Lloyd's variant: same deterministic seeding
    * and tie-breaks as [[fit]], but centroid updates go through the
    * decimal-explode mean (each element cast to DECIMAL(25,10), an
    * order-independent exact sum, then one double division — the v5
    * centroid path), so every centroid coordinate, every squared
    * distance, and every assignment is bit-identical on any engine
    * and any partitioning. That buys a full oracle hash-check at ~d×
    * the update-shuffle volume of [[fit]]'s d-length-buffer path —
    * the right trade for verification runs; [[fit]] remains the
    * scale path. Differences from [[fit]]: `assignPasses` counts
    * assignment passes (updates happen between them), and a cluster
    * that receives no points drops out of the model instead of
    * keeping its stale centroid (mirrors the plain SQL semantics).
    * Returns the final (idCol, cluster_id, sq_dist) assignment.
    */
  def fitExact(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, assignPasses: Int): DataFrame =
    fitExactModel(vectors, idCol, vecCol, k, assignPasses)._2
      .select(col(idCol), col("cluster_id"), col("sq_dist"))

  /** [[fitExact]] exposing the model too: returns
    * (centroids (cluster_id, cvec), full final assignment rows).
    * The centroids are the engine-independent decimal-mean model —
    * what [[Ivf.buildExact]] probes. */
  def fitExactModel(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, assignPasses: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && assignPasses >= 1)
    val spark = vectors.sparkSession
    import spark.implicits._

    val base = vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_vv", VectorOps.dot(col("_v"), col("_v")))

    def assign(c: DataFrame): DataFrame = {
      val cdf = broadcast(c.withColumn("_cc", VectorOps.dot(col("cvec"), col("cvec"))))
      val scored = base.crossJoin(cdf)
        .withColumn("sq_dist",
          sqDist(col("_vv"), col("_cc"), VectorOps.dot(col("_v"), col("cvec"))))
      graft.plans.TopK.perKey(scored, Seq(idCol),
        Seq(col("sq_dist"), col("cluster_id")), 1)
    }

    // k-smallest-ids seeding (model-sized driver collect, like fit)
    var cent: DataFrame = base.orderBy(col(idCol)).limit(k)
      .select(col("_v")).collect()
      .map(_.getSeq[Double](0).toSeq).zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq
      .toDF("cluster_id", "cvec")

    for (_ <- 1 until assignPasses) {
      cent = assign(cent)
        .select(col("cluster_id"), posexplode(col("_v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg((sum(col("x").cast("decimal(25,10)")).cast("double") /
          count(lit(1))).as("cv"))
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dc"))
        .select(col("cluster_id"),
          transform(col("dc"), x => x.getField("cv")).as("cvec"))
        .cutLineage(true) // cut lineage per pass (iterative loop)
    }
    (cent, assign(cent))
  }
}
