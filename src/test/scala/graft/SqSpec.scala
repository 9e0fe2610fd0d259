package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sq, VectorOps}

/** Scalar-quantization contracts: code range, the per-element
  * reconstruction bound |x − scale·code| ≤ scale/2, and the induced
  * score-error bound |s·<q,c> − <q,x>| ≤ (scale/2)·Σ|q_i|.
  */
class SqSpec extends SparkSpec {

  private lazy val embs = Tables.load(spark, Sf001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  test("codes stay in [-127, 127] and scale is max|x|/127") {
    val enc = Sq.encode(embs, "vec_id", "embedding")
    val bad = enc.select(explode(col("codes")).as("c"))
      .filter(col("c") > 127 || col("c") < -127).count()
    assert(bad == 0)
    val chk = embs.join(enc, "vec_id")
      .withColumn("maxabs", aggregate(col("embedding").cast("array<double>"),
        lit(0.0), (a, x) => greatest(a, abs(x))))
      .filter(abs(col("scale") * 127 - col("maxabs")) > 1e-12)
    assert(chk.count() == 0)
  }

  test("reconstruction error is bounded by scale/2 per element") {
    val enc = Sq.encode(embs, "vec_id", "embedding")
    val bad = embs.join(Sq.reconstruct(enc, "vec_id"), "vec_id")
      .join(enc.select(col("vec_id"), col("scale")), "vec_id")
      .withColumn("err", aggregate(
        zip_with(col("embedding").cast("array<double>"), col("vec_hat"),
          (x, xh) => abs(x - xh)),
        lit(0.0), (a, e) => greatest(a, e)))
      // strict bound is scale/2; allow float slack
      .filter(col("err") > col("scale") / 2 + lit(1e-9))
    assert(bad.count() == 0)
  }

  test("asymmetric scores land within the quantization bound of exact dots") {
    val enc = Sq.encode(embs, "vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val rows = embs.join(enc, "vec_id").crossJoin(broadcast(q))
      .withColumn("exact",
        VectorOps.dot(col("qe").cast("array<double>"),
          col("embedding").cast("array<double>")))
      .withColumn("approx", Sq.score(col("qe"), col("scale"), col("codes")))
      .withColumn("qabs", aggregate(col("qe").cast("array<double>"),
        lit(0.0), (a, x) => a + abs(x)))
      .filter(abs(col("approx") - col("exact")) >
        col("scale") / 2 * col("qabs") + lit(1e-9))
    assert(rows.count() == 0)
  }

  test("v11 ranks by the quantized score with deterministic ties") {
    val out = SparkEntry.queries("v11_knn_sq8")(spark, Sf001).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rows =>
      assert(rows.length <= 3)
      val scores = rows.sortBy(_.getAs[Int]("nb_rank")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }
}
