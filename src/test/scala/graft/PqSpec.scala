package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pq, VectorOps}

/** Contracts for the product-quantization index (ops.Pq), which has
  * no SQL oracle (quantized scores, float-trained codebooks):
  *  - codes are well-formed (m per vector, each in [0, k));
  *  - ADC identity: the LUT score of a candidate EQUALS the dot
  *    product of the query with the candidate's reconstruction
  *    (up to float re-association);
  *  - reconstruction beats the zero-vector baseline (quantizer
  *    actually learned something);
  *  - recall@3 vs exact brute force is non-trivial on the fixture.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4
  private val K = 8
  private lazy val emb = Tables.load(spark, Sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private lazy val index = Pq.build(emb, "vec_id", "embedding",
    dim = 64, m = M, k = K, iters = 3)

  test("codes are well-formed: m codes per vector, each in [0, k)") {
    val bad = index.encoded
      .filter(size(col("code")) =!= M ||
        exists(col("code"), c => c < 0 || c >= K))
      .count()
    assert(bad == 0)
    assert(index.encoded.count() == emb.count())
    assert(index.codebooks.count() == M * K)
  }

  test("ADC score equals dot(query, reconstruction) up to re-association") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val adc = Pq.search(index, q, topK = 5)
    val recon = Pq.reconstruct(index)
    val direct = q.crossJoin(recon.withColumnRenamed("vec_id", "nb_id"))
      .withColumn("direct",
        VectorOps.dot(col("qvec").cast("array<double>"), col("vec_hat")))
      .select(col("qid"), col("nb_id"), col("direct"))
    val joined = adc.join(direct, Seq("qid", "nb_id"))
      .select(col("qid"), col("nb_id"), col("score"), col("direct"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9,
        s"qid=${r.get(0)} nb=${r.get(1)}: adc=${r.getDouble(2)} direct=${r.getDouble(3)}")
    }
  }

  test("reconstruction error beats the zero-vector baseline") {
    val joined = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(Pq.reconstruct(index), "vec_id")
      .withColumn("err2",
        aggregate(zip_with(col("v"), col("vec_hat"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("norm2", VectorOps.dot(col("v"), col("v")))
      .agg(avg(col("err2")).as("mse"), avg(col("norm2")).as("baseline"))
      .head()
    val (mse, baseline) = (joined.getDouble(0), joined.getDouble(1))
    assert(mse < baseline,
      s"quantizer learned nothing: mse=$mse baseline=$baseline")
  }

  test("recall@3 vs exact brute force is non-trivial") {
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("raw", VectorOps.dot(
        col("qvec").cast("array<double>"), col("embedding").cast("array<double>")))
    val exactTop = graft.plans.TopK.perKey(exact, Seq("qid"),
        Seq(col("raw").desc, col("vec_id")), 3)
      .select(col("qid"), col("vec_id").as("nb_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqTop = Pq.search(index, q, topK = 3)
      .select(col("qid"), col("nb_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // The fixture embeddings are RANDOM — the adversarial case for
    // PQ (no cluster structure, dot-product ranks separated by ~one
    // quantization cell). The meaningful contract is "far above
    // chance": chance recall@3 over ~500 candidates is 3/499 ≈ 0.006;
    // we require ≥ 10× that. (Measured: ~0.13 ≈ 22× chance.)
    val recall = (exactTop & pqTop).size.toDouble / exactTop.size
    val chance = 3.0 / (emb.count() - 1)
    assert(recall >= 10 * chance,
      s"recall@3 at chance level: $recall vs chance $chance (pq=$pqTop exact=$exactTop)")
  }

  test("a finer quantizer (m=8) reconstructs better than m=4") {
    def mse(ix: Pq.Index): Double = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(Pq.reconstruct(ix), "vec_id")
      .withColumn("err2",
        aggregate(zip_with(col("v"), col("vec_hat"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      .agg(avg(col("err2"))).head().getDouble(0)
    val finer = Pq.build(emb, "vec_id", "embedding", dim = 64, m = 8, k = K, iters = 3)
    assert(mse(finer) < mse(index))
  }

  test("v28: the refine stage serves EXACT scores, exactly ranked, from within the shortlist") {
    val out = SparkEntry.queries("v28_pq_refine")(spark, Sf0001).collect()
    assert(out.nonEmpty)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    // every served score is the FULL-WIDTH dot product — quantization
    // error may pick the shortlist but never the served numbers
    out.foreach { r =>
      val exact = dot(vecs(r.getAs[Long]("qid")), vecs(r.getAs[Long]("nb_id")))
      assert(math.abs(r.getAs[Double]("score") -
        math.rint(exact * 10000) / 10000) < 1e-9,
        s"served score must be the exact dot product for $r")
    }
    // ranks are dense from 1 and scores non-increasing per query
    out.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("nb_rank"))
      assert(sorted.map(_.getAs[Int]("nb_rank")).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall(p => p.length < 2 ||
        p(0).getAs[Double]("score") >= p(1).getAs[Double]("score")))
    }
  }
}
