package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorAgg

class VectorAggSpec extends SparkSpec {
  import spark.implicits._

  test("vectorSum: element-wise sum across rows") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)), (1, Array(10.0f, 20.0f)))
      .toDF("g", "v")
    val out = df.groupBy("g").agg(VectorAgg.vectorSum(col("v")).as("vs"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(4.0, 6.0))
    assert(out(1).getSeq[Double](1) == Seq(10.0, 20.0))
  }

  test("vectorSum skips null rows, all-null group yields null") {
    val df = Seq((0, Some(Array(1.0f))), (0, None), (1, None)).toDF("g", "v")
    val out = df.groupBy("g").agg(VectorAgg.vectorSum(col("v")).as("vs"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(1.0))
    assert(out(1).isNullAt(1))
  }

  test("centroids from vectorSum match the exact explode-based path") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val fast = e.groupBy(col("label"))
      .agg(VectorAgg.vectorSum(col("embedding")).as("vs"), count(lit(1)).as("n"))
      .select(col("label"), transform(col("vs"), x => x / col("n")).as("cvec"))
    val exact = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v").cast("double").cast("decimal(25,10)")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dc"))
      .select(col("label"), transform(col("dc"), x => x.getField("cv")).as("cvec_exact"))
    val joined = fast.join(exact, "label")
      .select(col("label"),
        aggregate(zip_with(col("cvec"), col("cvec_exact"), (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_diff"))
    assert(joined.filter(col("max_diff") > 1e-9).count() == 0)
  }

  test("v6_knn_ivf_fast agrees with oracle-exact v5 and publishes v5's rows") {
    // v6's compared output is v5's decimal-exact result + the
    // agrees_exact verdict of the float-agg fast path — assert the
    // verdict holds on every row AND the published columns are
    // exactly v5's, at BOTH fixture scales.
    for (d <- Seq(Sf0001, Sf001)) {
      val v5 = graft.queries.VectorQ.defs("v5_knn_ivf")(spark, d).collect().toSeq
      val v6 = graft.queries.ExtQ.defs("v6_knn_ivf_fast")(spark, d).collect().toSeq
      assert(v6.nonEmpty && v6.forall(_.getAs[Boolean]("agrees_exact")),
        s"fast path diverged from exact v5 at $d")
      val published = v6.map(r => (r.getAs[Long]("qid"), r.getAs[Any]("probe_label"),
        r.getAs[Long]("nb_id"), r.getAs[Int]("nb_rank"), r.getAs[Double]("score")))
      val expected = v5.map(r => (r.getAs[Long]("qid"), r.getAs[Any]("probe_label"),
        r.getAs[Long]("nb_id"), r.getAs[Int]("nb_rank"), r.getAs[Double]("score")))
      assert(published == expected, s"published rows differ from v5 at $d")
    }
  }
}
