package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("dot product: codegen expression equals higher-order-function form") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (Array(-1.5f, 2.5f, 0.5f), Array(2.0f, -3.0f, 4.0f))
    ).toDF("a", "b")
    val rows = df.select(
      VectorOps.dot(col("a"), col("b")).as("native"),
      VectorOps.dotHof(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows.head.getDouble(0) == 32.0)
  }

  test("dot handles double arrays and mixed types") {
    val df = Seq((Array(1.0, 2.0), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(VectorOps.dot(col("a"), col("b"))).head.getDouble(0) == 11.0)
  }

  test("dot is null-safe") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df.select(VectorOps.dot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("l2norm and cosine on known vectors") {
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      VectorOps.l2norm(col("a")).as("n"),
      VectorOps.cosine(col("a"), col("b")).as("c")).head
    assert(r.getDouble(0) == 5.0)
    assert(math.abs(r.getDouble(1) - 24.0 / 25.0) < 1e-12)
  }

  test("cosine(v, v) == 1 for normalized v; zero vector -> 0") {
    val df = Seq((Array(0.6f, 0.8f), Array(0.0f, 0.0f))).toDF("v", "z")
    val r = df.select(
      VectorOps.cosine(col("v"), col("v")).as("self"),
      VectorOps.cosine(col("v"), col("z")).as("zero")).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-7)
    assert(r.getDouble(1) == 0.0)
  }

  test("topK returns k best with deterministic tiebreak") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.0f))
    ).toDF("id", "embedding")
    val q = array(lit(1.0f), lit(0.0f))
    val got = VectorOps.topK(corpus, "embedding", q, 3, "id")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L, 2L)) // ties (1,4) broken by id
  }
}
