package graft

import org.apache.spark.sql.functions._
import graft.ops.DedupCluster

class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("chained pairs collapse into one component with min representative") {
    // 1~2, 2~3, 3~4 (chain) + isolated pair 10~11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val out = DedupCluster.clusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges within iteration bound") {
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = DedupCluster.clusters(pairs, maxIters = 10)
    assert(out.filter(col("rep_id") =!= 1L).count() == 0)
  }

  test("reliable checkpoint mode matches local mode and requires a checkpoint dir") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    // without a checkpoint dir the reliable mode must fail fast
    val prior = spark.sparkContext.getCheckpointDir
    if (prior.isEmpty)
      intercept[IllegalArgumentException] {
        DedupCluster.clusters(pairs, reliable = true)
      }
    val dir = java.nio.file.Files.createTempDirectory("dc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = DedupCluster.clusters(pairs, reliable = true)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = DedupCluster.clusters(pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(reliable == local)
    // the reliable run actually wrote checkpoint files
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty)
  }

  test("end-to-end: minhash pairs -> clusters -> representative set") {
    val dir = java.nio.file.Files.createTempDirectory("dc").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq((0L, base), (1L, base + " x"), (2L, base + " y"), // near-dup triple
      (3L, (100 to 140).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val pairs = graft.queries.DedupQ.defs("d3_dedup_minhash")(spark, dir)
    val reps = DedupCluster.clusters(pairs).select("rep_id").as[Long].collect().toSet
    assert(reps == Set(0L)) // docs 0,1,2 cluster; doc 3 has no pairs
  }

  test("k24: the size distribution tiles k15's node set exactly") {
    val hist = SparkEntry.queries("k24_component_sizes")(spark, Sf0001).collect()
    val comp = SparkEntry.queries("k15_components")(spark, Sf0001)
    val nNodes = comp.count()
    val nComponents = comp.select("component").distinct().count()
    assert(hist.map(r => r.getAs[Long]("n_nodes")).sum == nNodes,
      "size × count must tile the node set with no gap or overlap")
    assert(hist.map(_.getAs[Long]("n_components")).sum == nComponents)
    assert(hist.forall(r =>
      r.getAs[Long]("n_nodes") ==
        r.getAs[Long]("size") * r.getAs[Long]("n_components")))
  }
}
