package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomContains
import graft.sources.Snapshots

/** x62's per-file Bloom data-skipping index: the one-pass per-group
  * build is sound (no false negatives — every shard truly holding a
  * key survives the probe), the pruned read is EXACT against the
  * unpruned filter, and the skipping is physical — the surviving
  * scan's input files all live under probed shard directories.
  */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("bloomskip").toString + "/t"

  test("per-shard bloom index: sound probe, exact pruned read, physical file skipping") {
    val dir = freshDir()
    // 4 shards; key 7 lives ONLY in shards s0 and s2 — a scattered
    // key layout where min/max zone maps (all shards span 1..999)
    // cannot prune anything
    val rows = Seq(
      (7L, "s0", 1.0), (999L, "s0", 2.0),
      (500L, "s1", 3.0), (1L, "s1", 4.0),
      (7L, "s2", 5.0), (7L, "s2", 6.0),
      (400L, "s3", 7.0), (999L, "s3", 8.0))
    Snapshots.commit(
      rows.toDF("k", "shard", "x").repartition(col("shard")),
      dir, partitionBy = Seq("shard"))
    val idx = Snapshots.read(spark, dir, Some(1))
      .groupBy(col("shard"))
      .agg(BloomContains.bloomAgg(col("k"), 100L, 1600L).as("bloom"))
      .collect()
      .map(r => (r.getString(0), BloomContains.deserialize(r.getAs[Array[Byte]](1))))
    assert(idx.length == 4)
    val hit = idx.collect { case (sh, bf) if bf.mightContainLong(7L) => sh }.toIndexedSeq
    // soundness: the true shards are always in the probe result
    assert(Set("s0", "s2").subsetOf(hit.toSet))
    val pruned = Snapshots.read(spark, dir, Some(1))
      .filter(col("shard").isin(hit: _*))
      .filter(col("k") === 7L)
    // exactness: identical to the unpruned filter
    assert(pruned.agg(count(lit(1)), sum(col("x"))).collect().head.toSeq ==
      Seq(3L, 12.0))
    // the skip is physical: the shard membership is a PARTITION
    // filter (directory pruning at listing time, not a post-scan
    // residual), and every file actually touched at execution lives
    // under a probed shard dir
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.replaceAll(
        "(?s).*PartitionFilters: (\\[[^\\]]*\\]).*", "$1").contains("shard"),
      "shard membership must be a partition filter")
    val touched = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty &&
      touched.forall(f => hit.exists(sh => f.contains(s"shard=$sh"))))
    assert(hit.length < idx.length)
  }

  test("partial merge across tasks equals a single-task build") {
    val many = spark.range(0, 2000).select((col("id") % 97).as("k"))
    def buildWith(parts: Int) = {
      val bytes = many.repartition(parts)
        .agg(BloomContains.bloomAgg(col("k"), 200L, 3200L).as("b"))
        .collect().head.getAs[Array[Byte]](0)
      BloomContains.deserialize(bytes)
    }
    val merged = buildWith(8)
    // no false negatives regardless of how many partial states merged
    (0L until 97L).foreach(k => assert(merged.mightContainLong(k)))
    val single = buildWith(1)
    (0L until 97L).foreach(k => assert(single.mightContainLong(k)))
  }
}
