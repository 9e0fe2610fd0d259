package graft

import org.apache.spark.sql.functions._
import graft.functions.HeavyHittersAgg

/** Misra–Gries candidate guarantee behind x10: no term above the
  * frequency threshold may ever be missing from the summary,
  * regardless of partitioning (the merge rule must preserve the
  * bound). Exactness of the final answer rides on this.
  */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // skewed stream: term "hot_i" appears (20-i)*50 times for i<5,
  // plus 4000 distinct singletons as noise
  private def stream: Seq[String] = {
    val hot = (0 until 5).flatMap(i => Seq.fill((20 - i) * 50)(s"hot_$i"))
    val noise = (0 until 4000).map(i => s"noise_$i")
    hot ++ noise
  }

  private def candidates(k: Int, parts: Int): Set[String] = {
    stream.toDF("term").repartition(parts)
      .agg(HeavyHittersAgg.heavyHitters(col("term"), k).as("c"))
      .select(explode(col("c")).as("t")).as[String].collect().toSet
  }

  test("every term above n/(k+1) survives, under 1 and 8 partitions") {
    val n = stream.size
    val k = 100
    for (parts <- Seq(1, 8)) {
      val got = candidates(k, parts)
      val mustHave = stream.groupBy(identity).collect {
        case (t, occ) if occ.size > n / (k + 1) => t
      }.toSet
      assert(mustHave.nonEmpty, "test needs real heavy hitters")
      assert(mustHave.subsetOf(got),
        s"parts=$parts: missing ${mustHave -- got} from MG summary")
      assert(got.size <= k, s"summary must stay capped at k, got ${got.size}")
    }
  }

  test("aggregate is streaming-safe: complete-mode summary matches batch candidates") {
    // mergeability is exactly what Structured Streaming needs — the
    // state store keeps the serialized MG buffer and merges each
    // micro-batch's partials into it
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("hhstream").toString
    val (b1, b2) = stream.splitAt(stream.size / 2)
    b1.toDF("term").write.mode("append").parquet(dir)
    val q = spark.readStream.schema("term string").parquet(dir)
      .agg(HeavyHittersAgg.heavyHitters(col("term"), 100).as("c"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hh_out").start()
    try {
      q.processAllAvailable()
      b2.toDF("term").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("hh_out")
        .select(explode(col("c")).as("t")).as[String].collect().toSet
      val n = stream.size
      val mustHave = stream.groupBy(identity).collect {
        case (t, occ) if occ.size > n / 101 => t
      }.toSet
      assert(mustHave.subsetOf(got),
        s"streaming summary lost heavy hitters: ${mustHave -- got}")
      assert(got.size <= 100)
    } finally q.stop()
  }

  test("two-pass exact answer is partition-invariant") {
    // the x10 shape in miniature: candidates -> exact recount ->
    // threshold; must be identical however the input is partitioned
    val n = stream.size
    def exact(parts: Int): Seq[(String, Long)] = {
      val df = stream.toDF("term").repartition(parts)
      val cand = df.agg(HeavyHittersAgg.heavyHitters(col("term"), 100).as("c"))
        .select(explode(col("c")).as("term"))
      df.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 20 > n)
        .orderBy(col("cnt").desc, col("term"))
        .as[(String, Long)].collect().toSeq
    }
    assert(exact(1) == exact(8))
    assert(exact(1).nonEmpty)
  }
}
