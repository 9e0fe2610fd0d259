package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedCount equals plain groupBy count, including hot keys") {
    val df = (Seq.fill(5000)("hot") ++ (1 to 200).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("key", "row_id")
    val salted = Skew.saltedCount(df, "key", shards = 8, tieBreak = "row_id")
    val plain = df.groupBy("key").agg(count(lit(1)).as("n"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("salt is deterministic and within range") {
    val df = (1 to 100).map(_.toLong).toDF("id")
    val s1 = df.select(Skew.salt(8, col("id")).as("s")).collect().map(_.getInt(0))
    val s2 = df.select(Skew.salt(8, col("id")).as("s")).collect().map(_.getInt(0))
    assert(s1.toSeq == s2.toSeq)
    assert(s1.forall(s => s >= 0 && s < 8))
  }

  test("saltedJoin equals the plain join and exchanges on (key, salt)") {
    val probe = (Seq.fill(3000)("hot") ++ (1 to 50).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("key", "row_id")
    val build = (Seq("hot") ++ (1 to 50).map(i => s"k$i"))
      .map(k => (k, k.length.toLong)).toDF("key", "v")
    val salted = Skew.saltedJoin(probe, build, "key", shards = 8,
      tieBreak = "row_id")
    val plain = probe.join(build, Seq("key"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // the probe exchange must spread on the composite (key, _salt)
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("_salt"),
      s"salted join must partition on the composite key:\n$p")
    // left join keeps unmatched probe rows exactly once
    val probeExtra = probe.union(Seq(("orphan", 9999L)).toDF("key", "row_id"))
    val left = Skew.saltedJoin(probeExtra, build, "key", 8, "row_id", "left")
    assert(left.filter(col("key") === "orphan").count() == 1)
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(probe, build, "key", 8, "row_id", "full")
    }
  }

  test("withDfCap drops keys above the document-frequency cap") {
    val df = Seq(
      ("common", 1L), ("common", 2L), ("common", 3L),
      ("rare", 1L), ("rare", 2L)).toDF("key", "doc")
    val out = Skew.withDfCap(df, "key", "doc", maxDf = 2)
    assert(out.select("key").distinct().as[String].collect().toSeq == Seq("rare"))
  }
}
