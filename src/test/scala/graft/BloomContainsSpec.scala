package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.BloomContains

/** The Bloom membership probe behind d9's decontamination prefilter:
  * the sketch may admit false positives (bounded by fpp) but NEVER
  * false negatives — that asymmetry is what makes it an admissible
  * prune in front of an exact semi-join.
  */
class BloomContainsSpec extends SparkSpec {

  private def filterOf(values: Seq[Long], expected: Long = 10000L): BloomFilter = {
    val bf = BloomFilter.create(expected, 0.01)
    values.foreach(bf.putLong)
    bf
  }

  test("no false negatives: every inserted hash probes true (codegen path)") {
    import spark.implicits._
    val inserted = (0L until 2000L).map(i => i * 2654435761L)
    val bf = filterOf(inserted)
    val df = inserted.toDF("h")
    val n = df.filter(BloomContains.contains(col("h"), bf)).count()
    assert(n == inserted.size, "a Bloom filter must never drop an inserted element")
  }

  test("false-positive rate is near the configured fpp") {
    import spark.implicits._
    val inserted = (0L until 2000L).map(i => i * 2654435761L)
    val bf = filterOf(inserted)
    // disjoint probe set (odd multiples of a different stride)
    val absent = (0L until 20000L).map(i => i * 7919L + 1L)
    val hits = absent.toDF("h")
      .filter(BloomContains.contains(col("h"), bf)).count()
    assert(hits.toDouble / absent.size < 0.05,
      s"fpp should be ~0.01, got ${hits.toDouble / absent.size}")
  }

  test("interpreted eval matches the generated path") {
    val bf = filterOf(Seq(42L, 99L))
    val expr = BloomContains(
      org.apache.spark.sql.catalyst.expressions.Literal(42L),
      BloomContains.serialize(bf))
    assert(expr.eval(null) == true)
    val expr2 = BloomContains(
      org.apache.spark.sql.catalyst.expressions.Literal(Long.MaxValue - 17L),
      BloomContains.serialize(bf))
    // not inserted: overwhelmingly likely false at fpp 0.01
    assert(expr2.eval(null) == false)
  }

  test("non-foldable filter argument is rejected with a clear error") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types.{BinaryType, LongType}
    val e = intercept[IllegalArgumentException] {
      BloomContains.build(Seq(Literal(1L),
        AttributeReference("b", BinaryType)()))
    }
    assert(e.getMessage.contains("BINARY literal"))
  }
}
