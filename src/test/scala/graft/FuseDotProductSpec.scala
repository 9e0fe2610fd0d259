package graft

import org.apache.spark.sql.functions._
import graft.functions.DotProduct
import graft.ops.VectorOps

/** The HOF-dot-product fusion rule: plan rewrite fires on the exact
  * portable pattern, preserves results bitwise, and leaves
  * non-matching aggregates alone.
  */
class FuseDotProductSpec extends SparkSpec {

  private lazy val ruleInstalled = { GraftExtensions.install(spark); true }

  private def hasDotProduct(df: org.apache.spark.sql.DataFrame): Boolean = {
    var found = false
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case d: DotProduct => found = true; d
    }
    found
  }

  test("HOF dot product is rewritten to the fused DotProduct expression") {
    assert(ruleInstalled)
    val e = Tables.load(spark, Sf0001, "embeddings")
    val df = e.select(col("vec_id"),
      VectorOps.dotHof(col("embedding"), col("embedding")).as("s"))
    assert(hasDotProduct(df), df.queryExecution.optimizedPlan.toString)
  }

  test("rewrite preserves results bitwise vs both original forms") {
    assert(ruleInstalled)
    val e = Tables.load(spark, Sf0001, "embeddings")
    val both = e.select(
      VectorOps.dotHof(col("embedding"), col("embedding")).as("hof"),
      VectorOps.dot(col("embedding"), col("embedding")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("rewrite preserves NULL semantics: unequal lengths and null elements") {
    assert(ruleInstalled)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("tag", IntegerType),
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(0, Seq(1.0, 2.0), Seq(3.0, 4.0)),        // clean -> 11.0
      Row(1, Seq(1.0, 2.0, 9.0), Seq(3.0, 4.0)),   // unequal length -> null
      Row(2, Seq(1.0, null), Seq(3.0, 4.0)),        // null element -> null
      Row(3, null, Seq(3.0, 4.0)))                  // null array -> null
    // via parquet: ConvertToLocalRelation would otherwise fold the
    // whole projection before extra optimizer rules run
    val dir = java.nio.file.Files.createTempDirectory("fusenull").toString
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("tag"), VectorOps.dotHof(col("a"), col("b")).as("s"))
    assert(hasDotProduct(df), "rule should fire with runtime guards")
    val out = df.orderBy("tag").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(out(0) == 11.0)
    assert(out(1) == null && out(2) == null && out(3) == null)
  }

  test("non-matching aggregates are left untouched") {
    assert(ruleInstalled)
    val e = Tables.load(spark, Sf0001, "embeddings")
    // zero != 0.0 and a max-merge: must NOT fuse
    val df = e.select(aggregate(
      zip_with(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>"), (x, y) => x * y),
      lit(1.0), (acc, v) => greatest(acc, v)).as("m"))
    assert(!hasDotProduct(df))
    assert(df.count() == 500)
  }
}
