package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextFns

/** The native Generator chunker must be row-for-row equivalent to an
  * INDEPENDENT composed-form reference (explode over computed window
  * starts + slice/when columns — the original v1 implementation,
  * preserved here as the semantic oracle after production Chunker
  * switched to the Generator; without this copy the equivalence test
  * would compare the Generator with itself).
  */
class ChunkGeneratorSpec extends SparkSpec {
  import spark.implicits._

  /** v1 composed-form reference implementation (built-ins only). */
  private def composedChunk(df: DataFrame, idCol: String, sectionCol: String,
                            textCol: String, size: Int, overlap: Int,
                            minWords: Int): DataFrame = {
    val stride = size - overlap
    val isAbstract = col(sectionCol) === "abstract"
    val starts =
      when(isAbstract, array(lit(0)))
        .otherwise(
          filter(
            sequence(lit(0), greatest(col("_n") - 1, lit(0)), lit(stride)),
            s => s === 0 || s + lit(overlap) < col("_n")))
    df.withColumn("_words", TextFns.tokens(col(textCol)))
      .withColumn("_n", TextFns.wordCount(col(textCol)))
      .filter(col("_n") >= minWords)
      .withColumn("_start", explode(starts))
      .withColumn("chunk_ord",
        when(isAbstract, lit(0)).otherwise((col("_start") / stride).cast("int")))
      .withColumn("word_count",
        when(isAbstract, col("_n"))
          .otherwise(least(col("_n") - col("_start"), lit(size))).cast("int"))
      .filter(col("word_count") >= minWords)
      .withColumn("text_content",
        array_join(
          slice(col("_words"), col("_start") + 1,
            when(isAbstract, col("_n")).otherwise(lit(size))), " "))
      .drop("_words", "_n", "_start")
  }

  private def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  private def compare(df: DataFrame): Unit = {
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("gen_docs")
    val viaGen = spark.sql(
      """SELECT paper_id, chunk_ord, start, word_count, text_content
        |FROM gen_docs
        |LATERAL VIEW chunk_windows(text, section_name, 200, 30, 30) t
        |  AS chunk_ord, start, word_count, text_content
        |""".stripMargin)
      .orderBy("paper_id", "chunk_ord")
      .collect()
    val viaComposed = composedChunk(df, "paper_id", "section_name", "text", 200, 30, 30)
      .select(col("paper_id"), col("chunk_ord"), col("word_count"), col("text_content"))
      .orderBy("paper_id", "chunk_ord")
      .collect()
    assert(viaGen.length == viaComposed.length,
      s"${viaGen.length} generator rows vs ${viaComposed.length} composed rows")
    viaGen.zip(viaComposed).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      assert(g.getInt(1) == e.getInt(1))             // chunk_ord
      assert(g.getInt(3) == e.getInt(2))             // word_count
      assert(g.getString(4) == e.getString(3))       // text_content
    }
  }

  test("generator output equals the composed reference on varied lengths") {
    val ns = Seq(1, 29, 30, 199, 200, 201, 370, 371, 545, 1000)
    compare(ns.map(n => (s"p$n", "body", words(n))).toDF("paper_id", "section_name", "text"))
  }

  test("generator matches composed reference on un-normalized whitespace") {
    // trailing newline / tabs / multi-space runs: Spark's trim strips
    // U+0020 only and split keeps trailing empties — the generator
    // must reproduce that, not Java's trim/split defaults.
    val tricky = Seq(
      ("t1", "body", words(40) + "\n"),
      ("t2", "body", "\t" + words(35)),
      ("t3", "body", words(31).replace(" w7 ", "   w7\t\t")),
      ("t4", "body", "  " + words(33) + "  "),
      ("t5", "abstract", words(45) + "\n\n"))
      .toDF("paper_id", "section_name", "text")
    compare(tricky)
  }

  test("abstract sections yield one whole-section chunk in both forms") {
    compare(Seq(("a1", "abstract", words(500)), ("a2", "abstract", words(35)),
      ("b1", "body", words(500)))
      .toDF("paper_id", "section_name", "text"))
  }

  test("generator handles null/empty/short text") {
    GraftExtensions.install(spark)
    Seq(("a", null: String), ("b", ""), ("c", "too short"))
      .toDF("id", "text").createOrReplaceTempView("gen_edge")
    val out = spark.sql(
      "SELECT id FROM gen_edge LATERAL VIEW chunk_windows(text, 200, 30, 30) t " +
        "AS chunk_ord, start, word_count, text_content")
    assert(out.count() == 0)
  }
}
