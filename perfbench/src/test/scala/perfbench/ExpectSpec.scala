package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.query.Tools

/** The plain-Scala expectation agrees with the engine on a small
  * generated corpus, so a check failure in a run means the engine
  * changed its answer. */
class ExpectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val dir = Files.createTempDirectory(Files.createDirectories(java.nio.file.Paths.get("target")), "perfbench-expect")

  override def afterAll(): Unit = {
    spark.stop()
    Run.deleteRecursively(dir)
  }

  test("corpus counts and the brute-force top-k match the engine") {
    val docs = Gen.docs(11, 400)
    val vecs = Gen.vecs(11, 160)
    Gen.writeCorpus(spark, dir.toString, docs, vecs, files = 2)
    val (corpus, counts) = Serve.buildCorpus(spark, dir.toString, withGraph = true)
    val chunks = Expect.chunks(docs, vecs)
    assert(counts == Expect.ingestCounts(chunks))

    val q = Gen.queryVec(11)
    val hits = Tools.searchPapers(corpus.chunksV, Serve.vecColumn(q), 5).collect()
    val want = Expect.citations(Expect.ranking(chunks, q), 5)
    assert(hits.map(_.getAs[String]("chunk_id")).toSeq == want.map(_.chunkId))
    assert(hits.map(_.getAs[Double]("score")).toSeq == want.map(_.score))
    val context = Tools.summarizeContext(corpus.chunksV.sparkSession
      .createDataFrame(java.util.Arrays.asList(hits: _*), hits.head.schema)).head().getString(0)
    assert(context == Expect.answer(want))
  }
}
