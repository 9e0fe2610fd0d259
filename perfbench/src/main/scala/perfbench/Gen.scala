package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated input document, shaped like the `documents` fixture. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** One generated vector, shaped like the `embeddings` fixture. */
final case class Vec(id: Long, v: Array[Float], label: Int)

/** One `/query` request of a serve workload. */
final case class Request(question: String, topK: Int, graph: Boolean) {
  def json: String = Json.obj("question" -> question, "top_k" -> topK)
}

/** Seeded input generator. The same seed always gives the same inputs.
  *
  * The corpus matches the sf0.1 `documents`/`embeddings` fixtures in
  * size, vocabulary and length distribution: 5,000 documents of 10-100
  * words drawn uniformly from the fixtures' 30-word vocabulary, 5% of
  * them near-duplicates (another document's text plus ` dup`), and
  * 2,000 unit-length 64-dim vectors keyed by document id.
  */
object Gen {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Vocabulary words the ingest entity extractor keeps (>= 3 chars,
    * not a stopword): the words a graph-cue question can seed on. */
  val EntityWords: IndexedSeq[String] =
    Vocab.filter(w => w.length >= 3 && !graft.ops.Entities.stopwords.contains(w))

  private val Langs = IndexedSeq("en" -> 0.41, "de" -> 0.14, "es" -> 0.15,
    "fr" -> 0.15, "zh" -> 0.15)

  val Dim = 64

  def docs(seed: Long, n: Int): Array[Doc] = {
    val r = new java.util.SplittableRandom(seed * 31 + 1)
    val base = Array.tabulate(n) { i =>
      val words = 10 + r.nextInt(91)
      val text = Array.fill(words)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      var u = r.nextDouble()
      val lang = Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
      Doc(i.toLong, text, lang, s"src${i % 20}")
    }
    val out = base.clone()
    val dups = scala.collection.mutable.LinkedHashSet[Int]()
    while (dups.size < n / 20) dups += r.nextInt(n)
    dups.foreach { d =>
      var src = r.nextInt(n)
      while (src == d) src = r.nextInt(n)
      out(d) = base(d).copy(text = base(src).text + " dup")
    }
    out
  }

  private def unit(r: java.util.SplittableRandom): Array[Float] = {
    val g = new java.util.Random(r.nextLong())
    val v = Array.fill(Dim)(g.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def vecs(seed: Long, n: Int): Array[Vec] = {
    val r = new java.util.SplittableRandom(seed * 31 + 2)
    Array.tabulate(n)(i => Vec(i.toLong, unit(r), r.nextInt(10)))
  }

  /** The serve workloads' query vector (the stand-in for the encoder). */
  def queryVec(seed: Long): Array[Float] = unit(new java.util.SplittableRandom(seed * 31 + 3))

  /** Distinct `top_k` values in a request stream. `Agent.run` caches
    * each request's citations under a plan that differs between requests
    * only in `top_k` (the query vector is fixed when the server starts),
    * so a repeated `top_k` would be answered from that cache. With a
    * real encoder every request's vector differs; distinct `top_k`
    * values give every request of a run a first-seen plan, as there. */
  val TopKRange = 400

  /** `n` requests: plain questions are 3-8 vocabulary words (no graph
    * cue); graph-cue questions name two entity words. `graphEvery` = k
    * makes every k-th request a graph-cue one (0 = none), so every
    * window of the stream carries the same mix. `top_k` runs through a
    * seeded permutation of 1..[[TopKRange]] and repeats only after it. */
  def requests(seed: Long, n: Int, graphEvery: Int): IndexedSeq[Request] = {
    val r = new java.util.SplittableRandom(seed * 31 + 4)
    val topKs = new scala.util.Random(r.nextLong()).shuffle((1 to TopKRange).toIndexedSeq)
    def word(ws: IndexedSeq[String]) = ws(r.nextInt(ws.size))
    val templates = IndexedSeq(
      (a: String, b: String) => s"how is $a related to $b",
      (a: String, b: String) => s"what is connected to $a and $b",
      (a: String, b: String) => s"show the graph around $a and $b",
      (a: String, b: String) => s"relationship between $a and $b")
    (0 until n).map { i =>
      val topK = topKs(i % TopKRange)
      if (graphEvery > 0 && i % graphEvery == graphEvery - 1) {
        val t = templates(r.nextInt(templates.size))
        Request(t(word(EntityWords), word(EntityWords)), topK, graph = true)
      } else {
        val q = Seq.fill(3 + r.nextInt(6))(word(Vocab)).mkString(" ")
        Request(q, topK, graph = false)
      }
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def docsFrame(spark: SparkSession, ds: Array[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ds.toSeq.map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4),
      docSchema)

  def vecsFrame(spark: SparkSession, vs: Array[Vec]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vs.toSeq.map(v =>
        Row(v.id, v.v.toSeq, v.label)), 4),
      vecSchema)

  /** Write `documents` and `embeddings` into `dir` (loadable with
    * `graft.Tables.load`), `files` parquet files per table. */
  def writeCorpus(spark: SparkSession, dir: String, ds: Array[Doc], vs: Array[Vec],
                  files: Int = InputFiles): Unit = {
    docsFrame(spark, ds).coalesce(files).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecsFrame(spark, vs).coalesce(files).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Files per generated table: one per core, so a scan is not a
    * single task (the sf fixtures' single row group is a fixture
    * artifact, not the shape of a real corpus). */
  val InputFiles = 4
}
