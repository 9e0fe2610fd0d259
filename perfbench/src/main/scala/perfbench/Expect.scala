package perfbench

/** Expected answers computed in plain Scala from the generated inputs,
  * independent of Spark: the served chunk corpus, a brute-force top-k
  * over it, the summarized context, and the ingest row counts.
  *
  * The rules mirror the reference contract the engine implements:
  * papers keep documents of >= 30 whitespace words; a body is cut into
  * 200-word windows at stride 170, windows under 30 words dropped;
  * chunk ids are `doc_%06d_body_c%03d`; a chunk takes the vector whose
  * `vec_id` equals its document id; an entity is a token of >= 3
  * characters after edge stripping that is not a stopword.
  */
object Expect {

  final case class Chunk(chunkId: String, paperId: String, docId: Long,
                         text: String, vec: Option[Array[Float]]) {
    def title: String = s"Document $docId"
  }

  /** One expected citation: chunk id, score as served (4 decimals). */
  final case class Hit(chunkId: String, score: Double, block: String)

  private val MinBodyWords = 30
  private val Size = 200
  private val Stride = 170
  private val MinWords = 30

  private def words(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  def chunks(docs: Array[Doc], vecs: Array[Vec]): IndexedSeq[Chunk] = {
    val byId = vecs.map(v => v.id -> v.v).toMap
    docs.toIndexedSeq.flatMap { d =>
      val w = words(d.text)
      if (w.length < MinBodyWords) Nil
      else {
        val pid = f"doc_${d.id}%06d"
        Iterator.from(0).map(_ * Stride)
          .takeWhile(s => s == 0 || s + (Size - Stride) < w.length)
          .zipWithIndex
          .collect { case (s, ord) if math.min(w.length - s, Size) >= MinWords =>
            Chunk(f"${pid}_body_c$ord%03d", pid, d.id,
              w.slice(s, s + Size).mkString(" "), byId.get(d.id))
          }.toSeq
      }
    }
  }

  /** The engine's float-array cosine: products and sums in double,
    * left to right; a zero norm scores 0. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i).toDouble; i += 1
    }
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  def round(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every chunk with a vector, best first (raw cosine desc, chunk id). */
  def ranking(chunks: IndexedSeq[Chunk], q: Array[Float]): IndexedSeq[Hit] =
    chunks.flatMap(c => c.vec.map(v => (c, cosine(v, q))))
      .sortBy { case (c, s) => (-s, c.chunkId) }
      .map { case (c, s) =>
        Hit(c.chunkId, round(s, 4), s"${c.title} | body\n${c.text}")
      }

  /** Citations `/query` must return for `topK`: the first
    * min(topK, 5) of the ranking. */
  def citations(ranking: IndexedSeq[Hit], topK: Int): IndexedSeq[Hit] =
    ranking.take(math.min(topK, 5))

  /** The summarized context: `[i] title | section\ntext` blocks in
    * (served score desc, chunk id) order, joined by blank lines. */
  def answer(cits: IndexedSeq[Hit]): String =
    if (cits.isEmpty) "I'm sorry, I could not find relevant context to answer that."
    else cits.sortBy(h => (-h.score, h.chunkId)).zipWithIndex
      .map { case (h, i) => s"[${i + 1}] ${h.block}" }.mkString("\n\n")

  /** `round(top score, 3)` exactly as `/query` computes it. */
  def confidence(cits: IndexedSeq[Hit]): Double =
    math.round(cits.map(_.score).foldLeft(0.0)(math.max) * 1000).toDouble / 1000

  private def entity(token: String): Option[String] = {
    val name = token.replaceAll("^[^A-Za-z0-9]+|[^A-Za-z0-9]+$", "")
    val norm = name.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll("\\s+", " ").trim
    if (name.length >= 3 && norm.nonEmpty && norm.exists(_.isLetter) &&
        !graft.ops.Entities.stopwords.contains(norm)) Some(norm)
    else None
  }

  /** Row counts of the five ingest outputs. */
  def ingestCounts(chunks: IndexedSeq[Chunk]): Map[String, Long] = {
    val ents = chunks.map(c => c -> words(c.text).flatMap(entity).toSeq)
    val edges = ents.flatMap { case (c, es) =>
      val d = es.distinct.sorted
      for (i <- d.indices; j <- i + 1 until d.size) yield (d(i), d(j), c.paperId)
    }.distinct
    Map(
      "papers" -> chunks.map(_.paperId).distinct.size.toLong,
      "chunks" -> chunks.size.toLong,
      "chunk_entity_map" -> ents.map(_._2.size.toLong).sum,
      "knowledge_nodes" -> ents.flatMap(_._2).distinct.size.toLong,
      "knowledge_edges" -> edges.size.toLong)
  }
}
