package perfbench

import com.fasterxml.jackson.databind.JsonNode

/** Output checks. Each returns the problems it found; an empty result
  * means the output is correct. Every problem counts as one failed
  * operation in the run's `failed` total. */
object Checks {

  /** One `/query` response against the plain-Scala expectation. */
  def response(req: Request, status: Int, body: String,
               expected: IndexedSeq[Expect.Hit]): Seq[String] = {
    if (status != 200) return Seq(s"status $status for ${req.json}")
    val node = try Json.parse(body) catch { case e: Exception => null }
    if (node == null || !node.isObject) return Seq(s"unparseable body for ${req.json}")
    val problems = Seq.newBuilder[String]
    val cits = Option(node.get("citations")).filter(_.isArray)
    val got = cits.map(a => (0 until a.size).map(a.get)).getOrElse(IndexedSeq.empty[JsonNode])
    if (got.size > math.min(req.topK, 5))
      problems += s"${got.size} citations for top_k=${req.topK}"
    val gotIds = got.map(c => Option(c.get("chunk_id")).map(_.asText).orNull)
    val gotScores = got.map(c => Option(c.get("score")).map(_.asDouble).getOrElse(Double.NaN))
    if (gotIds != expected.map(_.chunkId))
      problems += s"citations ${gotIds.mkString(",")} != brute force ${expected.map(_.chunkId).mkString(",")}"
    else if (gotScores != expected.map(_.score))
      problems += s"scores ${gotScores.mkString(",")} != brute force ${expected.map(_.score).mkString(",")}"
    val top = gotScores.filterNot(_.isNaN).foldLeft(0.0)(math.max)
    val conf = Option(node.get("confidence")).map(_.asDouble).getOrElse(Double.NaN)
    if (conf != math.round(top * 1000).toDouble / 1000)
      problems += s"confidence $conf != round(top score $top, 3)"
    if (Option(node.get("answer")).map(_.asText).orNull != Expect.answer(expected))
      problems += s"answer differs from the summarized brute-force context"
    val tools = Option(node.get("tools_used")).map(_.asText.split(",").toSeq).getOrElse(Nil)
    if (req.graph != tools.contains("search_knowledge_graph"))
      problems += s"tools_used '${tools.mkString(",")}' for graph=${req.graph}"
    problems.result()
  }

  /** History sinks after a logged run: one history row and one
    * eval_metrics row per `/query` call; `/reset` empties both. */
  def sinks(calls: Long, history: Long, evals: Long,
            historyAfterReset: Long, evalsAfterReset: Long): Seq[String] =
    Seq(
      Option.when(history != calls)(s"history rows $history != /query calls $calls"),
      Option.when(evals != calls)(s"eval_metrics rows $evals != /query calls $calls"),
      Option.when(historyAfterReset != 0 || evalsAfterReset != 0)(
        s"after /reset: history $historyAfterReset, eval_metrics $evalsAfterReset rows")
    ).flatten

  /** Row counts against the expectation (missing tables count too). */
  def counts(got: Map[String, Long], expected: Map[String, Long]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (t, n) if !got.get(t).contains(n) =>
        s"$t: ${got.get(t).map(_.toString).getOrElse("missing")} rows, expected $n"
    }

  /** Digests (row count, content hash) of two passes over the same
    * input must agree table by table. */
  def sameDigests(first: Map[String, (Long, Long)],
                  again: Map[String, (Long, Long)]): Seq[String] =
    (first.keySet ++ again.keySet).toSeq.sorted.collect {
      case t if first.get(t) != again.get(t) =>
        s"$t: digest ${first.get(t)} then ${again.get(t)}"
    }
}
