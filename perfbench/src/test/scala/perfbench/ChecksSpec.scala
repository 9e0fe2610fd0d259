package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts the right answer and rejects a wrong one. */
class ChecksSpec extends AnyFunSuite {

  private val docs = Gen.docs(3, 300)
  private val vecs = Gen.vecs(3, 120)
  private val ranking = Expect.ranking(Expect.chunks(docs, vecs), Gen.queryVec(3))
  private val plain = Request("spark join table", 7, graph = false)
  private val graph = Request("how is spark related to join", 3, graph = true)

  /** A response exactly as `/query` should serve `req`. */
  private def served(req: Request): ObjectNode = {
    val cits = Expect.citations(ranking, req.topK)
    val node = Json.mapper.createObjectNode()
    node.put("answer", Expect.answer(cits))
    val arr = node.putArray("citations")
    cits.foreach { h =>
      val c = arr.addObject()
      c.put("chunk_id", h.chunkId)
      c.put("score", h.score)
    }
    node.put("confidence", Expect.confidence(cits))
    node.put("tools_used",
      ((if (req.graph) Seq("search_knowledge_graph") else Nil) ++
        Seq("search_papers", "summarize_context")).mkString(","))
    node
  }

  private def check(req: Request, node: ObjectNode, status: Int = 200) =
    Checks.response(req, status, node.toString, Expect.citations(ranking, req.topK))

  test("a correct response passes") {
    assert(check(plain, served(plain)).isEmpty)
    assert(check(graph, served(graph)).isEmpty)
  }

  test("a non-200 status or an unparseable body fails") {
    assert(check(plain, served(plain), status = 500).nonEmpty)
    assert(Checks.response(plain, 200, "not json", Expect.citations(ranking, 7)).nonEmpty)
  }

  test("more than min(top_k, 5) citations fails") {
    val n = served(plain)
    n.withArray("citations").addObject().put("chunk_id", "doc_999999_body_c000")
    assert(check(plain, n).exists(_.contains("citations")))
  }

  test("a citation that is not the brute-force top-k fails") {
    val n = served(plain)
    n.withArray("citations").get(1).asInstanceOf[ObjectNode]
      .put("chunk_id", ranking(7).chunkId)
    assert(check(plain, n).exists(_.contains("brute force")))
  }

  test("a citation score that differs from brute force fails") {
    val n = served(plain)
    val c = n.withArray("citations").get(2).asInstanceOf[ObjectNode]
    c.put("score", c.get("score").asDouble - 0.0001)
    assert(check(plain, n).exists(_.contains("scores")))
  }

  test("confidence other than round(top score, 3) fails") {
    val n = served(plain)
    n.put("confidence", n.get("confidence").asDouble + 0.001)
    assert(check(plain, n).exists(_.contains("confidence")))
  }

  test("an answer other than the summarized context fails") {
    val n = served(plain)
    n.put("answer", n.get("answer").asText.replace("[2]", "[3]"))
    assert(check(plain, n).exists(_.contains("answer")))
  }

  test("graph-cue requests must list the knowledge-graph tool, plain ones must not") {
    assert(check(graph, served(plain).put("tools_used", "search_papers,summarize_context"))
      .exists(_.contains("tools_used")))
    assert(check(plain, served(graph)).exists(_.contains("tools_used")))
  }

  test("sink rows must match /query calls and /reset must empty them") {
    assert(Checks.sinks(40, 40, 40, 0, 0).isEmpty)
    assert(Checks.sinks(40, 39, 40, 0, 0).nonEmpty)
    assert(Checks.sinks(40, 40, 41, 0, 0).nonEmpty)
    assert(Checks.sinks(40, 40, 40, 0, 3).nonEmpty)
  }

  test("row counts must match the expectation, table by table") {
    val want = Map("papers" -> 10L, "chunks" -> 12L)
    assert(Checks.counts(want, want).isEmpty)
    assert(Checks.counts(want.updated("chunks", 11L), want).nonEmpty)
    assert(Checks.counts(want - "papers", want).nonEmpty)
  }

  test("digests of two passes must agree") {
    val d = Map("papers" -> (10L, 77L), "chunks" -> (12L, 5L))
    assert(Checks.sameDigests(d, d).isEmpty)
    assert(Checks.sameDigests(d, d.updated("chunks", (12L, 6L))).nonEmpty)
    assert(Checks.sameDigests(d, d - "chunks").nonEmpty)
  }
}
