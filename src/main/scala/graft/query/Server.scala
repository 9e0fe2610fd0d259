package graft.query

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Column

/** Minimal HTTP serving surface over [[Agent.run]] — the reference's
  * FastAPI backend re-expressed on the JDK's built-in server (no new
  * dependencies; serving is orchestration, not engine compute, so a
  * thin adapter is the whole job):
  *
  *  - `POST /query` (backend/app.py:75-110): JSON `{question, top_k?}`
  *    → `{answer, citations, confidence, retrieval_mode, latency_ms}`,
  *    confidence = round(top citation score, 3) (backend/app.py:96),
  *    `retrieval_mode = "agentic"` (:104);
  *  - `POST /reset` (backend/app.py:112-119): clears the history /
  *    eval-metrics sinks, `{status: "ok"}`;
  *  - `GET /papers` (backend/app.py:122-136): the `SELECT *` table
  *    dump as a JSON array. (The reference handler's blocking
  *    `input()` call is a documented bug, not replicated —
  *    docs/AGENT_ARCHITECTURE_ANALYSIS.md:52.)
  *
  * Scale note: the server holds only a [[Agent.Corpus]] of DataFrames
  * — every request runs one search job against the (cached) corpus
  * (plus the graph tool's jobs for a graph-cue question), so the same
  * handler works unchanged whether the session is local[32] or a
  * 1000-executor cluster. The driver holds at most 5 citation rows
  * per in-flight request; the response and sink lines are serialized
  * from those rows with no further Spark job, and no driver-side
  * corpus copy exists beyond the corpus cache its builder pinned.
  */
object Server {

  case class Handle(server: HttpServer, port: Int) {
    def stop(): Unit = {
      server.stop(0)
      // the pool's threads are non-daemon — shut them down or the
      // JVM outlives the server
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService => e.shutdown()
        case _ =>
      }
    }
  }

  private val mapper = new ObjectMapper()

  /** Start serving `corpus` on `port` (0 = ephemeral; read the actual
    * port from the returned handle). `queryVec` stands in for the
    * external encoder exactly as in [[Agent.run]]. */
  def start(corpus: Agent.Corpus, queryVec: Column, port: Int = 0,
            historyDir: Option[String] = None): Handle = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // Orders sink appends against /reset, so /reset never deletes a
    // directory under an in-flight append. Appends need no mutual
    // exclusion (each writes its own uniquely named file), and the
    // lock covers only the file writes: Agent.run and the JSON
    // serialization of the sink lines happen outside it.
    val sinkLock = new Object

    server.createContext("/query", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestMethod != "POST") (405, err("POST required"))
      else parseBody(ex) match {
        case Left(msg) => (400, err(msg))
        case Right(body) =>
          val qNode = body.get("question")
          val kNode = Option(body.get("top_k"))
          if (qNode == null || !qNode.isTextual || qNode.asText.trim.isEmpty)
            (400, err("missing 'question'"))
          // validate, don't coerce: a non-integral, non-positive, or
          // out-of-int-range top_k is a caller bug — 400, never a
          // silent default/truncation or a planner 500
          else if (kNode.exists(k => !k.canConvertToExactIntegral ||
              !k.canConvertToInt || k.asInt < 1))
            (400, err("'top_k' must be a positive integer"))
          else {
            val topK = kNode.map(_.asInt).getOrElse(5)
            val res = Agent.run(corpus, qNode.asText, queryVec,
              topK = topK, historyDir = None)
            historyDir.foreach { dir =>
              val spark = corpus.chunksV.sparkSession
              val lines = Agent.sinkLines(spark, qNode.asText, res)
              sinkLock.synchronized(Agent.appendSinks(spark, dir, lines))
            }
            (200, queryResponse(res))
          }
      }
    })

    server.createContext("/reset", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestMethod != "POST") (405, err("POST required"))
      else {
        historyDir.foreach { dir =>
          sinkLock.synchronized {
            Seq("history", "eval_metrics").foreach(sub =>
              deleteRecursively(new java.io.File(dir, sub)))
          }
        }
        val node = mapper.createObjectNode()
        node.put("status", "ok")
        (200, node)
      }
    })

    server.createContext("/papers", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestMethod != "GET") (405, err("GET required"))
      else {
        // the reference's SELECT * dump (backend/app.py:122-136) is
        // corpus-bounded there; here the dump is LIMIT-guarded so the
        // HTTP surface carries no unbounded driver-side collect at
        // any corpus size — `?limit=` (default and cap 1000, the
        // corpus contract). Two pagination modes, both bounded:
        //  - KEYSET (`?after=<paper_id>`): the scale path — one
        //    pushed-down range filter + limit, collect is always
        //    ≤ limit rows no matter how deep the walk goes;
        //  - `?offset=` for small skips, REFUSED past offset+limit
        //    10k (a 400 naming the keyset cursor) so a deep offset
        //    can neither collect toward the whole corpus nor silently
        //    re-serve a clamped page — the response order is
        //    paper_id, so the last row's id is the next `after`.
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v
          }.toMap
        val limit = math.min(
          params.get("limit").flatMap(_.toIntOption).getOrElse(1000), 1000)
          .max(0)
        val offset = params.get("offset").flatMap(_.toIntOption)
          .getOrElse(0).max(0)
        // REFUSE a deep offset instead of silently clamping it — a
        // clamped response re-serves the cap page, which corrupts any
        // offset-walking client with duplicates it cannot detect; the
        // 400 names the keyset cursor as the deep-walk path
        val after = params.get("after")
        // the guard applies to the OFFSET path only — a keyset
        // request never uses offset, so refusing it would 400 a
        // client already doing the right thing. Long arithmetic:
        // offset near Int.Max must not overflow past the guard.
        if (after.isEmpty && offset.toLong + limit > 10000L)
          (400, err(s"offset+limit ${offset.toLong + limit} exceeds " +
            "10000 — use keyset pagination (?after=<last paper_id>)"))
        else {
          val pidCol = org.apache.spark.sql.functions.col("paper_id")
          val arr = mapper.createArrayNode()
          val page = after match {
            case Some(a) =>
              corpus.papers.filter(pidCol > a).orderBy(pidCol).limit(limit)
                .toJSON.collect()
            case None =>
              corpus.papers.orderBy(pidCol).limit(offset + limit)
                .toJSON.collect().drop(offset)
          }
          page.foreach(s => arr.add(mapper.readTree(s)))
          (200, arr)
        }
      }
    })

    // a small pool, not the dispatch thread: one slow /query (Spark
    // jobs) must not block /reset and /papers for every other client
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    Handle(server, server.getAddress.getPort)
  }

  /** One response envelope for every handler: run `body`, write the
    * JSON + status it returns; any throw becomes a 500 with the
    * message in `{error}` rather than a dropped connection. */
  private def handle(ex: HttpExchange)(body: => (Int, JsonNode)): Unit = {
    val (status, node) =
      try body
      catch { case e: Throwable => (500, err(e.toString.take(500))) }
    val bytes = mapper.writeValueAsBytes(node)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    try ex.getResponseBody.write(bytes)
    finally ex.close()
  }

  private def err(msg: String): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("error", msg)
    node
  }

  private def parseBody(ex: HttpExchange): Either[String, JsonNode] =
    try {
      val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val node = mapper.readTree(raw)
      if (node == null || !node.isObject) Left("body must be a JSON object")
      else Right(node)
    } catch { case e: Exception => Left(s"malformed JSON: ${e.getMessage}") }

  /** backend/app.py:100-110's response shape. Citations carry the
    * search projection (chunk/paper ids, title, section, text,
    * score — tools.py:79-86) straight from the result's driver-local
    * citation rows. */
  private def queryResponse(res: Agent.AgentResult): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("answer", res.answer)
    val cits: ArrayNode = node.putArray("citations")
    graft.sources.Sources.jsonLines(res.citations).foreach(s => cits.add(mapper.readTree(s)))
    val confidence = {
      var best = 0.0
      val it = cits.elements()
      while (it.hasNext) {
        val sc = it.next().get("score")
        if (sc != null && sc.isNumber) best = math.max(best, sc.asDouble)
      }
      math.round(best * 1000).toDouble / 1000 // round(conf, 3), app.py:96
    }
    node.put("confidence", confidence)
    node.put("retrieval_mode", "agentic")
    node.put("tools_used", res.toolsUsed.mkString(","))
    node.put("steps", res.steps)
    node.put("latency_ms", res.latencyMs)
    node
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // listFiles is null for a dir removed underneath us
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
