package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class RunSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    assert(Gen.docs(5, 200).toSeq == Gen.docs(5, 200).toSeq)
    assert(Gen.vecs(5, 50).map(_.v.toSeq).toSeq == Gen.vecs(5, 50).map(_.v.toSeq).toSeq)
    assert(Gen.requests(5, 100, 2) == Gen.requests(5, 100, 2))
    assert(Gen.docs(5, 200).map(_.text).toSeq != Gen.docs(6, 200).map(_.text).toSeq)
  }

  test("generated corpus keeps the fixture's shape") {
    val ds = Gen.docs(1, 5000)
    val words = ds.map(_.text.split(" ").count(_ != "dup"))
    assert(words.min >= 10 && words.max <= 100)
    assert(ds.count(_.text.endsWith(" dup")) == 250)
    assert(ds.flatMap(_.text.split(" ")).toSet == (Gen.Vocab :+ "dup").toSet)
    assert(Gen.vecs(1, 10).forall(v => math.abs(v.v.map(x => x * x).sum - 1.0) < 1e-5))
  }

  test("graph-cue requests come every k-th request and only then") {
    val rs = Gen.requests(9, 100, 2)
    assert(rs.count(_.graph) == 50)
    assert(rs.forall(r => graft.query.Agent.isGraphQuery(r.question) == r.graph))
    assert(Gen.requests(9, 100, 0).forall(!_.graph))
  }

  test("top_k values do not repeat within a run's stream") {
    val ks = Gen.requests(4, Gen.TopKRange, 4).map(_.topK)
    assert(ks.distinct.size == Gen.TopKRange && ks.min == 1 && ks.max == Gen.TopKRange)
  }

  test("quantiles interpolate linearly") {
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("BENCHMARK.json lists the workloads and metrics the benchmark reports") {
    val file = Paths.get("..", "BENCHMARK.json")
    assume(Files.exists(file), "BENCHMARK.json not found next to perfbench/")
    val b = Json.parse(Files.readString(file))
    val workloads = b.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(workloads.forall(Main.Workloads.contains))
    def metrics(key: String) = b.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(metrics("end_to_end") == Metrics.EndToEnd.toSeq)
    assert(metrics("per_layer") == Metrics.PerLayer.toSeq)
  }
}
