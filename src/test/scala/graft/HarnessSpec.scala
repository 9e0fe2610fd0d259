package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}
import graft.obs.{Failure, QueryCounters}

/** The mains' shared harness: the session factory and query selector,
  * the per-query counters Bench reports, and the one failure
  * description. */
class HarnessSpec extends SparkSpec {

  test("SPARK_GRAFT_ONLY selects by name or name prefix; unset or empty selects all") {
    val sel = Session.only(Some(" q1_pricing_summary, k7 ,")).get
    assert(sel("q1_pricing_summary") && sel("k7_search_chunks") && sel("k70_x"))
    assert(!sel("q10_x") && !sel("v7_knn_ivf_learned"))
    assert(Session.only(None).isEmpty)
    assert(Session.only(Some(" , ")).isEmpty)
  }

  test("only graft/Session.scala builds a session in src/main; no main sleeps for listener events") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    // code only: block and line comments stripped
    def code(f: java.nio.file.Path) = java.nio.file.Files.readString(f)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val builders = files.filter(f => "SparkSession\\s*\\.\\s*builder\\b".r.findFirstIn(code(f)).isDefined)
    assert(builders.map(_.toString) == Seq("src/main/scala/graft/Session.scala"))
    val sleepingMains = files.filter { f =>
      val c = code(f)
      c.contains("def main(") && c.contains("Thread.sleep")
    }
    assert(sleepingMains.isEmpty, s"mains that sleep: $sleepingMains")
  }

  test("QueryCounters: two warm runs of a fixed query report identical jobs, stages and exchanges") {
    val q = SparkEntry.queries("q1_pricing_summary")
    def run(): Unit = q(spark, Sf0001).write.mode("overwrite").format("noop").save()
    val counters = QueryCounters.install(spark)
    try {
      run() // warm-up
      val measured = (1 to 2).map { _ =>
        counters.reset()
        run()
        counters.read()
      }
      assert(measured.forall(_.keys.toSeq == QueryCounters.Keys))
      val Seq(a, b) = measured.map(m => Seq("jobs", "stages", "exchanges").map(m))
      assert(a == b, s"runs differ: ${measured.mkString(" vs ")}")
      assert(a.forall(_ > 0), s"a counter reads 0: ${measured.head}")
      assert(measured.forall(_("tasks") > 0))
    } finally counters.close()
  }

  test("Failure.describe reports a task's UDF exception, not its SparkException wrapper") {
    val boom = udf((x: Long) => {
      if (x >= 0) throw new IllegalStateException(s"boom at row $x\nsecond line")
      x
    })
    val e = intercept[Exception](spark.range(1).select(boom(col("id"))).collect())
    assert(e.isInstanceOf[org.apache.spark.SparkException])
    val d = Failure.describe(e)
    assert(d.startsWith("java.lang.IllegalStateException: boom at row 0 at graft.HarnessSpec"), d)
    assert(!d.contains("SparkException") && !d.contains("second line"), d)
  }
}
