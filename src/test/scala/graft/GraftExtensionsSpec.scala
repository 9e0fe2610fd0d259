package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.BloomContains

/** The one extension list reaches pure SQL the same way in both
  * session kinds: a `withExtensions(new GraftExtensions)` session, and
  * the bare shared session after `GraftExtensions.install`.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** A fresh session on the shared SparkContext with the extensions
    * applied. getOrCreate would return the active session (without
    * the extensions); clearing forces a new one. */
  private lazy val extended: SparkSession = {
    spark.sparkContext // make sure the shared context exists first
    val prev = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach { p =>
        SparkSession.setActiveSession(p)
        SparkSession.setDefaultSession(p)
      }
    }
  }

  private lazy val installed: SparkSession = { GraftExtensions.install(spark); spark }

  private def bothSessions(body: SparkSession => Unit): Unit =
    Seq("withExtensions" -> extended, "install" -> installed).foreach { case (kind, s) =>
      withClue(s"[$kind session] ")(body(s))
    }

  private val bloomHex: String = {
    val bf = BloomFilter.create(100, 0.01)
    bf.putLong(5L)
    BloomContains.serialize(bf).map(b => f"$b%02X").mkString
  }

  /** One pure-SQL call per listed function, checked against a known
    * answer. */
  private val samples: Map[String, SparkSession => Unit] = Map(
    "graft_dot" -> (s => assert(s.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head.getDouble(0) == 11.0)),
    "graft_l2norm" -> (s => assert(s.sql(
      "SELECT graft_l2norm(array(3.0D, 4.0D))").head.getDouble(0) == 5.0)),
    "graft_vector_sum" -> (s => assert(s.sql(
      "SELECT graft_vector_sum(v) FROM VALUES (array(1.0D)), (array(2.0D)) t(v)")
      .head.getSeq[Double](0) == Seq(3.0))),
    "graft_simhash" -> { s =>
      // every row hashes to 0b11: bits 0 and 1 win the vote, the rest lose
      val r = s.sql("SELECT graft_simhash(h), graft_simhash(h, 8) " +
        "FROM VALUES (3L), (3L) t(h)").head
      assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    },
    "graft_heavy_hitters" -> (s => assert(s.sql(
      "SELECT graft_heavy_hitters(w, 2) FROM VALUES ('a'), ('a'), ('b') t(w)")
      .head.getSeq[String](0) == Seq("a", "b"))),
    "graft_bloom_contains" -> (s => assert(s.sql(
      s"SELECT graft_bloom_contains(5L, X'$bloomHex')").head.getBoolean(0))),
    "graft_bloom_agg" -> { s =>
      val bytes = s.sql("SELECT graft_bloom_agg(h, 100L, 1024L) FROM VALUES (5L) t(h)")
        .head.getAs[Array[Byte]](0)
      assert(BloomContains.deserialize(bytes).mightContainLong(5L))
    },
    "graft_hash60" -> (s => assert(s.sql(
      "SELECT graft_hash60('abc') = CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT)")
      .head.getBoolean(0))),
    "graft_nfc" -> (s => assert(s.sql(
      "SELECT graft_nfc('e\u0301')").head.getString(0) == "\u00e9")),
    "chunk_windows" -> { s =>
      // 5 words, size 2, overlap 1: windows start at 0..3
      assert(s.sql("SELECT chunk_windows('w1 w2 w3 w4 w5', 'body', 2, 1, 1)").count() == 4)
      assert(s.sql("SELECT chunk_windows('w1 w2 w3 w4 w5', 2, 1, 1)").count() == 4)
    })

  test("every listed function has a pure-SQL sample") {
    assert(samples.keySet == GraftExtensions.functionNames.toSet)
  }

  test("functions usable from pure SQL in an extended session") {
    GraftExtensions.functionNames.foreach(n => withClue(s"$n: ")(samples(n)(extended)))
  }

  test("functions usable from pure SQL in a bare session after install") {
    GraftExtensions.functionNames.foreach(n => withClue(s"$n: ")(samples(n)(installed)))
  }

  test("wrong arity is rejected with a message naming the function") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    bothSessions { s =>
      for (n <- GraftExtensions.functionNames; args <- Seq("", "1, 1, 1, 1, 1, 1")) {
        val e = intercept[Exception](s.sql(s"SELECT $n($args)").collect())
        assert(messages(e).contains(s"$n expects"), messages(e))
      }
    }
  }

  test("rules and strategies are present once after two installs") {
    bothSessions { s =>
      GraftExtensions.install(s)
      GraftExtensions.install(s)
      val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
        s.experimental.extraOptimizations
      GraftExtensions.rules.foreach(r => assert(rules.count(_ eq r) == 1, r.ruleName))
      val strategies = s.sessionState.planner.strategies
      GraftExtensions.strategies.foreach(st => assert(strategies.count(_ eq st) == 1, st))
    }
  }
}
