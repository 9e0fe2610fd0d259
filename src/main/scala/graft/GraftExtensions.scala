package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions._
import graft.plans.{FuseDotProduct, GlobalIndexStrategy, HiddenPartitionRule, MvRewrite, TopKPerKeyStrategy}

/** SparkSessionExtensions entry point: makes the engine's custom
  * Catalyst functions, optimizer rules and planner strategies
  * available to ANY session — including pure `spark.sql` users — via
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * The list itself lives in the companion; [[GraftExtensions.install]]
  * applies the same list to an already-built session. The Column
  * helpers (`VectorOps.dot`, `TextFns.hash60`, ...) build their
  * expressions directly and need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach(f => ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder _)))
    rules.foreach(r => ext.injectOptimizerRule(_ => r))
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

/** The engine's one extension list. */
object GraftExtensions {

  /** One SQL function: its name, usage line, accepted argument
    * counts, and the builder it runs once the count is checked. */
  private final case class Fn(name: String, usage: String, arities: Set[Int],
                              build: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")
    def builder(exprs: Seq[Expression]): Expression = {
      if (!arities.contains(exprs.length))
        throw new IllegalArgumentException(
          s"$name expects ${arities.toSeq.sorted.mkString(" or ")} argument(s), " +
            s"got ${exprs.length}")
      build(exprs)
    }
  }

  /** A literal (foldable) integer argument; a column reference there is
    * rejected at analysis time with a clear error instead of an NPE or
    * an arbitrary value. */
  private def intArg(fn: String, arg: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a literal (foldable) integer, " +
          s"got non-foldable expression ${e.sql}")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal, got $other")
    }
  }

  private val functions: Seq[Fn] = Seq(
    Fn("graft_dot", "graft_dot(a, b) - codegen'd dot product of two numeric arrays",
      Set(2), e => DotProduct(e(0), e(1))),
    Fn("graft_l2norm", "graft_l2norm(a) - L2 norm of a numeric array",
      Set(1), e => L2Norm(e(0))),
    Fn("graft_vector_sum", "graft_vector_sum(v) - element-wise vector sum aggregate",
      Set(1), e => VectorSumAgg(e(0)).toAggregateExpression()),
    Fn("graft_simhash",
      "graft_simhash(token_hash[, bits]) - SimHash aggregate over 64-bit token hashes",
      Set(1, 2), e => SimHashAgg(e(0),
        if (e.length == 2) intArg("graft_simhash", "bits", e(1)) else 32)
        .toAggregateExpression()),
    Fn("graft_heavy_hitters",
      "graft_heavy_hitters(term, k) - Misra-Gries heavy-hitter candidate aggregate (array<string>)",
      Set(2), e => HeavyHittersAgg(e(0), intArg("graft_heavy_hitters", "k", e(1)))
        .toAggregateExpression()),
    Fn("graft_bloom_contains",
      "graft_bloom_contains(value, filter_bytes) - Bloom-filter membership probe over a BIGINT hash",
      Set(2), BloomContains.build),
    Fn("graft_bloom_agg",
      "graft_bloom_agg(value, est_items, num_bits) - one serialized Bloom filter per group",
      Set(3), e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    Fn("graft_hash60", "graft_hash60(s) - first 60 bits of md5(s) as a non-negative BIGINT",
      Set(1), e => Hash60(e(0))),
    Fn("graft_nfc", "graft_nfc(s) - Unicode NFC canonical-composition normalization",
      Set(1), e => NfcNormalize(e(0))),
    // The 4-arg form treats every row as a non-abstract section; the
    // 5-arg form applies the whole-section rule where
    // `section = 'abstract'`.
    Fn("chunk_windows",
      "chunk_windows(text[, section], size, overlap, min_words) - sliding-window chunk rows",
      Set(4, 5), e => {
        val (text, section, n) =
          if (e.length == 4) (e(0), Literal(""), 1) else (e(0), e(1), 2)
        def int(i: Int, arg: String) = intArg("chunk_windows", arg, e(n + i))
        ChunkGenerator(text, section, int(0, "size"), int(1, "overlap"), int(2, "min_words"))
      }))

  /** Every SQL function name on the list. */
  val functionNames: Seq[String] = functions.map(_.name)

  /** Optimizer rules. FuseDotProduct: users writing the portable HOF
    * dot product get the fused codegen'd expression. MvRewrite:
    * registered materialized views answer matching aggregates over
    * their fact table (no-op while the MV catalog is empty).
    * HiddenPartitionRule: source-column filters on a hidden-
    * partitioned table prune its partition directories (no-op while
    * no table is registered). */
  val rules: Seq[Rule[LogicalPlan]] = Seq(FuseDotProduct, MvRewrite, HiddenPartitionRule)

  /** Physical strategies for the TopKPerKey (bounded per-key heaps
    * instead of a per-group sort) and GlobalIndexPlan (Tungsten-native
    * dense global row numbering) logical operators. */
  val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy, GlobalIndexStrategy)

  /** ONE lock for every installation: the read-modify-write of the
    * session's experimental rule and strategy vars must not race
    * another install (a lost update could silently drop an entry). */
  private val lock = new Object

  /** Idempotently apply the list to an already-built session. Entries
    * the session already has — through `withExtensions` or an earlier
    * install — are left as they are, so each appears once. Installed
    * rules run in the "User Provided Optimizers" batch, after view
    * inlining, project collapse and column pruning. */
  def install(spark: SparkSession): Unit = lock.synchronized {
    val st = spark.sessionState
    for (f <- functions if !st.functionRegistry.functionExists(FunctionIdentifier(f.name)))
      st.functionRegistry.registerFunction(FunctionIdentifier(f.name), f.info, f.builder _)
    val x = spark.experimental
    val haveRules = st.optimizer.extendedOperatorOptimizationRules ++ x.extraOptimizations
    x.extraOptimizations ++= rules.filterNot(r => haveRules.exists(_ eq r))
    val haveStrategies = st.planner.strategies
    x.extraStrategies ++= strategies.filterNot(s => haveStrategies.exists(_ eq s))
  }
}
